"""Spans and Spark counters for the benchmark's traced runs.

Spans are recorded only from the benchmark's own files: around the calls
it makes into each layer, and around public methods of the store and
view-manager instances it owns (rebound on the instance, so the library
is not modified). Each span notes the Spark job-id watermark at its start
and end. The benchmark runs one operation at a time, so the jobs an
operation launched are exactly the ids between its watermarks -- this also
catches jobs started from library thread pools, which a job group would
miss. Stage and task figures come from Spark's status REST API on the
local UI, read after the operation's timer has stopped.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import threading
import time
import urllib.request

_FINAL_JOB = ("SUCCEEDED", "FAILED")
_FINAL_STAGE = ("COMPLETE", "SKIPPED", "FAILED")


class Tracer:
    """In-memory span recorder; spans may open in worker threads."""

    def __init__(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._local = threading.local()
        self._lock = threading.Lock()
        #: [name, start_s, end_s, parent_index, job_lo, job_hi]
        self.spans: list[list] = []
        #: span index that worker-thread spans attach to when their own
        #: thread has no open span (the operation the pool serves)
        self.root: int | None = None

    def job_watermark(self) -> int:
        """Number of jobs submitted so far in this SparkContext."""
        return int(self._dag.numTotalJobs())

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                [name, time.perf_counter(), None, parent, self.job_watermark(), None]
            )
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span[5] = self.job_watermark()
        span[2] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield idx
        finally:
            self.close(idx)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_methods(self, obj, prefix: str, methods) -> None:
        """Rebind public methods on one instance so each call is a span."""
        for m in methods:
            setattr(obj, m, self.wrap(f"{prefix}.{m}", getattr(obj, m)))

    # -- aggregation ------------------------------------------------------

    def self_times(self, lo: int, hi: int) -> dict[str, float]:
        """Per-name self time of spans[lo:hi]: each span's duration minus
        the part of its interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for span in self.spans[lo:hi]:
            if span[3] is not None:
                children.setdefault(span[3], []).append((span[1], span[2]))
        out: dict[str, float] = {}
        for i in range(lo, hi):
            name, start, end = self.spans[i][:3]
            covered = _union_len(children.get(i, []), start, end)
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out


def _union_len(intervals, lo: float, hi: float) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusApi:
    """Job and stage figures from the Spark UI's status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def _settled(self, path: str, final: tuple[str, ...], timeout: float = 30.0):
        # the status store is fed asynchronously by the listener bus
        deadline = time.monotonic() + timeout
        while True:
            try:
                body = self._get(path)
            except OSError:
                body = None
            states = [body["status"]] if isinstance(body, dict) else [
                b["status"] for b in body or []
            ]
            if states and all(s in final for s in states):
                return body
            if time.monotonic() > deadline:
                raise TimeoutError(f"status API did not settle for {path}")
            time.sleep(0.02)

    def job_counts(self, job_lo: int, job_hi: int) -> dict[str, float]:
        """Counters over jobs with ids in [job_lo, job_hi)."""
        jobs = [self._settled(f"/jobs/{j}", _FINAL_JOB) for j in range(job_lo, job_hi)]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = 0
        tasks = failed = 0
        run_ms = shuffle_write = input_bytes = 0
        for sid in stage_ids:
            for att in self._settled(f"/stages/{sid}?details=false", _FINAL_STAGE):
                if att["status"] == "SKIPPED":
                    continue
                stages += 1
                tasks += att["numCompleteTasks"] + att["numFailedTasks"]
                failed += att["numFailedTasks"]
                run_ms += att["executorRunTime"]
                shuffle_write += att["shuffleWriteBytes"]
                input_bytes += att["inputBytes"]
        busy_s = _union_len(
            [(_ts(j["submissionTime"]), _ts(j["completionTime"])) for j in jobs],
            float("-inf"),
            float("inf"),
        )
        return {
            "jobs": len(jobs),
            "failed_jobs": sum(j["status"] != "SUCCEEDED" for j in jobs),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "executor_run_s": run_ms / 1000.0,
            "shuffle_write_bytes": shuffle_write,
            "input_bytes": input_bytes,
            "busy_s": busy_s,
        }


def _ts(text: str) -> float:
    # e.g. 2026-01-01T09:30:31.154GMT
    return datetime.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()
