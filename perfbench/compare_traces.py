#!/usr/bin/env python3
"""Check that Spark counters repeat exactly between two traced runs.

    python3 perfbench/compare_traces.py RECORD_A RECORD_B

Each record is a ``.perfbench/records/<workload>-s<seed>-t1.json`` file
written by ``run.py --trace 1``; copy the first one aside before the second
run overwrites it. Warm jobs, stages and tasks must match for every
catalog entry and every CDC tick (and, for ticks, the render after it)
that both runs timed. Entries whose counts also differed between passes
inside one run are listed. Exits 1 if any count differs.
"""

from __future__ import annotations

import json
import sys

COUNTS = ("jobs", "stages", "tasks", "render_jobs", "render_stages", "render_tasks")


def _rows(record: dict) -> dict:
    if "per_tick" in record:
        return {f"tick {r['tick']}": r for r in record["per_tick"]}
    return {f"{r['entry']} pass {r['pass']}": r for r in record["per_entry"]}


def main() -> int:
    with open(sys.argv[1]) as f:
        a = json.load(f)
    with open(sys.argv[2]) as f:
        b = json.load(f)
    ra, rb = _rows(a), _rows(b)
    common = sorted(set(ra) & set(rb))
    differ = []
    for key in common:
        ca = {k: ra[key][k] for k in COUNTS if k in ra[key]}
        cb = {k: rb[key][k] for k in COUNTS if k in rb[key]}
        if ca != cb:
            differ.append(key)
            print(f"differs: {key}: {ca} vs {cb}")
    for name, rec in (("A", a), ("B", b)):
        if rec.get("nonrepeating"):
            print(f"run {name}: counts differ between passes for {rec['nonrepeating']}")
    print(f"{len(common)} operations compared, {len(differ)} differ")
    return 1 if differ or a.get("nonrepeating") or b.get("nonrepeating") else 0


if __name__ == "__main__":
    sys.exit(main())
