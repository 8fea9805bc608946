"""SparkSession factory with a scale-first default configuration.

Local tests run ``local[$SPARK_GRAFT_CPUS]``; the same builder is meant
to be correct on a 1000-executor cluster -- every knob below is chosen
for the 100 TB design point and merely *also* works locally:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion).
- ``autoBroadcastJoinThreshold`` raised to 64 MB: the workload is one
  big fact table joined to small dimensions (SURVEY.md section 2.3) --
  broadcast-hash-join is the right physical strategy and we want
  Catalyst to pick it without hints in the common case.
- Arrow on for every pandas boundary (toPandas, pandas UDFs).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session this engine creates.  At cluster
#: scale, shuffle.partitions should be overridden to ~2-3x total cores
#: (AQE coalesces the excess), and maxPartitionBytes left at 128m so a
#: 100 TB scan fans out to ~800k input splits.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Respect advisoryPartitionSizeInBytes when coalescing instead of
    # maximizing parallelism -- the Spark tuning guide's recommended
    # production setting; avoids fleets of near-empty post-shuffle
    # tasks (measured ~5% off a 20-query sweep at sf0.1, and the
    # behavior that keeps reducers ~64 MB at the 100 TB point).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Parquet filter pushdown is on by default; pin it so a config drift
    # can't silently turn scans into full reads.
    "spark.sql.parquet.filterPushdown": "true",
}


def _default_driver_memory() -> str:
    """Local mode runs every task thread inside the driver JVM, whose
    Spark default heap is 1g -- a long query session degrades into GC
    thrash (measured: the same plan 3x slower 40 queries into a
    bench).  Size the heap like an executor would be sized on a
    cluster: a quarter of physical RAM, clamped to [2g, 16g] so a
    small CI container gets a heap it can actually back instead of an
    -Xmx the OOM-killer enforces.  ``SPARK_GRAFT_DRIVER_MEM``
    overrides; spark-submit overrides on a real deployment.  Only
    effective when this process launches the JVM (ignored on
    getOrCreate against a live session, like every JVM-side conf)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    limits = []
    try:
        limits.append(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"))
    except (ValueError, OSError, AttributeError):
        pass
    # host RAM overstates what a container may use: honor the cgroup
    # memory limit (v2 then v1) when one is set
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
            if raw.isdigit():
                limits.append(int(raw))
        except OSError:
            pass
    if not limits:
        return "4g"
    gb = max(2, min(16, min(limits) // (4 << 30)))
    return f"{gb}g"


DEFAULT_CONF["spark.driver.memory"] = _default_driver_memory()


def get_spark(
    app_name: str = "sfguide-cdc-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 if unset)
    for this environment; on a real cluster the caller passes the
    cluster master / relies on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    # Python workers inherit the driver environment (driver -> JVM ->
    # worker daemon), and numpy's bundled OpenBLAS otherwise sizes its
    # pool to every visible core PER WORKER: 32 concurrent tasks x a
    # 32-thread BLAS pool is pure oversubscription at full parallelism
    # (the driver-side twin of this fix -- and the measurements -- live
    # in blas.py).  setdefault so an operator that genuinely wants a
    # threaded worker BLAS can export its own value first.  Must happen
    # before the JVM launches; too late for the driver's own numpy,
    # which blas.single_thread_blas handles via ctypes.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def one_partition_df(spark: SparkSession, rows: list, schema: str):
    """Tiny driver-side rows as a SINGLE-partition DataFrame.

    ``createDataFrame(list, ...)`` parallelizes the list over
    ``defaultParallelism`` slices -- a one-row broadcast side (the
    Bloom bitmap, the flattened ADC table, a handful of cut-off ks)
    becomes 32 mostly-empty Python-RDD partitions, and every action
    that builds the broadcast pays 32 Python task round-trips
    (measured ~2.3 s vs ~0.25 s for the 1-slice form on local[32]).
    Pin ``numSlices=1``: the payload is bounded driver-side data by
    contract at every call site, so one partition is the right shape
    at any scale.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=schema
    )
