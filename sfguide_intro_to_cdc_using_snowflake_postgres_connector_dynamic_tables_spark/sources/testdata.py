"""Readers for the driver-generated parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings -- one parquet file (or directory) each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scans are plain parquet reads so Catalyst keeps predicate pushdown +
column pruning; callers must select only what they need -- the whole
point of a columnar scan at 100 TB is never reading the other columns.

Schema inference runs a Spark job per ``spark.read.parquet`` call, and
the catalog reads the same tables over and over. ``load_table`` therefore
infers each table's schema once per SparkSession and reads it again under
that explicit schema, which runs no job. The cache lives with the session
(nothing is persisted) and is keyed on the table's absolute path plus a
file fingerprint -- ``(st_mtime_ns, st_size, st_ino)`` for a single
file, the sorted ``(name, size, mtime_ns)`` of the data files for a
directory of parts -- so a table rewritten in place is inferred (and
checked) again.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType, TimestampNTZType, TimestampType

TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Minimum column surface each plan in the repo relies on. A testdata
# regeneration that renames/drops one of these should fail at load time
# with a clear message, not mid-plan with an AnalysisException.
EXPECTED_COLUMNS: dict[str, set[str]] = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


#: session -> {absolute table path: (fingerprint, checked schema)}. A
#: rewrite replaces its path's entry, so the map stays one entry a table;
#: two threads racing on a miss at worst both infer.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, StructType]]] = (
    weakref.WeakKeyDictionary()
)


def _hidden(name: str) -> bool:
    """Names Spark's file index skips (``_SUCCESS``, ``.crc``,
    ``_temporary``); ``k=v`` partition directories are data."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _fingerprint(path: str) -> tuple | None:
    """What a rewrite of the table at ``path`` changes; None when the
    path cannot be stat'ed locally (missing, or a remote URI), which
    leaves the read uncached."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size, st.st_ino)
        parts = []
        for dirpath, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for f in files:
                if not _hidden(f):
                    full = os.path.join(dirpath, f)
                    fst = os.stat(full)
                    parts.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(parts))
    except OSError:
        return None


def _check_schema(schema: StructType, name: str) -> None:
    """Raise a clear TypeError if ``schema`` lacks a column the plans
    rely on, or if ``events.ts`` has a physical type ``load_table``
    cannot normalize."""
    expected = EXPECTED_COLUMNS.get(name)
    if expected is not None and not expected.issubset(schema.names):
        missing = sorted(expected - set(schema.names))
        raise TypeError(
            f"testdata format changed: table {name!r} is missing expected "
            f"columns {missing} (got {schema.names}); update "
            "sources/testdata.py:EXPECTED_COLUMNS for the new layout"
        )
    if name == "events":
        ts_type = schema["ts"].dataType
        if not isinstance(ts_type, (LongType, TimestampType, TimestampNTZType)):
            raise TypeError(
                f"testdata format changed: events.ts loaded as "
                f"{ts_type.simpleString()!r} (expected bigint nanos or a "
                "timestamp type); update sources/testdata.py:load_table for "
                "the new layout"
            )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame.

    The first read of a table in a session infers its parquet schema
    (one Spark job) and checks it; once the checks pass, the schema is
    cached under the table's absolute path and file fingerprint (see
    the module docstring), and every later read of the unchanged table
    passes it to ``spark.read.schema(...)`` and runs no job. A table
    that fails a check is not cached, so it raises again on its next
    read; a table rewritten in place is inferred and checked afresh.

    ``events.ts`` has shifted physical type across testdata generations:
    older drops wrote parquet TIMESTAMP(NANOS) (which Spark only reads
    as long nanos under the legacy conf), newer drops write native
    TIMESTAMP(MICROS). Branch on the dtype Spark actually loaded so both
    worlds normalize to a micros TimestampType -- matching DuckDB's
    ``CAST(ts AS TIMESTAMP)`` semantics -- and fail loudly on anything
    else instead of dying mid-plan with a DATATYPE_MISMATCH.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    abs_path = os.path.abspath(path)
    fp = _fingerprint(path)
    schemas = _SCHEMAS.setdefault(spark, {})
    cached = schemas.get(abs_path)
    if cached is not None and cached[0] == fp:  # only fingerprinted reads are cached
        schema = cached[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        _check_schema(schema, name)
        if fp is not None:
            schemas[abs_path] = (fp, schema)
    if name == "events":
        from pyspark.sql import functions as F

        if isinstance(schema["ts"].dataType, LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: On-disk parquet footprint below which a dimension is safely
#: broadcast-joined. 64 MB compressed parquet decompresses to a few
#: hundred MB in the driver/executors -- comfortably under typical
#: broadcast memory budgets. Above it, the hint is withheld and AQE
#: makes the call at runtime: a *forced* broadcast of a fact-sized
#: table (customer/orders at TPC-H 100 TB are multi-TB) would OOM the
#: driver, and a hint is a command, not a suggestion.
BROADCAST_DISK_BYTES = 64 << 20


def table_disk_bytes(sf_dir: str, name: str) -> int:
    """Compressed on-disk size of one table (file or directory-of-parts)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(dirpath, f))
            for dirpath, _dirs, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path) if os.path.exists(path) else 0


def broadcast_if_small(
    df: DataFrame, sf_dir: str, name: str, threshold: int = BROADCAST_DISK_BYTES
) -> DataFrame:
    """Apply a broadcast hint only when the table's disk footprint says
    it will fit; otherwise return the frame unhinted and let AQE pick
    the join strategy from runtime statistics."""
    from pyspark.sql import functions as F

    if table_disk_bytes(sf_dir, name) <= threshold:
        return F.broadcast(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register each table as a temp view for ``spark.sql`` entry points
    (SURVEY.md S6)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
