"""The engine's query catalog: every SURVEY.md section-2 operator as a
(PySpark builder, DuckDB oracle SQL) pair over the driver's testdata.

Each entry maps one (or a tight cluster of) operator ids from the
SURVEY section 2 inventory onto the TPC-H-ish star schema.  The Spark
side and the SQL side alias every computed column identically -- the
driver sorts columns by name and hashes values, so names are part of
the contract.

Double discipline: we deliberately do NOT round money columns on
either side.  Both engines compute bit-identical IEEE products on
identical inputs, and the driver applies its own single 2dp rounding
to both results pre-hash -- one rounding implementation, applied
uniformly, beats two engines' round() implementations racing each
other at .005 boundaries (SURVEY.md section 7.4).

Integer-sum discipline (HUGEINT rule): DuckDB widens sum() over any
integer type to HUGEINT, which Arrow surfaces as decimal128 and the
driver canonicalizes differently from BIGINT ('3.00' vs '3').  Every
oracle output column that sums integers MUST be wrapped
``CAST(sum(...) AS BIGINT)`` -- int-width mismatches (INT vs BIGINT)
are harmless, HUGEINT is not.  Grep rule: no uncast integer ``sum(``
may appear in a final SELECT list of any SQL_* constant (sums that
feed ratios/doubles internally are fine).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.semi_join import anti_join, isin_dataframe
from ..sources.testdata import load_table
from .purchase_summary import purchase_summary_star


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: the Dynamic Table join (J1 multi-way equi-join, J2 composite
# cross-dimension conjunct, P1 projection+alias, P2 computed column).
# ---------------------------------------------------------------------------

def q_purchase_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import broadcast_if_small

    # Dim hints are size-gated here, not inside purchase_summary_star:
    # customer/part/supplier all grow with SF, so the hint only applies
    # while the footprint is broadcast-safe; past that, AQE decides.
    return purchase_summary_star(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        broadcast_if_small(_t(spark, sf_dir, "customer"), sf_dir, "customer"),
        broadcast_if_small(_t(spark, sf_dir, "part"), sf_dir, "part"),
        broadcast_if_small(_t(spark, sf_dir, "supplier"), sf_dir, "supplier"),
    )


SQL_PURCHASE_SUMMARY = """
SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
       o.o_custkey AS custkey, c.c_name AS customer_name,
       c.c_mktsegment AS mktsegment, l.l_partkey AS partkey,
       p.p_name AS part_name, p.p_brand AS brand,
       l.l_suppkey AS suppkey, s.s_name AS supplier_name,
       o.o_orderdate AS orderdate, o.o_orderpriority AS orderpriority,
       l.l_quantity AS quantity,
       l.l_quantity * p.p_retailprice AS gross_price,
       l.l_returnflag AS returnflag
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND s.s_nationkey = c.c_nationkey
"""


# ---------------------------------------------------------------------------
# P3: equality filter + projection.
# ---------------------------------------------------------------------------

def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


SQL_FILTER_EQ = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_returnflag = 'R'
"""


# ---------------------------------------------------------------------------
# P4: inclusive range filter + conjunction (dashboard date-range filter).
# ---------------------------------------------------------------------------

def q_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
            & (F.col("o_totalprice") > 50000)
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    )


SQL_RANGE_FILTER = """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <= TIMESTAMP '1997-12-31'
  AND o_totalprice > 50000
"""


# ---------------------------------------------------------------------------
# A1 + P5 + P9: grouped sum -> banded derived column (with otherwise).
# Dashboard calculate_customer_spending on the star schema.
# ---------------------------------------------------------------------------

_LOW_EDGE = 1000000.33  # non-round edges: float sums never sit on them
_HIGH_EDGE = 3000000.77


def q_spend_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.sum("o_totalprice").alias("total_spend"))
    )
    return spend.withColumn(
        "spend_status",
        F.when(F.col("total_spend") < _LOW_EDGE, F.lit("Low Spenders"))
        .when(
            (F.col("total_spend") >= _LOW_EDGE) & (F.col("total_spend") < _HIGH_EDGE),
            F.lit("Medium Spenders"),
        )
        .otherwise(F.lit("High Spenders")),
    )


SQL_SPEND_BANDS = f"""
SELECT o_custkey AS custkey, sum(o_totalprice) AS total_spend,
       CASE WHEN sum(o_totalprice) < {_LOW_EDGE} THEN 'Low Spenders'
            WHEN sum(o_totalprice) >= {_LOW_EDGE}
                 AND sum(o_totalprice) < {_HIGH_EDGE} THEN 'Medium Spenders'
            ELSE 'High Spenders' END AS spend_status
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# P5 (NULL branch): when-chain with NO otherwise -> NULL outside bands,
# the reference age-band quirk (customer_spending_dashboard.py:30-34).
# ---------------------------------------------------------------------------

def q_null_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    band = (
        F.when((F.col("c_acctbal") >= 0) & (F.col("c_acctbal") < 1000), F.lit("low"))
        .when((F.col("c_acctbal") >= 1000) & (F.col("c_acctbal") < 5000), F.lit("mid"))
        .when(F.col("c_acctbal") >= 5000, F.lit("high"))
    )  # negative balances fall through -> NULL
    return c.select("c_custkey", "c_acctbal", band.alias("balance_band"))


SQL_NULL_BANDS = """
SELECT c_custkey, c_acctbal,
       CASE WHEN c_acctbal >= 0 AND c_acctbal < 1000 THEN 'low'
            WHEN c_acctbal >= 1000 AND c_acctbal < 5000 THEN 'mid'
            WHEN c_acctbal >= 5000 THEN 'high' END AS balance_band
FROM customer
"""


# ---------------------------------------------------------------------------
# P7/J4: IN-subquery == left semi join (the Snowpark isin(DataFrame) shim).
# ---------------------------------------------------------------------------

def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return (
        isin_dataframe(c, "o_custkey", _t(spark, sf_dir, "orders"))
        .select(F.col("o_custkey").alias("c_custkey"), "c_name", "c_mktsegment")
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    return (
        anti_join(c, "o_custkey", _t(spark, sf_dir, "orders"))
        .select(F.col("o_custkey").alias("c_custkey"), "c_name", "c_mktsegment")
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ---------------------------------------------------------------------------
# J3: left outer join decoration (nullable right side).
# ---------------------------------------------------------------------------

def q_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import broadcast_if_small

    e = _t(spark, sf_dir, "events")
    # customer grows with SF: hint only while its footprint is safe,
    # otherwise let AQE choose (a forced broadcast at 100 TB OOMs).
    c = broadcast_if_small(_t(spark, sf_dir, "customer"), sf_dir, "customer")
    return (
        e.join(c, e.user_id == c.c_custkey, "left")
        .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
    )


SQL_LEFT_JOIN = """
SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""


# ---------------------------------------------------------------------------
# J3b: FULL OUTER join -- completes the outer-join family (left/semi/
# anti are separate entries).  Two aggregates with mutually exclusive
# key slices (high-spend customers vs recently-active customers) so
# BOTH null sides are exercised: 33 big-only and 874 recent-only keys
# at sf0.01.  Both inputs aggregate on the join key, so the planner
# co-partitions them on o_custkey -- the join itself adds no exchange.
# ---------------------------------------------------------------------------

def q_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    big = (
        o.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("total_spend"))
        .filter(F.col("total_spend") > 3_000_000)
    )
    recent = (
        o.filter(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("recent_orders"))
    )
    # USING-style join: the key column is coalesced across sides in
    # both engines
    return big.join(recent, on="o_custkey", how="full").select(
        "o_custkey", "total_spend", "recent_orders"
    )


SQL_FULL_JOIN = """
WITH big AS (
  SELECT o_custkey, sum(o_totalprice) AS total_spend
  FROM orders GROUP BY o_custkey HAVING sum(o_totalprice) > 3000000
),
recent AS (
  SELECT o_custkey, count(*) AS recent_orders
  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-06-01' GROUP BY o_custkey
)
SELECT o_custkey, total_spend, recent_orders
FROM big FULL JOIN recent USING (o_custkey)
"""


# ---------------------------------------------------------------------------
# P10: distinct.
# ---------------------------------------------------------------------------

def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


SQL_DISTINCT = "SELECT DISTINCT c_mktsegment FROM customer"


# ---------------------------------------------------------------------------
# A1/A3 family: the TPC-H Q1-shaped pricing summary -- grouped sums,
# averages, count, arithmetic inside aggregates, date filter.
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       avg(l_quantity) AS avg_qty,
       avg(l_extendedprice) AS avg_price,
       avg(l_discount) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# A2: grouped count.
# ---------------------------------------------------------------------------

def q_grouped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


SQL_GROUPED_COUNT = "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type"


# ---------------------------------------------------------------------------
# A3/A4/A5: global (ungrouped) aggregates -> one scalar row.
# ---------------------------------------------------------------------------

def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").agg(
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.sum("o_totalprice").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SQL_GLOBAL_AGG = """
SELECT min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
       sum(o_totalprice) AS total_revenue, count(*) AS n_orders
FROM orders
"""


# ---------------------------------------------------------------------------
# O1: top-1 by aggregate (TakeOrderedAndProject, not a global sort),
# deterministic tie-break.
# ---------------------------------------------------------------------------

def q_top1_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum("l_extendedprice").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("suppkey"))
        .limit(1)
    )


SQL_TOP1_SUPPLIER = """
SELECT l_suppkey AS suppkey, sum(l_extendedprice) AS revenue
FROM lineitem GROUP BY l_suppkey
ORDER BY revenue DESC, suppkey ASC LIMIT 1
"""


# ---------------------------------------------------------------------------
# A7: band counts with zero-fill via a literal band dimension ('ultra'
# is empty by construction -- the reindex(fill_value=0) semantics).
# ---------------------------------------------------------------------------

def q_band_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, F.lit("negative"))
        .when(F.col("c_acctbal") < 5000, F.lit("normal"))
        .when(F.col("c_acctbal") < 100000, F.lit("high"))
        .otherwise(F.lit("ultra"))
    )
    counts = c.select(band.alias("band")).groupBy("band").agg(F.count(F.lit(1)).alias("cnt"))
    # literal dim built JVM-side (explode of an array literal): avoids a
    # Python->JVM createDataFrame round trip in the hot path
    bands = spark.range(1).select(
        F.explode(F.array(*[F.lit(b) for b in ("negative", "normal", "high", "ultra")])).alias(
            "band"
        )
    )
    return bands.join(counts, "band", "left").select(
        "band", F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("n_customers")
    )


SQL_BAND_ZERO_FILL = """
WITH counts AS (
  SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
              WHEN c_acctbal < 5000 THEN 'normal'
              WHEN c_acctbal < 100000 THEN 'high'
              ELSE 'ultra' END AS band, count(*) AS cnt
  FROM customer GROUP BY 1)
SELECT b.band, coalesce(c.cnt, 0) AS n_customers
FROM (VALUES ('negative'), ('normal'), ('high'), ('ultra')) b(band)
LEFT JOIN counts c USING (band)
"""


# ---------------------------------------------------------------------------
# Section 2.7: ranking window -- latest row per key (the CDC latest-wins
# dedup exposed as a batch operator).
# ---------------------------------------------------------------------------

def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


# ts is TIMESTAMP_NS in DuckDB; cast to micros so both engines rank and
# emit the same value (Spark reads it floor-truncated to micros).
SQL_LATEST_PER_KEY = """
SELECT user_id, event_id AS last_event_id, CAST(ts AS TIMESTAMP) AS last_ts,
       event_type AS last_event_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                            event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# F1-F15 sampler: concat/cast/date_format/floor/element_at/when/arith --
# the generator + dashboard scalar-function surface on one projection.
# ---------------------------------------------------------------------------

def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cards = F.array(F.lit("American Express"), F.lit("Visa"), F.lit("Mastercard"), F.lit("Discover"))
    return e.select(
        "event_id",
        F.concat(F.lit("TX"), F.col("event_id").cast("string")).alias("txn_id"),
        F.date_format("ts", "HH:mm:ss").alias("hhmmss"),
        F.to_date("ts").alias("event_date"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.floor(F.col("value") * 7 + 1).cast("long").alias("qty"),
        F.element_at(cards, ((F.col("event_id") % 4) + 1).cast("int")).alias("card"),
        F.when(F.col("value") < 10, F.lit("Purchase")).otherwise(F.lit("Refund")).alias("category"),
        (F.col("value") * 2 + 1).alias("scaled"),
    )


SQL_SCALAR_FUNCTIONS = """
SELECT event_id,
       'TX' || CAST(event_id AS VARCHAR) AS txn_id,
       strftime(ts, '%H:%M:%S') AS hhmmss,
       CAST(ts AS DATE) AS event_date,
       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch_s,
       CAST(floor(value * 7 + 1) AS BIGINT) AS qty,
       (['American Express', 'Visa', 'Mastercard', 'Discover'])[(event_id % 4) + 1] AS card,
       CASE WHEN value < 10 THEN 'Purchase' ELSE 'Refund' END AS category,
       value * 2 + 1 AS scaled
FROM events
"""


# ---------------------------------------------------------------------------
# Semi-structured access: JSON property extraction from the events
# payload (the connector config surface is JSON; at pipeline scale the
# props column is the classic semi-structured tail).
# ---------------------------------------------------------------------------

def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
        F.when(F.get_json_object("props", "$.k").cast("int") >= 50, F.lit("high"))
        .otherwise(F.lit("low"))
        .alias("k_band"),
    )


SQL_JSON_EXTRACT = """
SELECT event_id,
       CAST(props ->> '$.k' AS INTEGER) AS k_value,
       CASE WHEN CAST(props ->> '$.k' AS INTEGER) >= 50 THEN 'high'
            ELSE 'low' END AS k_band
FROM events
"""


# ---------------------------------------------------------------------------
# S6: SQL-text entry point -- the same engine surface the Snowpark
# dashboard uses (session.sql over catalog views).
# ---------------------------------------------------------------------------

def q_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import register_views

    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_mktsegment AS mktsegment,
               count(*) AS n_orders,
               sum(o.o_totalprice) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    )


SQL_SQL_ENTRY = """
SELECT c.c_mktsegment AS mktsegment, count(*) AS n_orders,
       sum(o.o_totalprice) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


# ---------------------------------------------------------------------------
# Sketch family, exact-capacity mode: Misra-Gries heavy hitters with
# capacity >= the distinct-value universe never sweeps, so estimates
# are exact and the error certificate collapses to 0 -- the one mode a
# second engine CAN hash-match.  This gives the sketch family
# (operators/sketches.py) a driver-gated row; the approximate modes'
# error contracts live in tests/test_sketches.py (two engines' sketches
# never match bit-for-bit).
# ---------------------------------------------------------------------------

def q_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import heavy_hitters

    e = _t(spark, sf_dir, "events")
    return heavy_hitters(e, "event_type", k=20, capacity=1024)


SQL_HEAVY_HITTERS_EXACT = """
SELECT CAST(event_type AS VARCHAR) AS value,
       CAST(count(*) AS BIGINT) AS est_count,
       CAST(0 AS BIGINT) AS max_undercount
FROM events
WHERE event_type IS NOT NULL
GROUP BY event_type
ORDER BY est_count DESC, value ASC
LIMIT 20
"""


def q_approx_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna in exact mode: with ``accuracy`` >= the group
    row count the rank error bound n/accuracy drops below one rank, so
    ``percentile_approx`` returns exact DISCRETE quantiles (actual data
    elements) and DuckDB's ``quantile_disc`` can hash-match them.
    Verified empirically at sf0.001 and sf0.01 across 6 quantile points
    x 3 groups before gating (the two engines' discrete-rank
    conventions agree on this data; ties in l_quantity make boundary
    conventions moot).  The approximate mode's rank-error contract
    stays pinned in tests/test_sketches.py.

    ``require_exact=True`` guards the premise: if a larger scale
    factor ever pushes a group past the accuracy budget, the entry
    fails LOUDLY with the group size in the message instead of going
    red on an unexplained hash mismatch (percentile_approx silently
    reverts to approximate output past the budget)."""
    from ..operators.sketches import approx_percentiles_by

    out = approx_percentiles_by(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_quantity",
        [0.25, 0.5, 0.9],
        accuracy=10_000_000,
        require_exact=True,
    )
    p = F.col("approx_percentiles")
    return out.select(
        "l_returnflag",
        p[0].alias("p25"),
        p[1].alias("p50"),
        p[2].alias("p90"),
    )


SQL_APPROX_PERCENTILE_EXACT = """
SELECT l_returnflag,
       quantile_disc(l_quantity, 0.25) AS p25,
       quantile_disc(l_quantity, 0.5) AS p50,
       quantile_disc(l_quantity, 0.9) AS p90
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# The catalog.
# ---------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark builder, oracle SQL or None for rows-only checks)
CATALOG: dict[str, tuple[QueryFn, str | None]] = {
    "purchase_summary": (q_purchase_summary, SQL_PURCHASE_SUMMARY),
    "filter_eq": (q_filter_eq, SQL_FILTER_EQ),
    "range_filter": (q_range_filter, SQL_RANGE_FILTER),
    "spend_bands": (q_spend_bands, SQL_SPEND_BANDS),
    "null_bands": (q_null_bands, SQL_NULL_BANDS),
    "semi_join": (q_semi_join, SQL_SEMI_JOIN),
    "anti_join": (q_anti_join, SQL_ANTI_JOIN),
    "left_join": (q_left_join, SQL_LEFT_JOIN),
    "full_join": (q_full_join, SQL_FULL_JOIN),
    "distinct": (q_distinct, SQL_DISTINCT),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "grouped_count": (q_grouped_count, SQL_GROUPED_COUNT),
    "global_agg": (q_global_agg, SQL_GLOBAL_AGG),
    "top1_supplier": (q_top1_supplier, SQL_TOP1_SUPPLIER),
    "band_zero_fill": (q_band_zero_fill, SQL_BAND_ZERO_FILL),
    "latest_per_key": (q_latest_per_key, SQL_LATEST_PER_KEY),
    "scalar_functions": (q_scalar_functions, SQL_SCALAR_FUNCTIONS),
    "sql_entry": (q_sql_entry, SQL_SQL_ENTRY),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "heavy_hitters_exact": (q_heavy_hitters_exact, SQL_HEAVY_HITTERS_EXACT),
    "approx_percentile_exact": (
        q_approx_percentile_exact,
        SQL_APPROX_PERCENTILE_EXACT,
    ),
}


def _register_extensions() -> None:
    """Merge the extension catalogs into :data:`CATALOG`.

    Duplicate keys across the five source dicts are a hard
    ``ImportError``: a later ``dict.update`` would otherwise silently
    shadow the earlier entry, so the shadowed query never executes while
    its name stays green in the gate (this bit twice in round 9 --
    ``sequence_pack`` and ``q12_priority_lines``).
    """
    from .catalog_cdc import CDC_CATALOG
    from .catalog_ext import EXT_CATALOG
    from .catalog_more import MORE_CATALOG
    from .catalog_pipeline import PIPELINE_CATALOG
    from .catalog_train import TRAIN_CATALOG

    # _BASE_KEYS is snapshotted below (before the first merge), so a
    # re-invocation (tests) checks the same invariant as the first.
    sources = [
        ("base", {k: None for k in _BASE_KEYS}),
        ("ext", EXT_CATALOG),
        ("more", MORE_CATALOG),
        ("pipeline", PIPELINE_CATALOG),
        ("train", TRAIN_CATALOG),
        ("cdc", CDC_CATALOG),
    ]
    owner: dict[str, str] = {}
    collisions: list[str] = []
    for src_name, src in sources:
        for key in src:
            if key in owner:
                collisions.append(f"{key!r} in both {owner[key]} and {src_name}")
            else:
                owner[key] = src_name
    if collisions:
        raise ImportError(
            "catalog key collision(s) -- a later catalog would silently "
            "shadow an earlier entry: " + "; ".join(collisions)
        )

    CATALOG.update(EXT_CATALOG)
    CATALOG.update(MORE_CATALOG)
    CATALOG.update(PIPELINE_CATALOG)
    CATALOG.update(TRAIN_CATALOG)
    CATALOG.update(CDC_CATALOG)


#: Keys native to THIS module, snapshotted before the first merge so
#: the collision check in ``_register_extensions`` stays correct on
#: re-invocation.
_BASE_KEYS: frozenset[str] = frozenset(CATALOG)

_register_extensions()
