"""S1 CSV load, O2 seeded sampling, and the SQL-text Dynamic Table
definition surface."""

from __future__ import annotations

import csv
import os

import pytest

from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources import (
    fixtures,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.cdc_schemas import (
    CUSTOMERS_SCHEMA,
    MERCHANTS_SCHEMA,
    PRODUCTS_SCHEMA,
    TRANSACTIONS_SCHEMA,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.csv_source import (
    load_reference_table,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
    DynamicTableManager,
    _parse_lag,
    dynamic_table_from_sql,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)


def test_csv_load_with_uppercase_headers(spark, tmp_path):
    """The reference CSVs have UPPERCASE headers against lowercase DDL
    names; the schema'd read must resolve them (SURVEY.md section 1.2)."""
    rows = fixtures.make_customers(10, seed=5)
    path = str(tmp_path / "customers.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["CUSTOMER_ID", "FIRSTNAME", "LASTNAME", "AGE", "EMAIL", "PHONE_NUMBER"])
        w.writerows(rows)
    df = load_reference_table(spark, path, "customers")
    # CSV reads force nullable=True; names + types must match the DDL
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in CUSTOMERS_SCHEMA.fields
    ]
    assert df.count() == 12  # 10 + 2 out-of-band fixtures
    assert df.filter(F.col("age") == 17).count() == 1


def test_load_table_rejects_renamed_columns(spark, tmp_path):
    """A testdata regeneration that renames a relied-on column must fail
    at load time with a clear 'testdata format changed' error, not
    mid-plan with an AnalysisException."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.testdata import (
        load_table,
    )

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(0, "AFRICA")], ["regionkey", "r_name"]  # r_regionkey renamed
    ).write.parquet(os.path.join(sf_dir, "region.parquet"))
    with pytest.raises(TypeError, match="testdata format changed.*r_regionkey"):
        load_table(spark, sf_dir, "region")


def test_load_table_events_ts_dtype_adaptive(spark, tmp_path):
    """events.ts has shipped as both TIMESTAMP(NANOS)->bigint and native
    micros across testdata generations; both must load as a proper
    timestamp, and an unrecognized dtype must fail loudly."""
    import datetime

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.testdata import (
        load_table,
    )

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)

    # native-micros world (current driver drops)
    d_us = str(tmp_path / "us")
    os.makedirs(d_us)
    spark.createDataFrame([(1, t0, 7, "click", 1.0, "{}")], cols).write.parquet(
        os.path.join(d_us, "events.parquet")
    )
    # each case twice: the second read comes from the session's schema
    # cache and must normalize (or fail) exactly as the first did
    for _ in range(2):
        got = load_table(spark, d_us, "events")
        assert dict(got.dtypes)["ts"] == "timestamp"
        assert got.first()["ts"] == t0

    # nanos-as-long world (older drops): same instant, floor-truncated
    d_ns = str(tmp_path / "ns")
    os.makedirs(d_ns)
    ns = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) * 1000
    spark.createDataFrame(
        [(1, ns, 7, "click", 1.0, "{}")],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).write.parquet(os.path.join(d_ns, "events.parquet"))
    for _ in range(2):
        got_ns = load_table(spark, d_ns, "events")
        assert dict(got_ns.dtypes)["ts"] == "timestamp"
        assert got_ns.first()["ts"] == t0

    # unrecognized dtype (string): loud failure, not a mid-plan crash
    d_bad = str(tmp_path / "bad")
    os.makedirs(d_bad)
    spark.createDataFrame(
        [(1, "2024-01-01", 7, "click", 1.0, "{}")], cols
    ).write.parquet(os.path.join(d_bad, "events.parquet"))
    for _ in range(2):
        with pytest.raises(TypeError, match="events.ts loaded as 'string'"):
            load_table(spark, d_bad, "events")


def _jobs_run(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_load_table_reuses_schema_until_rewritten(spark, tmp_path):
    """The first read of a table infers its schema (one job); a second
    read of the unchanged table reuses it and runs no job. Rewriting the
    directory table at the same path is noticed: a renamed column raises
    again, an added column shows up."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.testdata import (
        load_table,
    )

    sf_dir = str(tmp_path / "sf")
    path = os.path.join(sf_dir, "region.parquet")
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string").write.parquet(path)
    first = load_table(spark, sf_dir, "region")
    j0 = _jobs_run(spark)
    second = load_table(spark, sf_dir, "region")
    assert _jobs_run(spark) == j0
    assert second.schema == first.schema
    assert second.collect() == first.collect()

    spark.createDataFrame([(0, "AFRICA")], "regionkey long, r_name string").write.mode(
        "overwrite"
    ).parquet(path)
    for _ in range(2):  # a failing table is not cached: it raises every read
        with pytest.raises(TypeError, match="testdata format changed.*r_regionkey"):
            load_table(spark, sf_dir, "region")

    spark.createDataFrame(
        [(0, "AFRICA", "c")], "r_regionkey long, r_name string, r_comment string"
    ).write.mode("overwrite").parquet(path)
    for _ in range(2):
        got = load_table(spark, sf_dir, "region")
        assert got.columns == ["r_regionkey", "r_name", "r_comment"]
        assert got.first()["r_comment"] == "c"


def test_load_table_single_file_rewrite_is_reinferred(spark, tmp_path):
    """A single-file table (the testdata layout) replaced in place gets
    a new fingerprint, so its new schema is inferred, not the cached one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.testdata import (
        load_table,
    )

    path = str(tmp_path / "nation.parquet")
    cols = {"n_nationkey": [1], "n_name": ["FRANCE"], "n_regionkey": [3]}
    pq.write_table(pa.table(cols), path)
    assert load_table(spark, str(tmp_path), "nation").columns == list(cols)
    j0 = _jobs_run(spark)
    load_table(spark, str(tmp_path), "nation")
    assert _jobs_run(spark) == j0

    pq.write_table(pa.table({**cols, "n_comment": ["x"]}), path)
    got = load_table(spark, str(tmp_path), "nation")
    assert got.columns == [*cols, "n_comment"]
    assert got.first()["n_comment"] == "x"


def test_seeded_random_sample(spark):
    """O2: ORDER BY RANDOM() LIMIT 1 equivalent -- seeded, so
    deterministic per seed."""
    df = spark.range(100)
    pick1 = df.orderBy(F.rand(seed=7)).limit(1).first()[0]
    pick2 = df.orderBy(F.rand(seed=7)).limit(1).first()[0]
    assert pick1 == pick2


def test_parse_lag():
    assert _parse_lag("1 minute") == 60
    assert _parse_lag("30 seconds") == 30
    assert _parse_lag("2 hours") == 7200
    with pytest.raises(ValueError):
        _parse_lag("3 fortnights")


def test_sql_defined_dynamic_table_incremental(spark, tmp_path):
    """CREATE DYNAMIC TABLE ... AS SELECT parity: a SQL-text defining
    query, registered + incrementally maintained, equals full recompute
    after a change batch."""
    customers = fixtures.make_customers(30, seed=9)
    merchants = fixtures.make_merchants(seed=9)
    products = fixtures.make_products(seed=9)
    tx = fixtures.make_transactions(customers, products, merchants, n=150, orphan_frac=0.3, seed=9)

    store = ParquetTableStore(str(tmp_path / "store"))
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
        CDCPipeline,
    )

    p = CDCPipeline(spark, store)
    p.bootstrap(
        {
            "customers": spark.createDataFrame(customers, CUSTOMERS_SCHEMA),
            "merchants": spark.createDataFrame(merchants, MERCHANTS_SCHEMA),
            "products": spark.createDataFrame(products, PRODUCTS_SCHEMA),
            "transactions": spark.createDataFrame(tx, TRANSACTIONS_SCHEMA),
        }
    )

    # the notebook's CREATE DYNAMIC TABLE statement, almost verbatim
    sql = """
        SELECT t.transaction_id, t.customer_id, c.age AS customer_age,
               t.product_id, p.product_name, p.product_category,
               t.merchant_id, m.merchant_name, m.merchant_category,
               t.transaction_date, t.transaction_time, t.quantity,
               t.quantity * p.price AS total_price,
               t.transaction_card, t.transaction_category
        FROM transactions t
        JOIN customers c ON t.customer_id = c.customer_id
        JOIN products p ON t.product_id = p.product_id
        JOIN merchants m ON t.merchant_id = m.merchant_id
                        AND m.merchant_category = p.product_category
    """
    dt = dynamic_table_from_sql(
        spark,
        store,
        "customer_purchase_summary_sql",
        sql,
        fact_table="transactions",
        fact_key="transaction_id",
        view_key="transaction_id",
        dims={
            "customers": ("customer_id", "customer_id"),
            "products": ("product_id", "product_id"),
            "merchants": ("merchant_id", "merchant_id"),
        },
        target_lag="1 minute",
    )
    assert dt.target_lag_seconds == 60
    mgr = DynamicTableManager(spark, store)
    mgr.create(dt)
    mgr.attach(p)

    import json

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
        FEED_SCHEMA,
    )

    batch = fixtures.change_log(customers, products, merchants, batches=3, rows_per_batch=25)
    for i, b in enumerate(batch):
        rows = [
            (op, lsn, None, table, json.dumps(r, default=str))
            for table, changes in b.items()
            for op, lsn, r in changes
        ]
        p.apply_envelope_batch(spark.createDataFrame(rows, FEED_SCHEMA), batch_id=i)

    def canon(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(str(round(v, 2)) if isinstance(v, float) else str(v) for v in r)
            for r in df.select(*cols).collect()
        )

    incremental = canon(mgr.read("customer_purchase_summary_sql"))
    tables = {n: store.read(spark, n) for n in ("transactions", "customers", "products", "merchants")}
    for n, df in tables.items():
        df.createOrReplaceTempView(n)
    assert incremental == canon(spark.sql(sql))


def test_dynamic_table_sql_allows_extract_from(spark, tmp_path):
    """EXTRACT(YEAR FROM ts) / SUBSTRING(x FROM 1) are function syntax,
    not table scans -- the unknown-table guard must not flag them."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
        dynamic_table_from_sql,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    dt = dynamic_table_from_sql(
        spark,
        ParquetTableStore(str(tmp_path / "store")),
        name="with_extract",
        sql=(
            "SELECT o_orderkey, EXTRACT(YEAR FROM o_orderdate) AS yr, "
            "SUBSTRING(o_orderpriority FROM 1 FOR 1) AS pri "
            "FROM orders_src"
        ),
        fact_table="orders_src",
        fact_key="o_orderkey",
        view_key="o_orderkey",
        dims={},
        target_lag="60 seconds",
        refresh_mode="incremental",
    )
    assert dt.name == "with_extract"


def test_dynamic_table_sql_still_rejects_unknown_tables(spark, tmp_path):
    import pytest as _pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
        dynamic_table_from_sql,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    with _pytest.raises(ValueError, match="mystery"):
        dynamic_table_from_sql(
            spark,
            ParquetTableStore(str(tmp_path / "store")),
            name="bad",
            sql="SELECT * FROM orders_src JOIN mystery ON 1=1",
            fact_table="orders_src",
            fact_key="o_orderkey",
            view_key="o_orderkey",
            dims={},
            target_lag="60 seconds",
            refresh_mode="incremental",
        )
