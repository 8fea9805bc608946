"""Partition-pruned store MERGE (the O(delta) write-I/O path).

Pins the two properties the pure-parquet manifest layout promises:
(1) correctness -- merge == full read-modify-overwrite semantics, and
(2) pruning -- a merge rewrites ONLY the hash buckets its keys touch;
every other bucket's directory reference carries over byte-identical.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.purchase_summary import (
    customer_purchase_summary,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources import (
    fixtures,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.cdc_schemas import (
    CUSTOMERS_SCHEMA,
    MERCHANTS_SCHEMA,
    PRODUCTS_SCHEMA,
    TRANSACTIONS_SCHEMA,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
    CDCPipeline,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
    DynamicTable,
    DynamicTableManager,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)


def _manifest(store, name):
    v = store.current_version(name)
    with open(os.path.join(store.root, name, f"manifest-v{v}.json")) as f:
        return json.load(f)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_partitioned_roundtrip(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    store.overwrite("t", df, partition_key="k", n_buckets=8)
    assert store.partition_spec("t") == ("k", 8)
    assert _rows(store.read(spark, "t")) == _rows(df)
    # spec is sticky: a later full overwrite keeps the partitioning
    store.overwrite("t", df.filter(F.col("k") < 50))
    assert store.partition_spec("t") == ("k", 8)
    assert store.read(spark, "t").count() == 50


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"))
    df = spark.range(200).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    store.overwrite("t", df, partition_key="k", n_buckets=8)
    before = _manifest(store, "t")["partitions"]

    # a delta touching 3 keys: update k=7, insert k=1000, delete k=11
    upserts = spark.createDataFrame([(7, "new"), (1000, "new")], "k long, v string")
    touched = spark.createDataFrame([(7,), (1000,), (11,)], "k long")
    store.merge(spark, "t", upserts, touched)
    after = _manifest(store, "t")["partitions"]

    touched_buckets = {
        r[0]
        for r in touched.select(ParquetTableStore.bucket_expr("k", 8).alias("b"))
        .distinct()
        .collect()
    }
    changed = {b for b in before if before[b] != after.get(b)} | set(after) - set(before)
    assert changed == {str(b) for b in touched_buckets}
    untouched = set(before) - {str(b) for b in touched_buckets}
    assert untouched, "test needs untouched buckets to be meaningful"
    for b in untouched:
        assert after[b] == before[b]  # directory reference carried over verbatim

    got = {r["k"]: r["v"] for r in store.read(spark, "t").collect()}
    assert got[7] == "new" and got[1000] == "new"
    assert 11 not in got
    assert got[3] == "old" and len(got) == 200  # -1 delete +1 insert


def test_merge_can_empty_a_bucket(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"))
    df = spark.range(40).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    store.overwrite("t", df, partition_key="k", n_buckets=4)
    # delete every key of bucket 0
    b0 = df.select("k").filter(ParquetTableStore.bucket_expr("k", 4) == 0)
    n_b0 = b0.count()
    assert n_b0 > 0
    empty = df.limit(0)
    store.merge(spark, "t", empty, b0)
    m = _manifest(store, "t")
    assert "0" not in m["partitions"]
    assert store.read(spark, "t").count() == 40 - n_b0


def test_merge_rejects_upsert_bucket_missing_from_touched(spark, tmp_path):
    """Fault injection on the touched_buckets contract: an upsert whose
    bucket is left out of the list would repoint that bucket to the
    staged row alone, dropping its stored rows. merge must raise before
    the manifest moves, leaving the version and the contents as they
    were."""
    store = ParquetTableStore(str(tmp_path / "s"))
    df = spark.range(40).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    store.overwrite("t", df, partition_key="k", n_buckets=4)
    v0 = store.current_version("t")
    before = _rows(store.read(spark, "t"))

    upserts = spark.createDataFrame([(7, "new")], "k long, v string")
    b7 = upserts.select(ParquetTableStore.bucket_expr("k", 4)).first()[0]
    other = (b7 + 1) % 4  # a real bucket, but not the upsert's
    with pytest.raises(ValueError, match=rf"buckets \['{b7}'\] missing from touched_buckets"):
        store.merge(spark, "t", upserts, upserts.select("k"), touched_buckets=[other])

    assert store.current_version("t") == v0
    assert _rows(store.read(spark, "t")) == before
    assert not [e for e in os.listdir(os.path.join(store.root, "t")) if e.startswith(f"w{v0 + 1}-")]
    # the claim was released too: a correct retry commits
    assert store.merge(spark, "t", upserts, upserts.select("k"), touched_buckets=[b7]) == v0 + 1
    got = {r["k"]: r["v"] for r in store.read(spark, "t").collect()}
    assert got[7] == "new" and len(got) == 40


def test_empty_partitioned_table_keeps_schema(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"))
    df = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    store.overwrite("t", df.limit(0), partition_key="k", n_buckets=4)
    out = store.read(spark, "t")
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}


def test_read_key_buckets(spark, tmp_path, monkeypatch):
    """The store-side probe reads exactly the buckets its keys hash
    into, from ONE manifest read; empty keys read nothing (None) and
    an unpartitioned table is read whole."""
    store = ParquetTableStore(str(tmp_path / "s"))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    store.overwrite("t", df, partition_key="k", n_buckets=8)
    keys = spark.createDataFrame([(3,), (17,), (42,), (3,)], "k long")
    ids = [r[0] for r in keys.select(store.bucket_expr("k", 8)).distinct().collect()]
    want = store.read(spark, "t").filter(store.bucket_expr("k", 8).isin(ids))
    got = store.read_key_buckets(spark, "t", keys)
    assert _rows(got) == _rows(want)  # sorted row lists: multiset equality
    assert 0 < got.count() < 100
    assert store.read_key_buckets(spark, "t", keys.limit(0)) is None

    reads = []
    real = store._read_manifest
    monkeypatch.setattr(
        store, "_read_manifest", lambda name, v: reads.append(v) or real(name, v)
    )
    store.read_key_buckets(spark, "t", keys)
    assert len(reads) == 1
    store.read_buckets(spark, "t", ids)
    assert len(reads) == 2
    monkeypatch.undo()

    store.overwrite("u", df)
    assert _rows(store.read_key_buckets(spark, "u", keys)) == _rows(df)


def test_crash_orphan_stage_is_invisible_and_gcd(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"), keep_versions=2)
    df = spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    store.overwrite("t", df, partition_key="k", n_buckets=4)
    # simulate a crashed merge: stage dir written, no manifest/commit
    orphan = os.path.join(store.root, "t", "w99-deadbeef")
    os.makedirs(orphan)
    assert store.read(spark, "t").count() == 10  # unreferenced -> invisible
    # the next commits' GC removes it once versions advance
    store.merge(spark, "t", df.limit(0), spark.createDataFrame([(1,)], "k long"))
    store.merge(spark, "t", df.limit(0), spark.createDataFrame([(2,)], "k long"))
    store.merge(spark, "t", df.limit(0), spark.createDataFrame([(3,)], "k long"))
    assert not os.path.isdir(orphan)
    assert store.read(spark, "t").count() == 7


def test_read_previous_partitioned(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"))
    df = spark.range(10).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    store.overwrite("t", df, partition_key="k", n_buckets=4)
    store.merge(
        spark,
        "t",
        spark.createDataFrame([(3, "b")], "k long, v string"),
        spark.createDataFrame([(3,)], "k long"),
    )
    prev = store.read_previous(spark, "t")
    assert {r["v"] for r in prev.filter(F.col("k") == 3).collect()} == {"a"}
    cur = store.read(spark, "t")
    assert {r["v"] for r in cur.filter(F.col("k") == 3).collect()} == {"b"}


# ---------------------------------------------------------------------------
# End-to-end: the CDC pipeline + dynamic table on a partitioned store
# must produce exactly the snapshots the unpartitioned path produces.
# ---------------------------------------------------------------------------

SUMMARY_VIEW = dict(
    name="customer_purchase_summary",
    defining_fn=lambda t: customer_purchase_summary(
        t["transactions"], t["customers"], t["products"], t["merchants"]
    ),
    fact_table="transactions",
    fact_key="transaction_id",
    view_key="transaction_id",
    dims={
        "customers": ("customer_id", "customer_id"),
        "products": ("product_id", "product_id"),
        "merchants": ("merchant_id", "merchant_id"),
    },
)


def _envelope_df(spark, batch):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
        FEED_SCHEMA,
    )

    rows = []
    for table, changes in batch.items():
        for op, lsn, row in changes:
            rows.append((op, lsn, None, table, json.dumps(row, default=str)))
    return spark.createDataFrame(rows, FEED_SCHEMA)


@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_cdc_pipeline_partitioned_matches_unpartitioned(spark, tmp_path):
    customers = fixtures.make_customers(40, seed=42)
    merchants = fixtures.make_merchants(seed=42)
    products = fixtures.make_products(seed=42)
    transactions = fixtures.make_transactions(
        customers, products, merchants, n=200, orphan_frac=0.5, seed=42
    )
    seed = lambda: {  # noqa: E731
        "customers": spark.createDataFrame(customers, CUSTOMERS_SCHEMA),
        "merchants": spark.createDataFrame(merchants, MERCHANTS_SCHEMA),
        "products": spark.createDataFrame(products, PRODUCTS_SCHEMA),
        "transactions": spark.createDataFrame(transactions, TRANSACTIONS_SCHEMA),
    }

    plain_store = ParquetTableStore(str(tmp_path / "plain"))
    plain = CDCPipeline(spark, plain_store)
    plain.bootstrap(seed())
    part_store = ParquetTableStore(str(tmp_path / "part"))
    part = CDCPipeline(
        spark, part_store, partition_spec={"transactions": 8, "customers": 4}
    )
    part.bootstrap(seed())

    mgr = DynamicTableManager(spark, part_store)
    mgr.create(DynamicTable(**SUMMARY_VIEW, partition_buckets=8))
    mgr.attach(part)
    plain_mgr = DynamicTableManager(spark, plain_store)
    plain_mgr.create(DynamicTable(**SUMMARY_VIEW))
    plain_mgr.attach(plain)

    log = fixtures.change_log(customers, products, merchants, batches=3, rows_per_batch=30)
    for i, batch in enumerate(log):
        plain.apply_envelope_batch(_envelope_df(spark, batch), batch_id=i)
        part.apply_envelope_batch(_envelope_df(spark, batch), batch_id=i)
        for table in ("transactions", "customers", "products", "merchants"):
            assert _rows(part_store.read(spark, table)) == _rows(
                plain_store.read(spark, table)
            ), f"{table} diverged after batch {i}"
        assert _rows(mgr.read("customer_purchase_summary")) == _rows(
            plain_mgr.read("customer_purchase_summary")
        ), f"view diverged after batch {i}"
    # pruning: a small fact-only batch (2 rows) must leave most bucket
    # dirs of both the fact table and the view carried over verbatim
    # (the broad batches above legitimately touch all buckets via dim
    # fanout -- pruning kicks in exactly when deltas are narrow)
    fact_before = _manifest(part_store, "transactions")["partitions"]
    view_before = _manifest(part_store, "customer_purchase_summary")["partitions"]
    tx_rows = [row for op, _, row in log[0]["transactions"] if op == "I"][:2]
    small = {
        "transactions": [
            ("U", 10_000 + i, {**r, "quantity": 9}) for i, r in enumerate(tx_rows)
        ]
    }
    part.apply_envelope_batch(_envelope_df(spark, small), batch_id=99)
    plain.apply_envelope_batch(_envelope_df(spark, small), batch_id=99)
    assert _rows(mgr.read("customer_purchase_summary")) == _rows(
        plain_mgr.read("customer_purchase_summary")
    )
    fact_after = _manifest(part_store, "transactions")["partitions"]
    view_after = _manifest(part_store, "customer_purchase_summary")["partitions"]
    for before, after in ((fact_before, fact_after), (view_before, view_after)):
        carried = [b for b in before if after.get(b) == before[b]]
        rewritten = [b for b in before if after.get(b) != before[b]]
        assert len(rewritten) <= 2  # 2 keys -> at most 2 buckets rewritten
        assert len(carried) >= len(before) - 2
    # delete-only bucket: one 'D' row in a bucket no upsert of its
    # batch hashes into.  Merge's stray-bucket guard sees only upsert
    # buckets, so a bucket set that missed the delete's bucket would
    # commit and silently keep the deleted row.
    bucket_of = {
        r["transaction_id"]: r["b"]
        for r in part_store.read(spark, "transactions")
        .select(
            "transaction_id",
            ParquetTableStore.bucket_expr("transaction_id", 8).alias("b"),
        )
        .collect()
    }
    upserted = [row for _, _, row in small["transactions"]]
    upsert_buckets = {bucket_of[r["transaction_id"]] for r in upserted}
    gone = next(
        k for k, b in sorted(bucket_of.items()) if b not in upsert_buckets
    )
    mixed = {
        "transactions": [
            ("U", 20_000 + i, {**r, "quantity": 7}) for i, r in enumerate(upserted)
        ]
        + [("D", 20_010, {"transaction_id": gone})]
    }
    part.apply_envelope_batch(_envelope_df(spark, mixed), batch_id=100)
    plain.apply_envelope_batch(_envelope_df(spark, mixed), batch_id=100)
    stored = part_store.read(spark, "transactions")
    assert stored.filter(F.col("transaction_id") == gone).count() == 0
    assert _rows(stored) == _rows(plain_store.read(spark, "transactions"))
    assert _rows(mgr.read("customer_purchase_summary")) == _rows(
        plain_mgr.read("customer_purchase_summary")
    )


def test_insert_only_tick_job_count_is_pinned(spark, tmp_path):
    """An insert-only tick on a partitioned fact with an attached
    partitioned view runs a fixed, small number of Spark jobs: the fact
    merge's bucket ids ride the batch's meta aggregate, the envelope is
    the only cached copy of the delta, and a view nothing reads emits no
    change batch.  Counted by the DAGScheduler job-id watermark on two
    warm ticks, so a fold that comes undone shows up here."""
    customers = fixtures.make_customers(40, seed=7)
    merchants = fixtures.make_merchants(seed=7)
    products = fixtures.make_products(seed=7)
    transactions = fixtures.make_transactions(
        customers, products, merchants, n=200, seed=7
    )
    store = ParquetTableStore(str(tmp_path / "s"))
    pipeline = CDCPipeline(spark, store, partition_spec={"transactions": 4})
    pipeline.bootstrap(
        {
            "customers": spark.createDataFrame(customers, CUSTOMERS_SCHEMA),
            "merchants": spark.createDataFrame(merchants, MERCHANTS_SCHEMA),
            "products": spark.createDataFrame(products, PRODUCTS_SCHEMA),
            "transactions": spark.createDataFrame(transactions, TRANSACTIONS_SCHEMA),
        }
    )
    mgr = DynamicTableManager(spark, store)
    mgr.create(DynamicTable(**SUMMARY_VIEW, partition_buckets=4))
    mgr.attach(pipeline)
    inserts_only = [
        b
        for b in fixtures.change_log(
            customers, products, merchants, batches=6, rows_per_batch=40, seed=7
        )
        if all(not rows for t, rows in b.items() if t != "transactions")
        and len(b["transactions"]) == 40
    ]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    counts = []
    for i, batch in enumerate(inserts_only[:3]):
        lo = dag.numTotalJobs()
        pipeline.apply_envelope_batch(_envelope_df(spark, batch), batch_id=i)
        counts.append(dag.numTotalJobs() - lo)
    warm = counts[1:]  # the first tick also pays one-time planning work
    assert warm[0] == warm[1] <= 17, counts
    expected = SUMMARY_VIEW["defining_fn"](
        {t: store.read(spark, t) for t in ("transactions", "customers", "products", "merchants")}
    )
    assert _rows(mgr.read("customer_purchase_summary")) == _rows(expected)


def test_rebucket_preserves_rows_and_enables_merge(spark, tmp_path):
    """Re-bucketing is the growth lever: same rows, new pruning
    granularity, merges keep working at the new bucket count."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "s"))
    base = spark.createDataFrame([(i, i * 2) for i in range(50)], "id long, v long")
    store.overwrite("t", base, partition_key="id", n_buckets=2)
    v = store.rebucket(spark, "t", 8)
    assert store.partition_spec("t") == ("id", 8)
    got = {r["id"]: r["v"] for r in store.read(spark, "t").collect()}
    assert got == {i: i * 2 for i in range(50)}
    # noop rebucket: same version back
    assert store.rebucket(spark, "t", 8) == v
    # time travel to the pre-rebucket layout still reads (while retained)
    old = store.read_version(spark, "t", v - 1)
    assert old.count() == 50
    # merge after rebucket prunes at the new granularity and lands
    ups = spark.createDataFrame([(3, 333), (77, 777)], "id long, v long")
    store.merge(spark, "t", ups, ups.select("id"))
    got = {r["id"]: r["v"] for r in store.read(spark, "t").collect()}
    assert got[3] == 333 and got[77] == 777 and len(got) == 51


def test_append_keeps_same_key_rows(spark, tmp_path):
    """append() is for non-unique-key index tables: rows sharing the
    partition key value with existing rows must survive (merge would
    evict them), and only touched buckets are rewritten."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "s"))
    base = spark.createDataFrame(
        [("band-x", 1), ("band-x", 2), ("band-y", 3)], "band string, doc_id long"
    )
    store.overwrite("idx", base, partition_key="band", n_buckets=4)
    m1 = store._read_manifest("idx", store.current_version("idx"))
    store.append(
        spark,
        "idx",
        spark.createDataFrame([("band-x", 9)], "band string, doc_id long"),
    )
    got = {(r["band"], r["doc_id"]) for r in store.read(spark, "idx").collect()}
    assert got == {("band-x", 1), ("band-x", 2), ("band-x", 9), ("band-y", 3)}
    # untouched buckets carried forward by reference
    m2 = store._read_manifest("idx", store.current_version("idx"))
    carried = [b for b, d in m2["partitions"].items() if m1["partitions"].get(b) == d]
    assert carried  # at least one bucket was not rewritten


def test_append_restamps_schema_marker_on_evolution(spark, tmp_path):
    """A schema-evolving append must re-stamp the zero-row schema
    marker like merge() does (ADVICE r4): after appending rows with a
    new column, an empty or fully-pruned read must see the evolved
    column set, not the stale pre-evolution one."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "s"))
    base = spark.createDataFrame(
        [("band-x", 1), ("band-y", 3)], "band string, doc_id long"
    )
    store.overwrite("idx", base, partition_key="band", n_buckets=4)
    evolved = spark.createDataFrame(
        [("band-x", 9, 0.5)], "band string, doc_id long, score double"
    )
    store.append(spark, "idx", evolved)
    # full read: evolved column present, old rows NULL-filled
    got = store.read(spark, "idx")
    assert set(got.columns) == {"band", "doc_id", "score"}
    # fully-pruned read: only the schema marker contributes columns
    pruned = store.read_buckets(spark, "idx", [])
    assert set(pruned.columns) == {"band", "doc_id", "score"}
    assert pruned.count() == 0
    # non-evolving append does NOT churn the marker
    m_before = store._read_manifest("idx", store.current_version("idx"))
    store.append(
        spark,
        "idx",
        spark.createDataFrame([("band-z", 7, 1.0)], "band string, doc_id long, score double"),
    )
    m_after = store._read_manifest("idx", store.current_version("idx"))
    assert m_after["schema_dir"] == m_before["schema_dir"]


def test_optimize_zorder_preserves_rows_and_tightens_rowgroups(spark, tmp_path):
    """optimize(zorder_cols=...) must keep exact table contents and
    bucket membership while narrowing per-row-group min-max ranges on
    the z-ordered column (the stat row-group pruning reads)."""
    import glob

    import pyarrow.parquet as pq

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "s"))
    # value deliberately anti-correlated with write order inside buckets
    df = spark.range(40000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7919) % 40000).cast("double").alias("v"),
    )
    store.overwrite("t", df, partition_key="k", n_buckets=4)
    before = {(r["k"], r["v"]) for r in store.read(spark, "t").collect()}
    # small row groups so each file holds MANY groups -- min-max
    # pruning operates at row-group granularity, which is where the
    # within-bucket sort pays off
    v = store.optimize(
        spark, "t", zorder_cols=["v"], bits=12,
        writer_options={"parquet.block.size": str(64 * 1024)},
    )
    after = {(r["k"], r["v"]) for r in store.read(spark, "t").collect()}
    assert after == before
    assert store.partition_spec("t") == ("k", 4)
    assert store.current_version("t") == v

    # v-ranges inside each data file must be far narrower than the
    # global span (sorted within bucket -> tight row groups)
    m = store._read_manifest("t", v)
    spans = []
    for rel in m["partitions"].values():
        for f in glob.glob(os.path.join(store.root, "t", rel, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == "v" and c.statistics is not None:
                        spans.append(
                            float(c.statistics.max) - float(c.statistics.min)
                        )
    assert len(spans) > 8  # many row groups per file, not one
    # each bucket holds ~10k ids whose v values cover the full range
    # pre-sort; post-optimize each row group is a contiguous v slice
    assert max(spans) < 40000 * 0.5
    # a later merge still works at the same buckets
    ups = spark.createDataFrame([(1, 99999.0)], "k long, v double")
    store.merge(spark, "t", ups, ups.select("k"))
    assert store.read(spark, "t").filter(F.col("k") == 1).first()["v"] == 99999.0


def test_concurrent_merges_to_distinct_tables(spark, tmp_path):
    """CDCPipeline applies independent dimension merges from a thread
    pool (r9): concurrent store.merge/overwrite calls on DISTINCT
    tables must interleave safely -- disjoint table dirs, disjoint
    version pointers, per-(table, version) claims."""
    from concurrent.futures import ThreadPoolExecutor

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "s"))
    tables = ["ta", "tb", "tc"]
    for t in tables:
        store.overwrite(
            t,
            spark.createDataFrame([(k, 0.0) for k in range(64)], "k long, v double"),
            partition_key="k",
            n_buckets=8,
        )

    def drive(t_round):
        t, rnd = t_round
        ups = spark.createDataFrame(
            [(k, float(rnd * 1000 + k)) for k in range(rnd, 64, 7)],
            "k long, v double",
        )
        store.merge(spark, t, ups, ups.select("k"))

    for rnd in range(1, 4):
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(drive, [(t, rnd) for t in tables]))

    # every table independently reflects ALL of its rounds' upserts
    for t in tables:
        got = {r["k"]: r["v"] for r in store.read(spark, t).collect()}
        assert len(got) == 64
        expect = {k: 0.0 for k in range(64)}
        for rnd in range(1, 4):
            for k in range(rnd, 64, 7):
                expect[k] = float(rnd * 1000 + k)
        assert got == expect, t


def test_table_changes_between_versions(spark, tmp_path):
    """table_changes (the CDF analogue): row-level I/U/D between two
    retained versions, I/U carrying the new image, D the old."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "s"))
    store.overwrite(
        "t",
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
            "k long, s string, v double",
        ),
        partition_key="k",
        n_buckets=4,
    )
    v1 = store.current_version("t")
    ups = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0), (3, "c", None)],  # 3 unchanged
        "k long, s string, v double",
    )
    # delete key 1, upsert the rest (merge keeps untouched keys)
    touched = spark.createDataFrame([(1,), (2,), (3,), (4,)], "k long")
    merged = (
        store.read(spark, "t").join(touched, "k", "left_anti").unionByName(ups)
    )
    store.merge(spark, "t", merged, touched)
    v2 = store.current_version("t")

    got = {
        (r["op"], r["k"]): (r["s"], r["v"])
        for r in store.table_changes(spark, "t", v1, v2).collect()
    }
    assert got == {
        ("D", 1): ("a", 10.0),
        ("U", 2): ("b2", 21.0),
        ("I", 4): ("d", 40.0),
    }
    # identical versions -> empty feed
    assert store.table_changes(spark, "t", v2, v2).count() == 0


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """CDF across an ADD COLUMN: the old side is null-filled for the
    added column (allowMissingColumns semantics), the feed carries
    to_version's schema, and a row whose only delta is the new column
    staying NULL reports no change."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "s"))
    store.overwrite(
        "t",
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        partition_key="k",
        n_buckets=4,
    )
    v1 = store.current_version("t")
    # v2 adds column 'extra': row 1 untouched (NULL extra), row 2 sets it
    store.overwrite(
        "t",
        spark.createDataFrame(
            [(1, "a", None), (2, "b", "x")], "k long, s string, extra string"
        ),
        partition_key="k",
        n_buckets=4,
    )
    v2 = store.current_version("t")
    feed = store.table_changes(spark, "t", v1, v2)
    assert feed.columns == ["op", "k", "s", "extra"]
    got = {(r["op"], r["k"]): r["extra"] for r in feed.collect()}
    # row 1: pre-evolution image == null-filled image -> NOT in the feed
    assert got == {("U", 2): "x"}


def test_table_changes_replay_closure_random(spark, tmp_path):
    """Property: for random merge sequences, applying table_changes(v1,
    v2) onto the v1 snapshot reconstructs v2 exactly -- the CDF is a
    complete, minimal delta."""
    import random

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    rng = random.Random(20260815)
    store = ParquetTableStore(str(tmp_path / "s"), keep_versions=4)
    rows = {k: float(k) for k in range(40)}
    store.overwrite(
        "t",
        spark.createDataFrame(list(rows.items()), "k long, v double"),
        partition_key="k",
        n_buckets=8,
    )
    for trial in range(3):
        v1 = store.current_version("t")
        snap1 = dict(rows)
        # random upserts + deletes
        ups = {rng.randrange(60): rng.random() for _ in range(rng.randint(1, 10))}
        dels = {k for k in rng.sample(sorted(rows), rng.randint(0, 5)) if k not in ups}
        rows.update(ups)
        for k in dels:
            rows.pop(k, None)
        touched = sorted(set(ups) | dels)
        merged = spark.createDataFrame(
            [(k, v) for k, v in rows.items() if k in set(ups)], "k long, v double"
        )
        keep = (
            store.read(spark, "t")
            .join(spark.createDataFrame([(k,) for k in touched], "k long"), "k", "left_anti")
            .unionByName(merged)
        )
        store.merge(spark, "t", keep, spark.createDataFrame([(k,) for k in touched], "k long"))
        v2 = store.current_version("t")

        cdf = store.table_changes(spark, "t", v1, v2).collect()
        replayed = dict(snap1)
        for r in cdf:
            if r["op"] == "D":
                replayed.pop(r["k"], None)
            else:
                replayed[r["k"]] = r["v"]
        assert replayed == rows, f"trial {trial}"
        # minimality: no no-op rows in the feed
        for r in cdf:
            if r["op"] == "U":
                assert snap1.get(r["k"]) != r["v"]
