"""Chained dynamic tables (DT-on-DT DAG): a base-table delta must
cascade through every level incrementally, leaving each view equal to
a full recompute of the whole chain after every batch.

Chain under test:

    transactions --(agg)--> customer_spend (per-customer totals + band)
    customer_spend --(agg)--> band_counts   (customers + spend per band)
    customer_spend --(row)--> vip_customers (filter total > threshold)

Exercised: inserts, band-moving updates (the downstream aggregate must
shrink the OLD band and grow the new one -- resolved via the upstream
view's previous store version), customer-emptying deletes (a 'D' row
must propagate so the customer leaves band_counts and vip_customers),
and a no-op batch (no emitted deltas, no downstream work).
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources import (
    fixtures,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.cdc_schemas import (
    CUSTOMERS_SCHEMA,
    TRANSACTIONS_SCHEMA,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
    FEED_SCHEMA,
    CDCPipeline,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
    DynamicTable,
    DynamicTableManager,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)

VIP_THRESHOLD = 1500.0


def _spend_view(t):
    spend = (
        t["transactions"]
        .filter(F.col("transaction_category") == "Purchase")
        .groupBy("customer_id")
        .agg(F.sum("total_price").alias("total_price"), F.count(F.lit(1)).alias("n_tx"))
    )
    return spend.withColumn(
        "band",
        F.when(F.col("total_price") < 500, "LOW")
        .when(F.col("total_price") < 2000, "MID")
        .otherwise("HIGH"),
    )


def _band_view(t):
    return (
        t["customer_spend"]
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("total_price").alias("band_total"),
        )
    )


def _vip_view(t):
    return (
        t["customer_spend"]
        .filter(F.col("total_price") > VIP_THRESHOLD)
        .select("customer_id", "total_price", "band")
    )


def _canon(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(round(v, 2)) if isinstance(v, float) else str(v) for v in r)
        for r in df.select(*cols).collect()
    )


@pytest.fixture()
def setup(spark, tmp_path):
    customers = fixtures.make_customers(30, seed=91)
    merchants = fixtures.make_merchants(seed=91)
    products = fixtures.make_products(seed=91)
    tx = fixtures.make_transactions(
        customers, products, merchants, n=150, orphan_frac=0.0, seed=91
    )

    store = ParquetTableStore(str(tmp_path / "store"))
    p = CDCPipeline(spark, store)
    p.bootstrap(
        {
            "customers": spark.createDataFrame(customers, CUSTOMERS_SCHEMA),
            "transactions": spark.createDataFrame(tx, TRANSACTIONS_SCHEMA),
        }
    )
    mgr = DynamicTableManager(spark, store)
    mgr.create(
        DynamicTable(
            "customer_spend",
            _spend_view,
            fact_table="transactions",
            fact_key="transaction_id",
            view_key="customer_id",
            group_col="customer_id",
        )
    )
    mgr.create(
        DynamicTable(
            "band_counts",
            _band_view,
            fact_table="customer_spend",
            fact_key="customer_id",
            view_key="band",
            group_col="band",
        )
    )
    mgr.create(
        DynamicTable(
            "vip_customers",
            _vip_view,
            fact_table="customer_spend",
            fact_key="customer_id",
            view_key="customer_id",
        )
    )
    mgr.attach(p)
    return p, store, mgr, (customers, tx)


def _apply(spark, p, batch):
    rows = [
        (op, lsn, None, table, json.dumps(r, default=str))
        for table, changes in batch.items()
        for op, lsn, r in changes
    ]
    p.apply_envelope_batch(spark.createDataFrame(rows, FEED_SCHEMA))


def _assert_chain_matches_full(spark, store, mgr):
    base = {"transactions": store.read(spark, "transactions")}
    level1 = _spend_view(base)
    assert _canon(mgr.read("customer_spend")) == _canon(level1)
    derived = {"customer_spend": level1}
    assert _canon(mgr.read("band_counts")) == _canon(_band_view(derived))
    assert _canon(mgr.read("vip_customers")) == _canon(_vip_view(derived))


def _tx_row(tx_row, **overrides):
    cols = [f.name for f in TRANSACTIONS_SCHEMA.fields]
    d = dict(zip(cols, tx_row))
    d.update(overrides)
    return d


def test_chain_refresh_under_iud(spark, setup):
    p, store, mgr, (customers, tx) = setup

    _assert_chain_matches_full(spark, store, mgr)

    # batch 1: inserts -- a brand-new customer id enters LOW, an
    # existing customer's total grows
    new_cust = customers[0][0]
    _apply(spark, p, {
        "transactions": [
            ("I", 9001, _tx_row(tx[0], transaction_id="TXC1", customer_id=new_cust,
                                transaction_category="Purchase", total_price=120.0)),
            ("I", 9002, _tx_row(tx[1], transaction_id="TXC2",
                                transaction_category="Purchase", total_price=80.0)),
        ]
    })
    _assert_chain_matches_full(spark, store, mgr)

    # batch 2: band-moving update -- push one customer's spend over the
    # HIGH and VIP thresholds in a single batch; the OLD band must
    # shrink downstream (previous-version resolution on the view)
    _apply(spark, p, {
        "transactions": [
            ("I", 9003, _tx_row(tx[2], transaction_id="TXBIG", customer_id=new_cust,
                                transaction_category="Purchase", total_price=5000.0)),
        ]
    })
    _assert_chain_matches_full(spark, store, mgr)
    vip_ids = {r["customer_id"] for r in mgr.read("vip_customers").collect()}
    assert new_cust in vip_ids  # crossed the VIP threshold via the cascade

    # batch 3: customer-emptying deletes -- every Purchase row of
    # new_cust goes away, so a 'D' must propagate: the customer leaves
    # customer_spend, band_counts shrinks, the VIP row disappears
    _apply(spark, p, {
        "transactions": [
            ("D", 9004, {"transaction_id": "TXC1"}),
            ("D", 9005, {"transaction_id": "TXBIG"}),
        ]
    })
    _assert_chain_matches_full(spark, store, mgr)
    assert new_cust not in {r["customer_id"] for r in mgr.read("vip_customers").collect()}

    # batch 4: irrelevant-table batch -- no emitted deltas, chain
    # untouched but still equal to full
    _apply(spark, p, {
        "customers": [("U", 9006, dict(zip([f.name for f in CUSTOMERS_SCHEMA.fields],
                                           customers[3])))]
    })
    _assert_chain_matches_full(spark, store, mgr)

    # refresh history (the DYNAMIC_TABLE_REFRESH_HISTORY analogue):
    # creation logged FULL per view, the three data batches logged a
    # cascade per view -- INCREMENTAL when the recompute changed rows,
    # NO_CHANGE when the affected keys' recompute was byte-identical
    # (r13: a no-op refresh skips its commit so a crash-retried tick
    # cannot shift read_previous downstream; batch 1's filter view can
    # legitimately come out unchanged) -- and the irrelevant batch
    # logged NO_DATA
    hist = [(r["view_name"], r["refresh_mode"]) for r in mgr.refresh_history().collect()]
    assert ("customer_spend", "FULL") in hist  # create-time init
    def _cascades(view):
        return hist.count((view, "INCREMENTAL")) + hist.count((view, "NO_CHANGE"))
    assert hist.count(("customer_spend", "INCREMENTAL")) == 3
    assert hist.count(("band_counts", "INCREMENTAL")) == 3
    assert _cascades("vip_customers") == 3
    assert hist.count(("vip_customers", "INCREMENTAL")) >= 2
    assert hist.count(("customer_spend", "NO_DATA")) == 1  # batch 4
    assert all(d >= 0 for d in (r["duration_sec"] for r in mgr.refresh_history().collect()))


def test_no_change_tick_read_previous_staleness_is_safe(spark, setup):
    """Pins the safety argument for NO_CHANGE skipping the version bump
    (dynamic_table.py incremental_refresh step 3): at a tick where the
    upstream view is NO_CHANGE, the downstream's old-group resolution
    reads ``read_previous`` of a snapshot OLDER than the true pre-tick
    state (the bump was skipped).  That staleness is safe only because
    the emitted delta (a) carries no 'D' rows and (b) its 'U' payloads
    equal the current = pre-tick rows, so a stale prev can only ADD
    spurious affected groups.  This test makes the staleness real and
    asserts the chain still matches a full recompute, then pins the two
    delta-shape invariants directly."""
    p, store, mgr, (customers, tx) = setup
    cust = customers[2][0]

    # tick A: real change -- customer_spend merges and bumps a version
    _apply(spark, p, {"transactions": [
        ("I", 9601, _tx_row(tx[4], transaction_id="TXNC1", customer_id=cust,
                            transaction_category="Purchase", total_price=700.0)),
    ]})
    _assert_chain_matches_full(spark, store, mgr)

    # tick B: a 'U' on TXNC1 touching ONLY a column the view never
    # reads (merchant_id) -- transactions commits, customer_spend's
    # affected-key recompute is byte-identical -> NO_CHANGE, no bump
    noop = _tx_row(tx[4], transaction_id="TXNC1", customer_id=cust,
                   transaction_category="Purchase", total_price=700.0,
                   merchant_id=424242)
    hist_before = mgr.refresh_history().count()
    _apply(spark, p, {"transactions": [("U", 9602, noop)]})
    hist = [(r["view_name"], r["refresh_mode"])
            for r in mgr.refresh_history().collect()][hist_before:]
    assert ("customer_spend", "NO_CHANGE") in hist

    # the staleness is REAL: read_previous (what the downstream used
    # for old-group resolution at tick B) predates tick A's commit and
    # disagrees with the true pre-tick-B state on this customer
    prev = store.read_previous(spark, "customer_spend")
    assert prev is not None
    prev_total = {r["customer_id"]: r["total_price"] for r in prev.collect()}
    cur_total = {r["customer_id"]: r["total_price"]
                 for r in mgr.read("customer_spend").collect()}
    assert prev_total.get(cust) != cur_total[cust]

    # the downstreams consumed the emitted delta against that stale
    # prev (not NO_DATA) and the whole chain still matches full
    assert any(v in ("band_counts", "vip_customers") and m != "NO_DATA"
               for v, m in hist)
    _assert_chain_matches_full(spark, store, mgr)

    # delta-shape invariants (a)+(b), pinned on the emitted batch
    # itself: a phantom no-op 'U' (store already consistent) drives a
    # NO_CHANGE refresh; its emitted delta must be all-'U' with
    # payloads equal to the current view rows.  If either ever fails,
    # the NO_CHANGE branch must start bumping the version too.
    delta_schema = T.StructType(
        [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
        + list(TRANSACTIONS_SCHEMA.fields)
    )
    tx_cols = [f.name for f in TRANSACTIONS_SCHEMA.fields]
    phantom = spark.createDataFrame(
        [tuple(["U", 9603] + [noop[c] for c in tx_cols])], delta_schema
    )
    emitted = mgr.incremental_refresh(
        "customer_spend", {"transactions": phantom}, emit_delta=True, lsn=9603
    )
    rows = emitted.collect()
    assert rows, "NO_CHANGE tick must still emit its affected-key delta"
    assert all(r["op"] == "U" for r in rows)  # (a) no 'D' rows
    cur = {r["customer_id"]: (r["total_price"], r["band"], r["n_tx"])
           for r in mgr.read("customer_spend").collect()}
    for r in rows:  # (b) payloads equal current rows
        assert (r["total_price"], r["band"], r["n_tx"]) == cur[r["customer_id"]]

    # tick C: a later REAL change on the same customer -- post-NO_CHANGE
    # version history must not poison the cascade
    _apply(spark, p, {"transactions": [
        ("I", 9604, _tx_row(tx[5], transaction_id="TXNC2", customer_id=cust,
                            transaction_category="Purchase", total_price=4000.0)),
    ]})
    _assert_chain_matches_full(spark, store, mgr)


def test_refresh_order_is_topological_and_cycles_raise(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "store"))
    mgr = DynamicTableManager(spark, store)
    # register DOWNSTREAM first: creation order must not dictate
    # refresh order
    mgr.create(
        DynamicTable("level2", _band_view, fact_table="level1",
                     fact_key="customer_id", view_key="band", group_col="band"),
        initialize=False,
    )
    mgr.create(
        DynamicTable("level1", _spend_view, fact_table="transactions",
                     fact_key="transaction_id", view_key="customer_id",
                     group_col="customer_id"),
        initialize=False,
    )
    assert mgr.refresh_order() == ["level1", "level2"]

    mgr2 = DynamicTableManager(spark, store)
    mgr2.create(
        DynamicTable("a", _band_view, fact_table="b", fact_key="k", view_key="k"),
        initialize=False,
    )
    mgr2.create(
        DynamicTable("b", _band_view, fact_table="a", fact_key="k", view_key="k"),
        initialize=False,
    )
    with pytest.raises(ValueError, match="cycle"):
        mgr2.refresh_order()


def test_upstream_full_refresh_forces_downstream_full(spark, tmp_path):
    """A level that cannot refresh incrementally (no previous version
    for old-group resolution) must force its downstreams to full
    refresh -- and the chain still matches a full recompute."""
    customers = fixtures.make_customers(10, seed=7)
    merchants = fixtures.make_merchants(seed=7)
    products = fixtures.make_products(seed=7)
    tx = fixtures.make_transactions(customers, products, merchants, n=40,
                                    orphan_frac=0.0, seed=7)
    store = ParquetTableStore(str(tmp_path / "store"), keep_versions=1)
    p = CDCPipeline(spark, store)
    p.bootstrap({
        "customers": spark.createDataFrame(customers, CUSTOMERS_SCHEMA),
        "transactions": spark.createDataFrame(tx, TRANSACTIONS_SCHEMA),
    })
    mgr = DynamicTableManager(spark, store)
    mgr.create(DynamicTable("customer_spend", _spend_view, fact_table="transactions",
                            fact_key="transaction_id", view_key="customer_id",
                            group_col="customer_id"))
    mgr.create(DynamicTable("band_counts", _band_view, fact_table="customer_spend",
                            fact_key="customer_id", view_key="band", group_col="band"))
    mgr.attach(p)
    # keep_versions=1: read_previous(transactions) is gone after the
    # next apply, so customer_spend falls back to full refresh and
    # band_counts must follow -- correctness must hold regardless
    _apply(spark, p, {
        "transactions": [("D", 9100, {"transaction_id": tx[0][0]})]
    })
    level1 = _spend_view({"transactions": store.read(spark, "transactions")})
    assert _canon(mgr.read("customer_spend")) == _canon(level1)
    assert _canon(mgr.read("band_counts")) == _canon(_band_view({"customer_spend": level1}))


def test_flat_registry_emits_no_deltas(spark, tmp_path):
    """``refresh_dag`` builds a view's change batch only when another
    registered view reads that view: on a flat registry it returns
    ``{}``, and every view still refreshes incrementally to exactly
    a full recompute."""
    customers = fixtures.make_customers(10, seed=5)
    merchants = fixtures.make_merchants(seed=5)
    products = fixtures.make_products(seed=5)
    tx = fixtures.make_transactions(customers, products, merchants, n=40,
                                    orphan_frac=0.0, seed=5)
    store = ParquetTableStore(str(tmp_path / "store"))
    p = CDCPipeline(spark, store)
    p.bootstrap({
        "customers": spark.createDataFrame(customers, CUSTOMERS_SCHEMA),
        "transactions": spark.createDataFrame(tx, TRANSACTIONS_SCHEMA),
    })

    def purchases(t):
        return t["transactions"].select("transaction_id", "customer_id", "total_price")

    mgr = DynamicTableManager(spark, store)
    mgr.create(DynamicTable("customer_spend", _spend_view, fact_table="transactions",
                            fact_key="transaction_id", view_key="customer_id",
                            group_col="customer_id"))
    mgr.create(DynamicTable("purchases", purchases, fact_table="transactions",
                            fact_key="transaction_id", view_key="transaction_id"))
    rows = [
        ("U", 9200, None, "transactions",
         json.dumps(_tx_row(tx[0], total_price=1234.5), default=str)),
        ("D", 9201, None, "transactions", json.dumps({"transaction_id": tx[1][0]})),
        ("I", 9202, None, "transactions",
         json.dumps(_tx_row(tx[2], transaction_id="TXNEW"), default=str)),
    ]
    deltas = p.apply_envelope_batch(spark.createDataFrame(rows, FEED_SCHEMA))
    n_log = len(mgr.refresh_log)
    assert mgr.refresh_dag(deltas, lsn=9202) == {}
    assert [r[1] for r in mgr.refresh_log[n_log:]] == ["INCREMENTAL", "INCREMENTAL"]
    base = {"transactions": store.read(spark, "transactions")}
    assert _canon(mgr.read("customer_spend")) == _canon(_spend_view(base))
    assert _canon(mgr.read("purchases")) == _canon(purchases(base))


def test_unsatisfiable_target_lag_rejected(spark, tmp_path):
    """A downstream view declaring a tighter target lag than its
    upstream is unsatisfiable -- create() must reject it."""
    store = ParquetTableStore(str(tmp_path / "store"))
    mgr = DynamicTableManager(spark, store)
    mgr.create(
        DynamicTable("level1", _spend_view, fact_table="transactions",
                     fact_key="transaction_id", view_key="customer_id",
                     group_col="customer_id", target_lag_seconds=120),
        initialize=False,
    )
    with pytest.raises(ValueError, match="cannot be fresher"):
        mgr.create(
            DynamicTable("level2", _band_view, fact_table="level1",
                         fact_key="customer_id", view_key="band",
                         group_col="band", target_lag_seconds=30),
            initialize=False,
        )
    # equal or looser lag is fine
    mgr.create(
        DynamicTable("level2", _band_view, fact_table="level1",
                     fact_key="customer_id", view_key="band",
                     group_col="band", target_lag_seconds=120),
        initialize=False,
    )


def test_loosening_upstream_lag_rejected(spark, tmp_path):
    """The same invariant from the other side: re-creating an UPSTREAM
    with a looser lag (create() overwrites registry entries) must not
    silently break a downstream that already promised a tighter one."""
    store = ParquetTableStore(str(tmp_path / "store"))
    mgr = DynamicTableManager(spark, store)
    mgr.create(
        DynamicTable("level1", _spend_view, fact_table="transactions",
                     fact_key="transaction_id", view_key="customer_id",
                     group_col="customer_id", target_lag_seconds=60),
        initialize=False,
    )
    mgr.create(
        DynamicTable("level2", _band_view, fact_table="level1",
                     fact_key="customer_id", view_key="band",
                     group_col="band", target_lag_seconds=60),
        initialize=False,
    )
    with pytest.raises(ValueError, match="loosening an upstream"):
        mgr.create(
            DynamicTable("level1", _spend_view, fact_table="transactions",
                         fact_key="transaction_id", view_key="customer_id",
                         group_col="customer_id", target_lag_seconds=600),
            initialize=False,
        )
    # re-creating with the same (or tighter) lag stays legal
    mgr.create(
        DynamicTable("level1", _spend_view, fact_table="transactions",
                     fact_key="transaction_id", view_key="customer_id",
                     group_col="customer_id", target_lag_seconds=30),
        initialize=False,
    )


def test_envelope_column_collision_rejected(spark, setup):
    """A view whose own schema contains 'op' or 'lsn' would emit
    duplicate column names in its chained change batch -- create()
    must reject it at initialize time, and the emit path must reject
    an initialize=False creation the first time it emits."""
    p, store, mgr, (customers, tx) = setup

    def bad_view(t):
        return t["transactions"].select(
            "transaction_id", "customer_id", F.lit("x").alias("op")
        )  # 'op' collides with the envelope

    with pytest.raises(ValueError, match="collide"):
        mgr.create(
            DynamicTable("bad_dt", bad_view, fact_table="transactions",
                         fact_key="transaction_id", view_key="transaction_id")
        )
    # initialize=False defers the schema check to emit time
    mgr.create(
        DynamicTable("bad_dt", bad_view, fact_table="transactions",
                     fact_key="transaction_id", view_key="transaction_id"),
        initialize=False,
    )
    mgr.full_refresh("bad_dt")
    delta = spark.createDataFrame(
        [("D", 9000, str(tx[0][0]))],
        "op string, lsn long, transaction_id string",
    )
    with pytest.raises(ValueError, match="collide"):
        mgr.incremental_refresh(
            "bad_dt", {"transactions": delta}, emit_delta=True, lsn=9000
        )


def test_diamond_dag_with_view_as_dim(spark, setup):
    """Diamond: transactions -> customer_spend -> vip_customers, and a
    sink view reading transactions as FACT and vip_customers as DIM
    (per-category purchase counts by VIP customers).  A base delta that
    flips a customer's VIP status must cascade through THREE levels and
    hit the sink through the dim role: its fact rows reference the
    changed vip key, so the affected categories recompute."""
    p, store, mgr, (customers, tx) = setup

    def vip_tx_view(t):
        j = t["transactions"].join(
            t["vip_customers"].select("customer_id"), "customer_id", "inner"
        )
        return j.groupBy("transaction_category").agg(
            F.count(F.lit(1)).alias("n_vip_tx"),
            F.sum("total_price").alias("vip_total"),
        )

    mgr.create(
        DynamicTable(
            "vip_tx_stats",
            vip_tx_view,
            fact_table="transactions",
            fact_key="transaction_id",
            view_key="transaction_category",
            dims={"vip_customers": ("customer_id", "customer_id")},
            group_col="transaction_category",
        )
    )
    assert mgr.refresh_order().index("vip_customers") < mgr.refresh_order().index("vip_tx_stats")

    def assert_sink_matches_full():
        base = {"transactions": store.read(spark, "transactions")}
        level1 = _spend_view(base)
        derived = {
            "transactions": base["transactions"],
            "vip_customers": _vip_view({"customer_spend": level1}),
        }
        assert _canon(mgr.read("vip_tx_stats")) == _canon(vip_tx_view(derived))

    assert_sink_matches_full()

    # flip a customer INTO VIP with one big purchase: vip_customers
    # gains a row (emitted 'U'), and the sink must pull in ALL of that
    # customer's existing transactions via the dim-hit path
    flip_cust = customers[7][0]
    _apply(spark, p, {
        "transactions": [
            ("I", 9301, _tx_row(tx[5], transaction_id="TXVIP", customer_id=flip_cust,
                                transaction_category="Purchase", total_price=9999.0)),
        ]
    })
    assert_sink_matches_full()

    # flip them back OUT by deleting it: vip_customers emits a 'D',
    # and the sink's affected categories must shed their rows
    _apply(spark, p, {
        "transactions": [("D", 9302, {"transaction_id": "TXVIP"})]
    })
    assert_sink_matches_full()


# ---------------------------------------------------------------------------
# Randomized differential: arbitrary I/U/D streams through the chain.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# a batch is a list of (op, pk-slot, customer-slot, amount); slots map
# into small universes so updates/deletes hit existing rows often and
# several transactions share a customer (group churn)
_ops = st.sampled_from(["I", "U", "D"])
_batches = st.lists(
    st.lists(
        st.tuples(_ops, st.integers(0, 11), st.integers(0, 4),
                  st.floats(10.0, 4000.0, allow_nan=False, width=32)),
        min_size=1, max_size=5,
    ),
    min_size=1, max_size=3,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(_batches)
@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_chain_matches_full_on_random_streams(spark, tmp_path_factory, batches):
    customers = fixtures.make_customers(6, seed=3)
    merchants = fixtures.make_merchants(seed=3)
    products = fixtures.make_products(seed=3)
    tx = fixtures.make_transactions(customers, products, merchants, n=24,
                                    orphan_frac=0.0, seed=3)
    tmp = tmp_path_factory.mktemp("chain-prop")
    store = ParquetTableStore(str(tmp / "store"))
    p = CDCPipeline(spark, store)
    p.bootstrap({"transactions": spark.createDataFrame(tx, TRANSACTIONS_SCHEMA)})
    mgr = DynamicTableManager(spark, store)
    mgr.create(DynamicTable("customer_spend", _spend_view, fact_table="transactions",
                            fact_key="transaction_id", view_key="customer_id",
                            group_col="customer_id"))
    mgr.create(DynamicTable("band_counts", _band_view, fact_table="customer_spend",
                            fact_key="customer_id", view_key="band", group_col="band"))
    mgr.create(DynamicTable("vip_customers", _vip_view, fact_table="customer_spend",
                            fact_key="customer_id", view_key="customer_id"))
    mgr.attach(p)

    lsn = 10_000
    for batch in batches:
        rows = []
        for op, pk_slot, cust_slot, amount in batch:
            lsn += 1
            pk = f"TXP{pk_slot}"
            if op == "D":
                rows.append(("D", lsn, {"transaction_id": pk}))
            else:
                rows.append((op, lsn, _tx_row(
                    tx[pk_slot % len(tx)], transaction_id=pk,
                    customer_id=customers[cust_slot][0],
                    transaction_category="Purchase",
                    total_price=round(float(amount), 2))))
        _apply(spark, p, {"transactions": rows})
        _assert_chain_matches_full(spark, store, mgr)


def test_chain_over_partitioned_stores(spark, tmp_path):
    """The O(delta-bucket) partitioned merge composes with chaining:
    both levels materialized with partition_buckets still cascade and
    stay equal to a full recompute under inserts and deletes."""
    customers = fixtures.make_customers(12, seed=17)
    merchants = fixtures.make_merchants(seed=17)
    products = fixtures.make_products(seed=17)
    tx = fixtures.make_transactions(customers, products, merchants, n=60,
                                    orphan_frac=0.0, seed=17)
    store = ParquetTableStore(str(tmp_path / "store"))
    p = CDCPipeline(spark, store)
    p.bootstrap({"transactions": spark.createDataFrame(tx, TRANSACTIONS_SCHEMA)})
    mgr = DynamicTableManager(spark, store)
    mgr.create(DynamicTable("customer_spend", _spend_view, fact_table="transactions",
                            fact_key="transaction_id", view_key="customer_id",
                            group_col="customer_id", partition_buckets=8))
    mgr.create(DynamicTable("band_counts", _band_view, fact_table="customer_spend",
                            fact_key="customer_id", view_key="band", group_col="band",
                            partition_buckets=4))
    mgr.attach(p)

    def assert_levels_match():
        level1 = _spend_view({"transactions": store.read(spark, "transactions")})
        assert _canon(mgr.read("customer_spend")) == _canon(level1)
        assert _canon(mgr.read("band_counts")) == _canon(_band_view({"customer_spend": level1}))

    assert_levels_match()
    _apply(spark, p, {
        "transactions": [
            ("I", 9401, _tx_row(tx[0], transaction_id="TXPB1",
                                customer_id=customers[2][0],
                                transaction_category="Purchase", total_price=250.0)),
        ]
    })
    assert_levels_match()
    _apply(spark, p, {
        "transactions": [("D", 9402, {"transaction_id": "TXPB1"}),
                          ("D", 9403, {"transaction_id": tx[1][0]})]
    })
    assert_levels_match()


def test_sql_defined_view_chains_on_a_view(spark, tmp_path):
    """The product surface: a SQL-text dynamic table defined OVER
    another dynamic table (CREATE DYNAMIC TABLE ... AS SELECT ... FROM
    <other_dt>) must participate in the cascade like any chained
    view."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
        dynamic_table_from_sql,
    )

    customers = fixtures.make_customers(10, seed=23)
    merchants = fixtures.make_merchants(seed=23)
    products = fixtures.make_products(seed=23)
    tx = fixtures.make_transactions(customers, products, merchants, n=50,
                                    orphan_frac=0.0, seed=23)
    store = ParquetTableStore(str(tmp_path / "store"))
    p = CDCPipeline(spark, store)
    p.bootstrap({"transactions": spark.createDataFrame(tx, TRANSACTIONS_SCHEMA)})
    mgr = DynamicTableManager(spark, store)
    mgr.create(DynamicTable("customer_spend", _spend_view, fact_table="transactions",
                            fact_key="transaction_id", view_key="customer_id",
                            group_col="customer_id"))
    mgr.create(dynamic_table_from_sql(
        spark, store, "band_counts_sql",
        "SELECT band, count(*) AS n_customers, sum(total_price) AS band_total "
        "FROM customer_spend GROUP BY band",
        fact_table="customer_spend",
        fact_key="customer_id",
        view_key="band",
        dims={},
        group_col="band",
    ))
    mgr.attach(p)

    def assert_matches():
        level1 = _spend_view({"transactions": store.read(spark, "transactions")})
        assert _canon(mgr.read("customer_spend")) == _canon(level1)
        assert _canon(mgr.read("band_counts_sql")) == _canon(_band_view({"customer_spend": level1}))

    assert_matches()
    _apply(spark, p, {
        "transactions": [
            ("I", 9501, _tx_row(tx[0], transaction_id="TXSQL1",
                                customer_id=customers[4][0],
                                transaction_category="Purchase", total_price=333.0)),
        ]
    })
    assert_matches()
    _apply(spark, p, {
        "transactions": [("D", 9502, {"transaction_id": "TXSQL1"})]
    })
    assert_matches()
