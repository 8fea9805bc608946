"""Feed-level schema evolution (upstream ADD COLUMN propagation).

The reference's connector propagates Postgres DDL into the replicated
Snowflake tables automatically (snapshot re-introspection; SURVEY.md
section 3.1).  The Spark pipeline's equivalent is the op='S'
schema-change envelope row: it widens the per-table runtime parse
schema in lsn order, persists the widened schema next to the offset,
and the store's mergeSchema read surfaces old rows NULL-filled.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.cdc_schemas import (
    CUSTOMERS_SCHEMA,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
    FEED_SCHEMA,
    FEED_SCHEMA_TXN,
    CDCPipeline,
    write_feed_batch,
    write_feed_ddl,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.debezium import (
    debezium_schema_changes,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)


def _customer_row(cid, extra=None):
    row = {
        "customer_id": cid,
        "firstname": f"F{cid}",
        "lastname": f"L{cid}",
        "age": 30,
        "email": f"c{cid}@x.com",
        "phone_number": "555",
    }
    row.update(extra or {})
    return row


def _envelope(spark, records, txn=False):
    schema = FEED_SCHEMA_TXN if txn else FEED_SCHEMA
    rows = []
    for r in records:
        base = (
            r["op"],
            r["lsn"],
            None,
            r["table"],
            json.dumps(r["row"], default=str) if r.get("row") is not None else r.get("after_json"),
        )
        rows.append(base + ((r.get("tx_id"),) if txn else ()))
    return spark.createDataFrame(rows, schema)


def _seeded_pipeline(spark, tmp_path, partitioned=False, zone_spec=None):
    store = ParquetTableStore(str(tmp_path / "store"))
    spec = {"customers": 8} if partitioned else None
    p = CDCPipeline(spark, store, partition_spec=spec, zone_spec=zone_spec)
    seed = spark.createDataFrame(
        [tuple(_customer_row(i).values()) for i in range(1, 4)],
        CUSTOMERS_SCHEMA,
    )
    p.bootstrap({"customers": seed})
    return p, store


@pytest.mark.parametrize("partitioned", [False, True])
def test_add_column_backfills_null_and_types(spark, tmp_path, partitioned):
    p, store = _seeded_pipeline(spark, tmp_path, partitioned)
    batch = [
        {
            "op": "S",
            "lsn": 10,
            "table": "customers",
            "row": None,
            "after_json": json.dumps(
                {"add_columns": [
                    {"name": "loyalty_tier", "type": "string"},
                    {"name": "points", "type": "int"},
                ]}
            ),
        },
        {"op": "I", "lsn": 11, "table": "customers",
         "row": _customer_row(4, {"loyalty_tier": "gold", "points": 120})},
        # pre-DDL-style row (written without the new columns) still applies
        {"op": "U", "lsn": 12, "table": "customers", "row": _customer_row(2)},
    ]
    p.apply_envelope_batch(_envelope(spark, batch))
    out = store.read(spark, "customers")
    assert dict(out.dtypes)["loyalty_tier"] == "string"
    assert dict(out.dtypes)["points"] == "int"
    got = {r["customer_id"]: (r["loyalty_tier"], r["points"]) for r in out.collect()}
    assert got[4] == ("gold", 120)
    assert got[1] == (None, None)  # seed row NULL-backfilled
    assert got[2] == (None, None)  # post-DDL row missing the field


def test_schema_persists_across_restart(spark, tmp_path):
    p, store = _seeded_pipeline(spark, tmp_path)
    ddl = [{
        "op": "S", "lsn": 10, "table": "customers", "row": None,
        "after_json": json.dumps({"add_columns": [{"name": "loyalty_tier", "type": "string"}]}),
    }]
    p.apply_envelope_batch(_envelope(spark, ddl))
    # a RESTARTED pipeline (fresh instance, same store root) must parse
    # the evolved column without replaying the op='S' row
    p2 = CDCPipeline(spark, store)
    p2.apply_envelope_batch(
        _envelope(spark, [{"op": "I", "lsn": 20, "table": "customers",
                           "row": _customer_row(9, {"loyalty_tier": "silver"})}])
    )
    got = {r["customer_id"]: r["loyalty_tier"]
           for r in store.read(spark, "customers").collect()}
    assert got[9] == "silver"


def test_bootstrap_seed_with_extra_columns_records_schema(spark, tmp_path):
    """A snapshot taken AFTER upstream DDL already carries the added
    column; tail rows using it must parse with values."""
    store = ParquetTableStore(str(tmp_path / "store"))
    p = CDCPipeline(spark, store)
    from pyspark.sql import types as T

    evolved_schema = T.StructType(
        list(CUSTOMERS_SCHEMA.fields)
        + [T.StructField("loyalty_tier", T.StringType(), True)]
    )
    seed = spark.createDataFrame(
        [tuple(_customer_row(i).values()) + ("bronze",) for i in range(1, 3)],
        evolved_schema,
    )
    p.bootstrap({"customers": seed}, snapshot_lsn=100)
    assert ("loyalty_tier", "string") in p.schema_extras["customers"]
    p.apply_envelope_batch(
        _envelope(spark, [{"op": "I", "lsn": 101, "table": "customers",
                           "row": _customer_row(7, {"loyalty_tier": "gold"})}])
    )
    got = {r["customer_id"]: r["loyalty_tier"]
           for r in store.read(spark, "customers").collect()}
    assert got == {1: "bronze", 2: "bronze", 7: "gold"}


def test_ddl_inside_open_transaction_is_deferred(spark, tmp_path):
    """Postgres DDL is transactional: an op='S' row carrying a tx_id
    must not widen the schema until its commit marker arrives."""
    p, store = _seeded_pipeline(spark, tmp_path)
    open_tx = [
        {"op": "S", "lsn": 10, "table": "customers", "row": None, "tx_id": 77,
         "after_json": json.dumps({"add_columns": [{"name": "vip", "type": "boolean"}]})},
        {"op": "I", "lsn": 11, "table": "customers", "tx_id": 77,
         "row": _customer_row(5, {"vip": True})},
    ]
    p.apply_envelope_batch(_envelope(spark, open_tx, txn=True))
    assert "vip" not in [n for n, _ in p.schema_extras.get("customers", [])]
    assert "vip" not in store.read(spark, "customers").columns
    # marker arrives -> buffered DDL + data both apply
    marker = [{"op": "C", "lsn": 12, "table": "_commit", "row": None,
               "after_json": None, "tx_id": 77}]
    p.apply_envelope_batch(_envelope(spark, marker, txn=True))
    got = {r["customer_id"]: r["vip"] for r in store.read(spark, "customers").collect()}
    assert got[5] is True
    assert got[1] is None


def test_ddl_replay_is_idempotent(spark, tmp_path):
    p, store = _seeded_pipeline(spark, tmp_path)
    batch = _envelope(spark, [
        {"op": "S", "lsn": 10, "table": "customers", "row": None,
         "after_json": json.dumps({"add_columns": [{"name": "loyalty_tier", "type": "string"}]})},
        {"op": "I", "lsn": 11, "table": "customers",
         "row": _customer_row(4, {"loyalty_tier": "gold"})},
    ])
    p.apply_envelope_batch(batch)
    p.apply_envelope_batch(batch)  # crash-replay of the same micro-batch
    extras = [n for n, _ in p.schema_extras["customers"]]
    assert extras == ["loyalty_tier"]
    out = store.read(spark, "customers")
    assert out.filter(F.col("customer_id") == 4).count() == 1


def test_stream_end_to_end_with_ddl_file(spark, tmp_path):
    """availableNow drain over a feed directory containing a DDL file
    between two data files."""
    p, store = _seeded_pipeline(spark, tmp_path)
    feed = str(tmp_path / "feed")
    write_feed_batch(feed, {"customers": [("I", 1, _customer_row(10))]})
    write_feed_ddl(feed, "customers", [("loyalty_tier", "string")], lsn=2)
    write_feed_batch(
        feed,
        {"customers": [("I", 3, _customer_row(11, {"loyalty_tier": "gold"}))]},
    )
    q = p.start_stream(feed, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {r["customer_id"]: r.asDict().get("loyalty_tier")
           for r in store.read(spark, "customers").collect()}
    assert got[11] == "gold"
    assert got[10] is None


@pytest.mark.parametrize("partitioned", [False, True])
def test_type_widening_int_to_bigint(spark, tmp_path, partitioned):
    """The reference connector survives Postgres ALTER TYPE int ->
    bigint (SURVEY.md section 1.3).  The op='S' alter_columns row must
    widen the runtime parse schema AND cast-rewrite the stored table
    once (parquet mergeSchema cannot reconcile int32/int64 files), so
    post-DDL rows carrying > 2^31 values land losslessly."""
    zone_spec = {"customers": ["age"]} if partitioned else None
    p, store = _seeded_pipeline(spark, tmp_path, partitioned, zone_spec)
    big = 3_000_000_000  # does not fit an int32
    batch = [
        {"op": "S", "lsn": 10, "table": "customers", "row": None,
         "after_json": json.dumps(
             {"alter_columns": [{"name": "age", "type": "bigint"}]})},
        {"op": "I", "lsn": 11, "table": "customers",
         "row": _customer_row(4, {"age": big})},
        # pre-DDL-shaped row (small value) still applies
        {"op": "U", "lsn": 12, "table": "customers", "row": _customer_row(2)},
    ]
    p.apply_envelope_batch(_envelope(spark, batch))
    out = store.read(spark, "customers")
    assert dict(out.dtypes)["age"] == "bigint"
    got = {r["customer_id"]: r["age"] for r in out.collect()}
    assert got[4] == big
    assert got[1] == 30  # pre-widening row cast-preserved, not nulled
    if partitioned:
        # the one-time rewrite keeps the bucket layout (O(delta)
        # merges continue afterwards) and the zone columns
        assert store.partition_spec("customers") == ("customer_id", 8)
        m = store._read_manifest("customers", store.current_version("customers"))
        assert m["zone_cols"] == ["age"] and m["zones"]
    # replaying the same micro-batch is a no-op for the widening too
    p.apply_envelope_batch(_envelope(spark, batch))
    out2 = store.read(spark, "customers")
    assert dict(out2.dtypes)["age"] == "bigint"
    assert out2.filter(F.col("customer_id") == 4).count() == 1


def test_key_widening_with_data_on_partitioned_table(spark, tmp_path):
    """Widening the partition KEY int -> bigint changes every key's
    hash, so the batch's bucket ids hashed under the pre-DDL schema
    would name the wrong buckets: a batch carrying DDL must fall back
    to the merge's own bucket collect.  The same batch's inserts,
    update and delete must leave the partitioned replica equal to the
    unpartitioned one."""
    batch = [
        {"op": "S", "lsn": 10, "table": "customers", "row": None,
         "after_json": json.dumps(
             {"alter_columns": [{"name": "customer_id", "type": "bigint"}]})},
        {"op": "I", "lsn": 11, "table": "customers",
         "row": _customer_row(3_000_000_000)},
        {"op": "I", "lsn": 12, "table": "customers", "row": _customer_row(5)},
        {"op": "U", "lsn": 13, "table": "customers",
         "row": _customer_row(2, {"age": 41})},
        {"op": "D", "lsn": 14, "table": "customers",
         "row": {"customer_id": 3}},
    ]
    got = {}
    for partitioned in (False, True):
        p, store = _seeded_pipeline(spark, tmp_path / str(partitioned), partitioned)
        p.apply_envelope_batch(_envelope(spark, batch))
        out = store.read(spark, "customers")
        assert dict(out.dtypes)["customer_id"] == "bigint"
        got[partitioned] = sorted(
            tuple(r) for r in out.select(*sorted(out.columns)).collect()
        )
    assert got[True] == got[False]
    assert {r[1] for r in got[True]} == {1, 2, 5, 3_000_000_000}


def test_widening_persists_across_restart(spark, tmp_path):
    p, store = _seeded_pipeline(spark, tmp_path)
    p.apply_envelope_batch(_envelope(spark, [
        {"op": "S", "lsn": 10, "table": "customers", "row": None,
         "after_json": json.dumps(
             {"alter_columns": [{"name": "age", "type": "bigint"}]})},
    ]))
    # fresh instance, same store root: the widening must come back from
    # the persisted schema state, not from replaying the op='S' row
    p2 = CDCPipeline(spark, store)
    assert dict(p2.schema_widenings)["customers"] == {"age": "bigint"}
    p2.apply_envelope_batch(_envelope(spark, [
        {"op": "I", "lsn": 20, "table": "customers",
         "row": _customer_row(9, {"age": 5_000_000_000})},
    ]))
    got = {r["customer_id"]: r["age"]
           for r in store.read(spark, "customers").collect()}
    assert got[9] == 5_000_000_000


@pytest.mark.parametrize(
    "alter,err",
    [
        ({"name": "age", "type": "smallint"}, "not a lossless widening"),
        ({"name": "age", "type": "string"}, "not a lossless widening"),
        ({"name": "nope", "type": "bigint"}, "unknown column"),
    ],
)
def test_illegal_alter_rejected(spark, tmp_path, alter, err):
    """Narrowing, cross-family, and unknown-column alters must fail
    LOUDLY instead of silently corrupting the replica."""
    p, _store = _seeded_pipeline(spark, tmp_path)
    bad = _envelope(spark, [
        {"op": "S", "lsn": 10, "table": "customers", "row": None,
         "after_json": json.dumps({"alter_columns": [alter]})},
    ])
    with pytest.raises(ValueError, match=err):
        p.apply_envelope_batch(bad)


def test_widening_roundtrips_through_dynamic_table(spark, tmp_path):
    """A widening DDL followed by data using the wide range must flow
    through the store AND an attached dynamic table's incremental
    refresh, leaving the view equal to a full recompute."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
        DynamicTable,
        DynamicTableManager,
    )

    p, store = _seeded_pipeline(spark, tmp_path)

    def age_view(t):
        return (
            t["customers"]
            .groupBy("lastname")
            .agg(F.sum("age").alias("total_age"),
                 F.count(F.lit(1)).alias("n"))
        )

    mgr = DynamicTableManager(spark, store)
    mgr.create(DynamicTable(
        "age_by_last", age_view, fact_table="customers",
        fact_key="customer_id", view_key="lastname", group_col="lastname",
    ))
    mgr.attach(p)
    big = 4_000_000_000
    p.apply_envelope_batch(_envelope(spark, [
        {"op": "S", "lsn": 10, "table": "customers", "row": None,
         "after_json": json.dumps(
             {"alter_columns": [{"name": "age", "type": "bigint"}]})},
        {"op": "U", "lsn": 11, "table": "customers",
         "row": _customer_row(2, {"age": big})},
    ]))

    def canon(df):
        return sorted(tuple(r) for r in df.select("lastname", "total_age", "n").collect())

    recomputed = age_view({"customers": store.read(spark, "customers")})
    assert canon(mgr.read("age_by_last")) == canon(recomputed)
    got = {r["lastname"]: r["total_age"]
           for r in mgr.read("age_by_last").collect()}
    assert got["L2"] == big


def test_debezium_schema_change_adapter(spark, tmp_path):
    """Debezium schema-change-topic ALTER event -> op='S' envelope row
    -> pipeline applies it (full-column-list semantics: existing
    columns are skipped, the new one is added with the mapped type)."""
    event = {
        "payload": {
            "source": {"lsn": 900, "ts_ms": 1700000000000},
            "ddl": "ALTER TABLE customers ADD COLUMN points int4",
            "tableChanges": [
                {
                    "type": "ALTER",
                    "id": '"public"."customers"',
                    "table": {
                        "columns": [
                            {"name": "customer_id", "typeName": "int4"},
                            {"name": "firstname", "typeName": "varchar"},
                            {"name": "lastname", "typeName": "varchar"},
                            {"name": "age", "typeName": "int4"},
                            {"name": "email", "typeName": "varchar"},
                            {"name": "phone_number", "typeName": "varchar"},
                            {"name": "points", "typeName": "int4"},
                        ]
                    },
                }
            ],
        }
    }
    raw = spark.createDataFrame([(json.dumps(event),)], "value string")
    env = debezium_schema_changes(raw)
    row = env.collect()[0]
    assert (row["op"], row["lsn"], row["table_name"]) == ("S", 900, "customers")
    spec = json.loads(row["after_json"])
    assert {"name": "points", "type": "int"} in spec["add_columns"]

    p, store = _seeded_pipeline(spark, tmp_path)
    p.apply_envelope_batch(env)
    assert [n for n, _ in p.schema_extras["customers"]] == ["points"]
    assert dict(p.table_schema("customers").fields[-1].jsonValue().items())[
        "name"
    ] == "points"


def test_flattened_debezium_schema_change_accepted(spark):
    event = {
        "source": {"lsn": 901, "ts_ms": 1700000000001},
        "tableChanges": [
            {"type": "ALTER", "id": "public.merchants",
             "table": {"columns": [
                 {"name": "merchant_id", "typeName": "int4"},
                 {"name": "merchant_name", "typeName": "text"},
                 {"name": "merchant_category", "typeName": "text"},
                 {"name": "rating", "typeName": "float8"},
             ]}}
        ],
    }
    raw = spark.createDataFrame([(json.dumps(event),)], "value string")
    row = debezium_schema_changes(raw).collect()[0]
    assert row["table_name"] == "merchants"
    assert {"name": "rating", "type": "double"} in json.loads(row["after_json"])["add_columns"]


# -- randomized DDL/data interleavings vs a dict model ---------------------

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_COL_POOL = ["loyalty_tier", "segment", "notes"]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    batches=st.lists(
        st.tuples(
            # columns DECLARED (via op='S') at the start of this batch
            st.lists(st.sampled_from(_COL_POOL), unique=True, max_size=2),
            # data ops: (customer_id, op, cols-the-writer-includes)
            st.lists(
                st.tuples(
                    st.integers(1, 8),
                    st.sampled_from(["I", "U", "D"]),
                    st.lists(st.sampled_from(_COL_POOL), unique=True, max_size=3),
                ),
                min_size=1,
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_random_ddl_data_interleavings_match_model(spark, batches):
    """Values for columns NOT YET declared by an op='S' row must be
    dropped by the typed parse; declared columns flow through, old
    rows NULL-backfill, deletes win per key -- all per the dict model,
    after every batch."""
    store = ParquetTableStore(tempfile.mkdtemp(prefix="feed_evo_"))
    p = CDCPipeline(spark, store)
    seed_rows = [tuple(_customer_row(i).values()) for i in (1, 2)]
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.cdc_schemas import (
        CUSTOMERS_SCHEMA as _CS,
    )

    p.bootstrap({"customers": spark.createDataFrame(seed_rows, _CS)})
    model = {i: _customer_row(i) for i in (1, 2)}
    declared: list[str] = []
    lsn = 0
    for ddl_cols, ops in batches:
        records = []
        new_cols = [c for c in ddl_cols if c not in declared]
        if new_cols:
            lsn += 1
            records.append(
                {
                    "op": "S",
                    "lsn": lsn,
                    "table": "customers",
                    "row": None,
                    "after_json": json.dumps(
                        {"add_columns": [{"name": c, "type": "string"} for c in new_cols]}
                    ),
                }
            )
            declared.extend(new_cols)
        for cid, op, wcols in ops:
            lsn += 1
            if op == "D":
                model.pop(cid, None)
                records.append(
                    {"op": "D", "lsn": lsn, "table": "customers",
                     "row": {"customer_id": cid}}
                )
            else:
                extra = {c: f"{c}-{cid}-{lsn}" for c in wcols}
                row = _customer_row(cid, extra)
                # the model only keeps what the TYPED PARSE keeps:
                # declared columns; undeclared values are dropped
                kept = _customer_row(cid, {c: extra[c] for c in wcols if c in declared})
                for c in declared:
                    kept.setdefault(c, None)
                model[cid] = kept
                records.append(
                    {"op": op, "lsn": lsn, "table": "customers", "row": row}
                )
        p.apply_envelope_batch(_envelope(spark, records))
        got = {
            r["customer_id"]: {c: r[c] for c in r.asDict() if c != "customer_id"}
            for r in store.read(spark, "customers").collect()
        }
        want = {
            cid: {c: vals.get(c) for c in next(iter(got.values())).keys()}
            for cid, vals in model.items()
        } if got else {}
        assert got == want


def test_schema_state_monitoring_view(spark, tmp_path):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.monitoring import (
        schema_state,
    )

    p, store = _seeded_pipeline(spark, tmp_path)
    before = {r["table_name"]: r["evolved_columns"]
              for r in schema_state(spark, p).collect()}
    assert before["customers"] == 0
    p.apply_envelope_batch(_envelope(spark, [{
        "op": "S", "lsn": 10, "table": "customers", "row": None,
        "after_json": json.dumps({"add_columns": [{"name": "loyalty_tier", "type": "string"}]}),
    }]))
    after = {r["table_name"]: (r["evolved_columns"], r["evolved_column_list"])
             for r in schema_state(spark, p).collect()}
    assert after["customers"] == (1, "loyalty_tier:string")
    assert after["merchants"][0] == 0
