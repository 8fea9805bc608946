"""Zone maps on the partitioned store: per-bucket min/max of non-key
columns in the manifest, pruning range scans (`read_pruned`) the same
way the hash layout prunes key lookups.  Pruning must be an
optimization only -- every result below is also checked against the
unpruned filtered read."""

from __future__ import annotations

import pytest

import datetime as dt

from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)


def _rows(spark, n=64):
    # value clusters by bucket-ish ranges so zones are selective:
    # id i carries v = i (monotone), and a date shifted by i days
    return spark.createDataFrame(
        [(i, i * 10, dt.date(2024, 1, 1) + dt.timedelta(days=i)) for i in range(n)],
        "id long, v long, d date",
    )


def _seeded(spark, tmp_path, n=64, buckets=8):
    store = ParquetTableStore(str(tmp_path / "s"))
    store.overwrite(
        "t", _rows(spark, n), partition_key="id", n_buckets=buckets, zone_cols=["v", "d"]
    )
    return store


def _pruned_count(store, name, col, lo, up):
    m = store._read_manifest(name, store.current_version(name))
    return len(store._zone_pruned_buckets(m, col, lo, up))


def test_zones_recorded_and_prune(spark, tmp_path):
    store = _seeded(spark, tmp_path)
    m = store._read_manifest("t", store.current_version("t"))
    assert m["zone_cols"] == ["v", "d"]
    assert set(m["zones"]) == set(m["partitions"])
    total = len(m["partitions"])
    # a selective range must scan fewer buckets than the table has
    npruned = _pruned_count(store, "t", "v", 100, 120)
    assert npruned < total
    got = sorted(r["id"] for r in store.read_pruned(spark, "t", "v", 100, 120).collect())
    want = sorted(
        r["id"]
        for r in store.read(spark, "t").filter("v between 100 and 120").collect()
    )
    assert got == want and got  # non-empty and exact


def test_date_zones_prune(spark, tmp_path):
    store = _seeded(spark, tmp_path)
    lo, up = dt.date(2024, 1, 5), dt.date(2024, 1, 9)
    got = sorted(r["id"] for r in store.read_pruned(spark, "t", "d", lo, up).collect())
    assert got == [4, 5, 6, 7, 8]
    assert _pruned_count(store, "t", "d", lo, up) < 8


def test_open_bounds(spark, tmp_path):
    store = _seeded(spark, tmp_path)
    got = {r["id"] for r in store.read_pruned(spark, "t", "v", lower=600).collect()}
    assert got == set(range(60, 64))
    got = {r["id"] for r in store.read_pruned(spark, "t", "v", upper=20).collect()}
    assert got == {0, 1, 2}


def test_merge_updates_only_rewritten_buckets(spark, tmp_path):
    store = _seeded(spark, tmp_path)
    m1 = store._read_manifest("t", store.current_version("t"))
    ups = spark.createDataFrame(
        [(3, 9999, dt.date(2030, 1, 1))], "id long, v long, d date"
    )
    store.merge(spark, "t", ups, ups.select("id"))
    m2 = store._read_manifest("t", store.current_version("t"))
    changed = {b for b in m2["zones"] if m2["zones"][b] != m1["zones"].get(b)}
    assert len(changed) == 1  # only id=3's bucket re-stated
    # the new extreme value must be findable through the pruned path
    got = [r["id"] for r in store.read_pruned(spark, "t", "v", 9000, None).collect()]
    assert got == [3]


def test_all_null_bucket_pruned_but_exact(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"))
    rows = spark.createDataFrame(
        [(i, None if i % 2 else i * 10) for i in range(16)], "id long, v long"
    )
    store.overwrite("t", rows, partition_key="id", n_buckets=4, zone_cols=["v"])
    got = sorted(r["id"] for r in store.read_pruned(spark, "t", "v", 0, 150).collect())
    want = sorted(
        r["id"] for r in store.read(spark, "t").filter("v between 0 and 150").collect()
    )
    assert got == want


def test_rebucket_and_optimize_keep_zones(spark, tmp_path):
    store = _seeded(spark, tmp_path)
    store.rebucket(spark, "t", 4)
    m = store._read_manifest("t", store.current_version("t"))
    assert m.get("zone_cols") == ["v", "d"] and set(m["zones"]) == set(m["partitions"])
    store.optimize(spark, "t")
    m = store._read_manifest("t", store.current_version("t"))
    assert m.get("zone_cols") == ["v", "d"] and set(m["zones"]) == set(m["partitions"])
    got = sorted(r["id"] for r in store.read_pruned(spark, "t", "v", 100, 120).collect())
    assert got == [10, 11, 12]
    # merge rewrites only the receiving bucket: it restates that
    # bucket's zones and drops its file_zones; every other bucket keeps
    # both exactly
    store.optimize(spark, "t", zorder_cols=["d"])
    m1 = store._read_manifest("t", store.current_version("t"))
    assert set(m1["file_zones"]) == set(m1["partitions"])
    extra = spark.createDataFrame(
        [(3, 5000, dt.date(2030, 1, 1))], "id long, v long, d date"
    )
    store.merge(spark, "t", extra, extra.select("id"))
    m2 = store._read_manifest("t", store.current_version("t"))
    rewritten = {b for b in m2["partitions"] if m2["partitions"][b] != m1["partitions"][b]}
    assert len(rewritten) == 1 and set(m2["zones"]) == set(m2["partitions"])
    for b in m2["partitions"]:
        if b in rewritten:
            assert m2["zones"][b]["v"][1] == 5000
            assert b not in m2.get("file_zones", {})
        else:
            assert m2["zones"][b] == m1["zones"][b]
            assert m2["file_zones"][b] == m1["file_zones"][b]
    got = sorted(r["id"] for r in store.read_pruned(spark, "t", "v", 4000, None).collect())
    assert got == [3]


def test_table_without_zone_cols_scans_everything(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"))
    store.overwrite("t", _rows(spark, 16), partition_key="id", n_buckets=4)
    m = store._read_manifest("t", store.current_version("t"))
    assert "zones" not in m
    # no stats -> every bucket must-scan, result still exact
    assert _pruned_count(store, "t", "v", 0, 50) == len(m["partitions"])
    got = sorted(r["id"] for r in store.read_pruned(spark, "t", "v", 0, 50).collect())
    assert got == [0, 1, 2, 3, 4, 5]


def test_zone_cols_sticky_across_overwrite(spark, tmp_path):
    store = _seeded(spark, tmp_path)
    store.overwrite("t", _rows(spark, 32))  # no zone_cols passed
    m = store._read_manifest("t", store.current_version("t"))
    assert m.get("zone_cols") == ["v", "d"]
    assert set(m["zones"]) == set(m["partitions"])


def test_evolved_column_without_stats_is_must_scan(spark, tmp_path):
    """A zone column added by schema evolution: old buckets lack stats
    for it and must always scan."""
    store = ParquetTableStore(str(tmp_path / "s"))
    base = spark.createDataFrame([(i, i * 10) for i in range(16)], "id long, v long")
    store.overwrite("t", base, partition_key="id", n_buckets=4, zone_cols=["v", "w"])
    ups = spark.createDataFrame([(1, 10, 777)], "id long, v long, w long")
    store.merge(spark, "t", ups, ups.select("id"))
    got = sorted(
        r["id"] for r in store.read_pruned(spark, "t", "w", 0, 1000).collect()
    )
    assert got == [1]
    # buckets without w-stats stayed in the scan set
    m = store._read_manifest("t", store.current_version("t"))
    assert len(store._zone_pruned_buckets(m, "w", 0, 1000)) == len(m["partitions"])


def test_cdc_pipeline_zone_spec_end_to_end(spark, tmp_path):
    """A CDC-replicated fact table declared with zone_spec stays
    range-prunable by date through bootstrap AND subsequent merges."""
    import json

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.cdc_schemas import (
        TRANSACTIONS_SCHEMA,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
        FEED_SCHEMA,
        CDCPipeline,
    )

    def tx(i, day):
        return (
            f"T{i:04d}", 1, 1, 1, dt.date(2024, 1, day), "12:00:00",
            1, 9.99, "visa", "Purchase",
        )

    store = ParquetTableStore(str(tmp_path / "s"))
    p = CDCPipeline(
        spark,
        store,
        partition_spec={"transactions": 8},
        zone_spec={"transactions": ["transaction_date"]},
    )
    seed = spark.createDataFrame([tx(i, 1 + i % 5) for i in range(40)], TRANSACTIONS_SCHEMA)
    p.bootstrap({"transactions": seed})
    m = store._read_manifest("transactions", store.current_version("transactions"))
    assert m["zone_cols"] == ["transaction_date"]

    # tail merge with a new late date; zones must follow
    row = dict(zip(TRANSACTIONS_SCHEMA.fieldNames(), tx(99, 28)))
    row["transaction_date"] = "2024-01-28"
    env = spark.createDataFrame(
        [("I", 100, None, "transactions", json.dumps(row, default=str))], FEED_SCHEMA
    )
    p.apply_envelope_batch(env)
    got = [
        r["transaction_id"]
        for r in store.read_pruned(
            spark, "transactions", "transaction_date",
            dt.date(2024, 1, 20), dt.date(2024, 1, 31),
        ).collect()
    ]
    assert got == ["T0099"]
    m2 = store._read_manifest("transactions", store.current_version("transactions"))
    npruned = len(
        store._zone_pruned_buckets(
            m2, "transaction_date", "2024-01-20", "2024-01-31"
        )
    )
    assert npruned < len(m2["partitions"])


def test_no_bounds_reads_everything_including_all_null_buckets(spark, tmp_path):
    """ADVICE r8: read_pruned with NO bounds must equal store.read --
    pruning may never change results, and the all-NULL-stat bucket
    skip only applies once an actual range predicate exists."""
    store = ParquetTableStore(str(tmp_path / "s"))
    # v is ALL NULL -> every bucket's zone is (None, None), the exact
    # shape the r8 bug silently dropped on an unbounded read
    df = spark.createDataFrame([(i, None) for i in range(64)], "id long, v long")
    store.overwrite("t", df, partition_key="id", n_buckets=8, zone_cols=["v"])
    m = store._read_manifest("t", store.current_version("t"))
    assert all(
        z["v"][0] is None and z["v"][1] is None for z in m["zones"].values()
    )
    full = {r["id"] for r in store.read(spark, "t").collect()}
    unbounded = {r["id"] for r in store.read_pruned(spark, "t", "v").collect()}
    assert unbounded == full
    assert len(store._zone_pruned_buckets(m, "v", None, None)) == len(
        m["partitions"]
    )
    # with a real bound, NULL rows never match a range predicate anyway,
    # so skipping all-NULL buckets stays exact (and prunes everything)
    assert store.read_pruned(spark, "t", "v", 100, 200).count() == 0
    assert len(store._zone_pruned_buckets(m, "v", 100, 200)) == 0


def test_optimize_file_zones_prune_within_buckets(spark, tmp_path):
    """Date-clustered layout (VERDICT r9 item 7): after
    optimize(zorder_cols=['d']) the manifest carries per-FILE stats;
    a narrow date probe scans only the matching files of each
    surviving bucket instead of whole bucket directories, and the
    result still equals the exact filtered read."""
    store = _seeded(spark, tmp_path, n=256, buckets=8)
    # every bucket contains the full date range (hash on id), so
    # bucket-level stats cannot prune a date probe
    pre = store.prune_plan("t", "d", dt.date(2024, 3, 1), dt.date(2024, 3, 2))
    assert pre["buckets_kept"] == pre["buckets_total"] == 8
    assert pre["files_total"] == 8  # one unit per bucket pre-optimize

    store.optimize(
        spark, "t", zorder_cols=["d"],
        writer_options={"maxRecordsPerFile": "8"},
    )
    post = store.prune_plan("t", "d", dt.date(2024, 3, 1), dt.date(2024, 3, 2))
    assert post["files_total"] >= 8 * 3  # clustering split each bucket
    assert post["files_kept"] <= 8  # ~1 matching file per bucket
    assert post["files_kept"] < post["files_total"] // 2

    got = store.read_pruned(
        spark, "t", "d", dt.date(2024, 3, 1), dt.date(2024, 3, 2)
    )
    exact = store.read(spark, "t").filter(
        (F.col("d") >= F.lit(dt.date(2024, 3, 1)))
        & (F.col("d") <= F.lit(dt.date(2024, 3, 2)))
    )
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in exact.collect()
    )

    # a later merge drops file granularity for rewritten buckets only,
    # and results stay exact
    ups = spark.createDataFrame(
        [(3, 999, dt.date(2024, 3, 1))], "id long, v long, d date"
    )
    store.merge(spark, "t", ups, spark.createDataFrame([(3,)], "id long"))
    after = store.prune_plan("t", "d", dt.date(2024, 3, 1), dt.date(2024, 3, 2))
    # exactly the delta bucket coarsened (its several clustered files
    # became one unit); every untouched bucket kept file granularity
    assert post["files_total"] - after["files_total"] >= 2
    assert after["files_total"] > 8
    got2 = store.read_pruned(
        spark, "t", "d", dt.date(2024, 3, 1), dt.date(2024, 3, 2)
    ).collect()
    assert {r["id"] for r in got2} >= {3}
    exact2 = store.read(spark, "t").filter(
        (F.col("d") >= F.lit(dt.date(2024, 3, 1)))
        & (F.col("d") <= F.lit(dt.date(2024, 3, 2)))
    ).collect()
    assert sorted(r["id"] for r in got2) == sorted(r["id"] for r in exact2)


def test_file_zone_pruning_exact_under_random_merges(spark, tmp_path):
    """Property: after optimize + a random sequence of merges, every
    range probe through read_pruned equals the exact filtered read --
    file-level pruning is an optimization, never a correctness
    dependency."""
    import random

    rng = random.Random(20240815)
    store = _seeded(spark, tmp_path, n=128, buckets=8)
    store.optimize(
        spark, "t", zorder_cols=["d"],
        writer_options={"maxRecordsPerFile": "8"},
    )
    for step in range(3):
        ids = rng.sample(range(128), 5)
        ups = spark.createDataFrame(
            [
                (
                    i,
                    rng.randrange(10_000),
                    dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(128)),
                )
                for i in ids[:3]
            ],
            "id long, v long, d date",
        )
        touched = spark.createDataFrame([(i,) for i in ids], "id long")
        store.merge(spark, "t", ups, touched)
        lo = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(100))
        up = lo + dt.timedelta(days=rng.randrange(10))
        got = sorted(
            (r["id"], r["d"])
            for r in store.read_pruned(spark, "t", "d", lo, up).collect()
        )
        exact = sorted(
            (r["id"], r["d"])
            for r in store.read(spark, "t")
            .filter((F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(up)))
            .collect()
        )
        assert got == exact, f"step {step}: pruned read diverged"


@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_maintain_clustering_soak_no_manual_step(spark, tmp_path):
    """Auto-compaction closes the r10 loop: a merge load with
    maintain_clustering() hooked after each cycle keeps 1-day probe
    file I/O bounded with NO manual optimize, and every triggered pass
    rewrites ONLY the merge-coarsened buckets (asserted via manifest
    diff: untouched buckets keep their directory pointers and their
    file-level stats)."""
    import random

    rng = random.Random(2026_08_15)
    store = _seeded(spark, tmp_path, n=256, buckets=8)
    store.optimize(
        spark, "t", zorder_cols=["d"], writer_options={"maxRecordsPerFile": "4"}
    )
    probe = (dt.date(2024, 3, 1), dt.date(2024, 3, 2))
    triggered = skipped = 0
    for cycle in range(6):
        # one key per cycle: a single coarsened bucket (12.5% of 8) sits
        # below the 15% threshold (the policy declines), a second one
        # trips it (25% -> incremental re-cluster of exactly those two)
        ids = [rng.randrange(256)]
        ups = spark.createDataFrame(
            [
                (
                    i,
                    rng.randrange(10_000),
                    dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(256)),
                )
                for i in ids
            ],
            "id long, v long, d date",
        )
        store.merge(spark, "t", ups, ups.select("id"))
        before = store._read_manifest("t", store.current_version("t"))
        coarse_before = {
            b for b in before["partitions"] if b not in before.get("file_zones", {})
        }
        res = store.maintain_clustering(
            spark, "t", ["d"], max_coarse_frac=0.15,
            writer_options={"maxRecordsPerFile": "4"},
        )
        if res["rewritten"]:
            triggered += 1
            # the pass rewrote exactly the coarsened buckets...
            assert set(res["rewritten"]) == coarse_before
            after = store._read_manifest("t", store.current_version("t"))
            for b in before["partitions"]:
                if b in coarse_before:
                    assert after["partitions"][b] != before["partitions"][b]
                    assert b in after.get("file_zones", {})  # re-clustered
                else:
                    # ...and untouched buckets carried over verbatim
                    assert after["partitions"][b] == before["partitions"][b]
                    assert after["file_zones"][b] == before["file_zones"][b]
            # nothing left coarse after the pass
            assert not {
                b for b in after["partitions"] if b not in after["file_zones"]
            }
        else:
            skipped += 1
            assert res["coarse_frac"] <= res["threshold"]
        # probe I/O stays bounded every cycle: at worst the sub-threshold
        # coarse buckets (<= 15% of the table) plus ~1 clustered file per
        # clean bucket
        plan = store.prune_plan("t", "d", *probe)
        assert plan["files_kept"] / plan["files_total"] <= 0.20, (cycle, plan)
        # pruning stays an optimization only
        got = sorted(
            r["id"] for r in store.read_pruned(spark, "t", "d", *probe).collect()
        )
        exact = sorted(
            r["id"]
            for r in store.read(spark, "t")
            .filter((F.col("d") >= F.lit(probe[0])) & (F.col("d") <= F.lit(probe[1])))
            .collect()
        )
        assert got == exact, f"cycle {cycle}"
    # the policy must have both fired and declined during the soak
    assert triggered >= 1 and skipped >= 1, (triggered, skipped)


def test_maintain_clustering_bootstrap_and_guard(spark, tmp_path):
    """A never-optimized table reads as 100% coarse (initial clustering
    happens through the same incremental path); a table without
    zone_cols is rejected instead of looping on a full rewrite."""
    import pytest

    store = _seeded(spark, tmp_path, n=64, buckets=8)
    res = store.maintain_clustering(
        spark, "t", ["d"], writer_options={"maxRecordsPerFile": "8"}
    )
    assert res["coarse_frac"] == 1.0
    m = store._read_manifest("t", store.current_version("t"))
    assert set(res["rewritten"]) == set(m["partitions"])
    assert set(m["file_zones"]) == set(m["partitions"])
    # immediately after: nothing coarse, policy is a no-op
    res2 = store.maintain_clustering(spark, "t", ["d"])
    assert res2["rewritten"] == [] and res2["coarse_frac"] == 0.0

    store.overwrite("plain", _rows(spark, 16), partition_key="id", n_buckets=4)
    with pytest.raises(ValueError, match="zone_cols"):
        store.maintain_clustering(spark, "plain", ["d"])


def test_incremental_compaction_without_zorder_keeps_file_stats(spark, tmp_path):
    """optimize(buckets=[...]) WITHOUT zorder_cols (pure compaction of
    a few buckets) must not blind the reader to the file-level stats of
    the UNTOUCHED buckets -- their clustered files are still on disk."""
    store = _seeded(spark, tmp_path, n=128, buckets=8)
    store.optimize(
        spark, "t", zorder_cols=["d"], writer_options={"maxRecordsPerFile": "4"}
    )
    m0 = store._read_manifest("t", store.current_version("t"))
    assert set(m0["file_zones"]) == set(m0["partitions"])
    target = sorted(m0["partitions"])[0]
    store.optimize(spark, "t", buckets=[target])  # no zorder: plain compaction
    m1 = store._read_manifest("t", store.current_version("t"))
    # the compacted bucket lost file granularity (unclustered rewrite)...
    assert target not in m1.get("file_zones", {})
    # ...every other bucket kept stats AND pointers
    for b in m0["partitions"]:
        if b == target:
            continue
        assert m1["file_zones"][b] == m0["file_zones"][b]
        assert m1["partitions"][b] == m0["partitions"][b]
    # pruned reads stay exact either way
    got = sorted(
        r["id"]
        for r in store.read_pruned(
            spark, "t", "d", dt.date(2024, 2, 1), dt.date(2024, 2, 5)
        ).collect()
    )
    exact = sorted(
        r["id"]
        for r in store.read(spark, "t")
        .filter(
            (F.col("d") >= F.lit(dt.date(2024, 2, 1)))
            & (F.col("d") <= F.lit(dt.date(2024, 2, 5)))
        )
        .collect()
    )
    assert got == exact
