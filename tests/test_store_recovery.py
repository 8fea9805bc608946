"""Exactly-once materialization properties of the versioned store
(SURVEY.md section 4.2) and engine-level identifier semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)


def test_crashed_commit_is_invisible_and_recoverable(spark, tmp_path):
    """A refresh that wrote its snapshot dir but died before the version
    pointer swap must be invisible to readers, and a re-run must land
    cleanly over the orphan directory."""
    store = ParquetTableStore(str(tmp_path / "s"))
    df1 = spark.range(10).withColumn("v", F.lit("one"))
    store.overwrite("t", df1)
    assert store.current_version("t") == 1

    # simulate crash: v2 data fully written, commit never happened
    orphan = str(tmp_path / "s" / "t" / "v2")
    spark.range(99).withColumn("v", F.lit("garbage")).write.parquet(orphan)
    assert store.current_version("t") == 1  # reader still sees v1
    assert store.read(spark, "t").count() == 10

    # retry of the refresh overwrites the orphan and commits atomically
    df2 = spark.range(20).withColumn("v", F.lit("two"))
    store.overwrite("t", df2)
    assert store.current_version("t") == 2
    assert store.read(spark, "t").count() == 20


def test_old_versions_garbage_collected(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "s"), keep_versions=2)
    for i in range(4):
        store.overwrite("t", spark.range(i + 1))
    tdir = tmp_path / "s" / "t"
    versions = sorted(d for d in os.listdir(tdir) if d.startswith("v"))
    assert versions == ["v3", "v4"]  # older snapshots GC'd
    assert store.read(spark, "t").count() == 4


def test_case_insensitive_resolution(spark):
    """SURVEY.md section 1.2: the Snowpark layer reads UPPERCASE names
    against lowercase source columns; Spark's default case-insensitive
    resolution must hold through our plans."""
    df = spark.createDataFrame([(1, "x")], ["customer_id", "name"])
    assert df.select(F.col("CUSTOMER_ID")).columns == ["CUSTOMER_ID"]
    assert df.filter(F.col("Customer_Id") == 1).count() == 1
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.dashboard import (
        calculate_customer_spending,
    )

    summary = spark.createDataFrame(
        [("t1", 1, "Purchase", 100.0), ("t2", 1, "Refund", 50.0)],
        ["TRANSACTION_ID", "CUSTOMER_ID", "TRANSACTION_CATEGORY", "TOTAL_PRICE"],
    )
    res = calculate_customer_spending(summary).collect()
    assert len(res) == 1 and res[0]["total_price"] == 100.0


def test_time_travel_read_version(spark, tmp_path):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "store"), keep_versions=3)
    for n in (1, 2, 3, 4):
        store.overwrite("t", spark.range(0, n * 10).withColumnRenamed("id", "k"))
    cur = store.current_version("t")
    assert cur == 4
    vs = store.versions("t")
    assert vs[-1] == 4 and len(vs) >= 3
    # each retained snapshot reads back its own contents
    assert store.read_version(spark, "t", 4).count() == 40
    assert store.read_version(spark, "t", 3).count() == 30
    assert store.read_version(spark, "t", 2).count() == 20
    # GC'd version refuses loudly rather than reading wrong data
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not retained"):
        store.read_version(spark, "t", 1)


def test_time_travel_partitioned_table(spark, tmp_path):
    from pyspark.sql import functions as F

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ParquetTableStore,
    )

    store = ParquetTableStore(str(tmp_path / "store"), keep_versions=3)
    base = spark.range(0, 100).withColumnRenamed("id", "k").withColumn("val", F.col("k") * 2)
    store.overwrite("t", base, partition_key="k", n_buckets=8)
    upserts = spark.createDataFrame([(5, 999), (200, 400)], "k long, val long")
    store.merge(spark, "t", upserts, upserts.select("k"))
    old = store.read_version(spark, "t", 1)
    new = store.read_version(spark, "t", 2)
    assert old.count() == 100 and new.count() == 101
    assert old.filter("k = 5").first()["val"] == 10
    assert new.filter("k = 5").first()["val"] == 999


def test_concurrent_writers_lose_update_is_prevented(spark, tmp_path):
    """Two writers racing for the same next version: the second claim
    fails loudly instead of silently overwriting the first commit."""
    import pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "s")
    a = ParquetTableStore(root)
    b = ParquetTableStore(root)
    a.overwrite("t", spark.range(10))

    # writer B claims v2 (as its overwrite would) but hasn't committed;
    # writer A's overwrite must refuse rather than clobber
    b._claim_version("t", 2)
    with pytest.raises(ConcurrentWriteError, match="live claim"):
        a.overwrite("t", spark.range(20))
    assert a.current_version("t") == 1
    assert a.read(spark, "t").count() == 10


def test_committed_version_claim_says_retry(spark, tmp_path):
    import pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "s")
    a = ParquetTableStore(root)
    b = ParquetTableStore(root)
    a.overwrite("t", spark.range(10))
    a.overwrite("t", spark.range(20))  # now at v2
    # B stalely believes current is v1 and tries to claim v2
    with pytest.raises(ConcurrentWriteError, match="re-read and retry"):
        b._claim_version("t", 2)


def test_stale_claim_from_crashed_writer_is_stolen(spark, tmp_path):
    """A claim whose writer crashed (older than the TTL, version never
    committed) must not wedge the table forever."""
    root = str(tmp_path / "s")
    a = ParquetTableStore(root, claim_ttl_sec=1.0)
    b = ParquetTableStore(root)
    a.overwrite("t", spark.range(10))
    b._claim_version("t", 2)  # crashed writer's leftover
    marker = b._claim_path("t", 2)
    old = os.path.getmtime(marker) - 3600
    os.utime(marker, (old, old))
    a.overwrite("t", spark.range(20))  # steals and commits
    assert a.current_version("t") == 2
    assert a.read(spark, "t").count() == 20


def test_claim_markers_follow_version_retention(spark, tmp_path):
    """Committed versions keep their claim markers while retained (a
    stale writer re-targeting them must see 'already committed', not a
    fresh claim); markers below the retention floor are GC'd."""
    root = str(tmp_path / "s")
    store = ParquetTableStore(root, keep_versions=2)
    for i in range(4):
        store.overwrite("t", spark.range(i + 1))
    markers = sorted(
        e for e in os.listdir(str(tmp_path / "s" / "t"))
        if e.startswith("commit-claim-")
    )
    assert markers == ["commit-claim-v3", "commit-claim-v4"]


def test_concurrent_merge_is_guarded(spark, tmp_path):
    """The bucket-pruned merge path goes through the same claim gate."""
    import pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "s")
    a = ParquetTableStore(root)
    b = ParquetTableStore(root)
    df = spark.range(100).withColumn("k", F.col("id").cast("string"))
    a.overwrite("t", df, partition_key="k", n_buckets=4)
    b._claim_version("t", 2)
    ups = spark.range(3).withColumn("k", F.col("id").cast("string"))
    with pytest.raises(ConcurrentWriteError):
        a.merge(spark, "t", ups, ups.select("k"))
    assert a.current_version("t") == 1


def test_failed_write_releases_claim_for_retry(spark, tmp_path):
    """A write that fails AFTER claiming its version must release the
    claim, or the caller's own retry loop is wedged behind its dead
    marker for claim_ttl_sec."""
    import pytest

    store = ParquetTableStore(str(tmp_path / "s"))
    store.overwrite("t", spark.range(10))

    class Boom(RuntimeError):
        pass

    broken = spark.range(5).withColumn(
        "x", F.udf(lambda: (_ for _ in ()).throw(ValueError("boom")))()
    )
    with pytest.raises(Exception):
        store.overwrite("t", broken)  # write job fails mid-flight
    assert not os.path.exists(store._claim_path("t", 2))
    # immediate retry with a good frame succeeds -- no TTL wait
    store.overwrite("t", spark.range(20))
    assert store.current_version("t") == 2
    assert store.read(spark, "t").count() == 20


_PARTITIONED_WRITES = {
    "overwrite": lambda spark, s, ups: s.overwrite(
        "t", ups, partition_key="k", n_buckets=4
    ),
    "merge": lambda spark, s, ups: s.merge(spark, "t", ups, ups.select("k")),
    "optimize": lambda spark, s, ups: s.optimize(spark, "t"),
    "optimize_buckets": lambda spark, s, ups: s.optimize(spark, "t", buckets=[0, 1]),
    "rebucket": lambda spark, s, ups: s.rebucket(spark, "t", 2),
}


@pytest.mark.parametrize("op", sorted(_PARTITIONED_WRITES))
def test_failed_partitioned_write_releases_claim_for_retry(
    spark, tmp_path, monkeypatch, op
):
    """Every partitioned writer fails cleanly AFTER its staged write:
    the claim is released, the table is unchanged, an immediate retry
    commits, and the retry's GC removes the failed attempt's stage."""
    store = ParquetTableStore(str(tmp_path / "s"))
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    store.overwrite("t", base, partition_key="k", n_buckets=4, zone_cols=["v"])
    before = sorted(store.read(spark, "t").collect())
    tdir = str(tmp_path / "s" / "t")
    stages_before = {e for e in os.listdir(tdir) if e.startswith("w")}
    ups = spark.createDataFrame([(1, 999), (50, 500)], "k long, v long")
    write = _PARTITIONED_WRITES[op]

    class Boom(RuntimeError):
        pass

    def fail(*_args, **_kwargs):
        raise Boom("manifest write failed")

    monkeypatch.setattr(store, "_write_manifest", fail)
    with pytest.raises(Boom):
        write(spark, store, ups)
    monkeypatch.undo()
    orphans = {e for e in os.listdir(tdir) if e.startswith("w")} - stages_before
    assert orphans  # the failure came after the staged write
    assert not os.path.exists(store._claim_path("t", 2))
    assert store.current_version("t") == 1
    assert sorted(store.read(spark, "t").collect()) == before

    assert write(spark, store, ups) == 2
    assert store.current_version("t") == 2
    assert not orphans & set(os.listdir(tdir))


def test_two_writer_retry_loops_converge(spark, tmp_path):
    """Two writers interleave upserts through the documented
    optimistic-retry loop; every batch must land exactly once and the
    final table must equal the sequential fold of all applied batches
    (no lost updates, no double-applies, no deadlocks)."""
    import random

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ConcurrentWriteError,
    )

    rng = random.Random(11)
    root = str(tmp_path / "s")
    writers = [ParquetTableStore(root), ParquetTableStore(root)]
    base = spark.range(40).withColumnRenamed("id", "k").withColumn(
        "val", F.col("k") * 10
    )
    writers[0].overwrite("t", base, partition_key="k", n_buckets=4)

    model = {i: i * 10 for i in range(40)}
    batches = []
    for _ in range(8):
        ups = {rng.randrange(60): rng.randrange(1000) for _ in range(rng.randint(1, 5))}
        batches.append(ups)

    # interleave: each batch picks a random writer; claims race because
    # both writers cache nothing and re-read current_version per try
    for ups in batches:
        w = writers[rng.randrange(2)]
        df = spark.createDataFrame(list(ups.items()), "k long, val long")
        for attempt in range(5):
            try:
                w.merge(spark, "t", df, df.select("k"))
                break
            except ConcurrentWriteError:
                continue
        else:
            raise AssertionError("retry loop did not converge")
        model.update(ups)

    final = {
        r["k"]: r["val"] for r in writers[0].read(spark, "t").collect()
    }
    assert final == model


def test_gc_aged_claim_cannot_resurrect_old_version(spark, tmp_path):
    """A writer delayed past the retention horizon must not roll the
    table back: once its target version committed AND the claim marker
    was GC'd, re-creating the marker succeeds at the filesystem level
    but the claim is refused against the committed version."""
    import pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "s")
    a = ParquetTableStore(root, keep_versions=2)
    b = ParquetTableStore(root, keep_versions=2)
    # B reads v1 and computes target v2, then stalls while A commits
    # v1..v4; retention floor = 2, so commit-claim-v2 is GC'd
    for i in range(4):
        a.overwrite("t", spark.range(10 * (i + 1)))
    assert a.current_version("t") == 4
    assert not os.path.exists(b._claim_path("t", 2))

    with pytest.raises(ConcurrentWriteError, match="already committed"):
        b._claim_version("t", 2)
    # no rollback, no leftover marker resurrected
    assert a.current_version("t") == 4
    assert a.read(spark, "t").count() == 40
    assert not os.path.exists(b._claim_path("t", 2))


def test_stolen_claim_aborts_the_slow_writer_before_commit(spark, tmp_path):
    """TTL steal of a slow-but-LIVE writer: the thief commits; when the
    original writer resurfaces it must abort (claim token no longer
    its own) instead of overwriting the thief's manifest or pointer."""
    import json
    import pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "s")
    slow = ParquetTableStore(root)
    thief = ParquetTableStore(root)
    slow.overwrite("t", spark.range(10))

    # slow writer claims v2 and stalls mid-write
    slow._claim_version("t", 2)
    marker = slow._claim_path("t", 2)
    old = os.path.getmtime(marker) - 3600
    os.utime(marker, (old, old))

    # thief (ttl elapsed) steals the claim and commits v2
    thief.claim_ttl_sec = 1.0
    thief.overwrite("t", spark.range(777))
    assert thief.current_version("t") == 2

    # the slow writer resurfaces: both its manifest write and its
    # commit must refuse -- its token is no longer on the marker
    with pytest.raises(ConcurrentWriteError, match="another writer|disappeared"):
        slow._write_manifest("t", 2, {"key": "id", "n_buckets": 1,
                                      "partitions": {}, "schema_dir": "x"})
    with pytest.raises(ConcurrentWriteError, match="another writer|disappeared|does not hold"):
        slow._commit("t", 2)
    # thief's commit intact
    assert thief.current_version("t") == 2
    assert thief.read(spark, "t").count() == 777
    # and no half-written manifest garbage for v2 (unpartitioned commit)
    assert not os.path.exists(slow._manifest_path("t", 2)) or json.load(
        open(slow._manifest_path("t", 2))
    )


def test_stolen_writer_abort_leaves_thiefs_claim_intact(spark, tmp_path):
    """The aborting slow writer's claim release must be token-checked:
    an unconditional unlink would delete the THIEF's live marker and
    let the slow writer's retry loop re-claim the version mid-write."""
    root = str(tmp_path / "s")
    slow = ParquetTableStore(root)
    thief = ParquetTableStore(root, claim_ttl_sec=1.0)
    slow.overwrite("t", spark.range(10))

    slow._claim_version("t", 2)
    marker = slow._claim_path("t", 2)
    old = os.path.getmtime(marker) - 3600
    os.utime(marker, (old, old))

    thief_token = thief._claim_version("t", 2)  # steals

    # slow writer aborts (the _claimed failure path)
    slow._release_claim("t", 2)

    # the thief's marker survives with the thief's token
    with open(marker) as f:
        assert f.read().split(" ", 1)[0] == thief_token
    thief._verify_claim("t", 2)  # thief can still prove ownership


def test_steal_replaces_orphan_manifest_under_ownership(spark, tmp_path):
    """A crashed writer's orphan manifest must not block the stealer:
    _write_manifest's link-if-absent branch replaces it under claim-
    ownership proof (the steal path itself deletes nothing -- an
    unlink there could race a slow writer's commit of that version)."""
    root = str(tmp_path / "s")
    crashed = ParquetTableStore(root)
    stealer = ParquetTableStore(root, claim_ttl_sec=1.0)
    crashed.overwrite("t", spark.range(10))

    crashed._claim_version("t", 2)
    crashed._write_manifest(
        "t", 2, {"key": "id", "n_buckets": 1, "partitions": {}, "schema_dir": "dead"}
    )
    marker = crashed._claim_path("t", 2)
    old = os.path.getmtime(marker) - 3600
    os.utime(marker, (old, old))

    stealer._claim_version("t", 2)  # steals; orphan manifest still present
    stealer._write_manifest(
        "t", 2, {"key": "id", "n_buckets": 2, "partitions": {}, "schema_dir": "live"}
    )
    import json

    with open(stealer._manifest_path("t", 2)) as f:
        assert json.load(f)["schema_dir"] == "live"
