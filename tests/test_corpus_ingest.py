"""Streaming corpus ingestion: redelivery dedup + quality gate +
store-level content dedup + partitioned upsert, driven through a live
file-source stream across two availableNow runs."""

from __future__ import annotations

import pytest

import json
import os

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
    start_corpus_ingest,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)

GOOD = (
    "the quick brown fox jumps over a lazy dog and keeps running through "
    "the field of fresh green grass in the morning light of an autumn day"
)


def _write(feed, name, rows):
    os.makedirs(feed, exist_ok=True)
    tmp = os.path.join(feed, f".tmp-{name}")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.replace(tmp, os.path.join(feed, f"{name}.json"))


def test_corpus_ingest_stream(spark, tmp_path):
    feed = str(tmp_path / "feed")
    store = ParquetTableStore(str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    _write(feed, "b1", [
        {"doc_id": 1, "ts": "2024-01-01 00:00:00", "text": GOOD, "lang": "en"},
        {"doc_id": 1, "ts": "2024-01-01 00:00:01", "text": GOOD, "lang": "en"},   # redelivery
        {"doc_id": 2, "ts": "2024-01-01 00:00:02", "text": GOOD + " two", "lang": "en"},
        {"doc_id": 3, "ts": "2024-01-01 00:00:03", "text": "x", "lang": "en"},    # low quality
        {"doc_id": 4, "ts": "2024-01-01 00:00:04", "text": GOOD, "lang": "en"},   # same content as 1
    ])
    q = start_corpus_ingest(spark, feed, store, ckpt, min_quality=0.5)
    q.awaitTermination(120)
    got = {r["doc_id"] for r in store.read(spark, "corpus").collect()}
    assert got == {1, 2}  # redelivery collapsed, low-quality dropped, dup content kept once

    # second stream run: more docs, one content-dup of an already-stored doc
    _write(feed, "b2", [
        {"doc_id": 5, "ts": "2024-01-01 00:10:00", "text": GOOD, "lang": "en"},   # dup of stored 1
        {"doc_id": 6, "ts": "2024-01-01 00:10:01", "text": GOOD + " six", "lang": "en"},
    ])
    q = start_corpus_ingest(spark, feed, store, ckpt, min_quality=0.5)
    q.awaitTermination(120)
    rows = store.read(spark, "corpus").collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 6}
    # upsert path kept the store partitioned (merge, not full rewrite)
    assert store.partition_spec("corpus") is not None


def test_corpus_ingest_fp_index_bucket_pruned(spark, tmp_path, monkeypatch):
    """The content-dedup anti-join reads only the fp buckets the batch's
    fingerprints hash into -- a strict subset of the index -- mirroring
    the O(delta-buckets) write contract of the partitioned store.  The
    paths are recorded from the store's own parquet reads during the
    second ingest, so any full-index scan would show up."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
        fp_table_name,
        ingest_batch,
    )

    store = ParquetTableStore(str(tmp_path / "store"))
    rows = [
        (i, f"{GOOD} variant number {i} with extra words to pass quality", "en")
        for i in range(40)
    ]
    b1 = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ingest_batch(store, spark, b1, min_quality=0.2)
    fp = fp_table_name("corpus")
    assert store.exists(fp)
    _key, B = store.partition_spec(fp)
    all_paths = set(store.bucket_paths(fp, range(B)))
    fp_dir = os.path.join(store.root, fp)
    marker = os.path.join(
        fp_dir, store._read_manifest(fp, store.current_version(fp))["schema_dir"]
    )

    read_paths = []
    real_read = ParquetTableStore._read_parquet
    monkeypatch.setattr(
        store,
        "_read_parquet",
        lambda spark, paths, schema: read_paths.extend(paths)
        or real_read(spark, paths, schema),
    )
    b2 = spark.createDataFrame(
        [(100, rows[0][1], "en"),  # dup content of doc 0
         (101, f"{GOOD} a genuinely new document body for batch two", "en")],
        "doc_id long, text string, lang string",
    )
    ingest_batch(store, spark, b2, min_quality=0.2)
    monkeypatch.undo()
    fp_reads = {
        p for p in read_paths if p.startswith(fp_dir + os.sep) and p != marker
    }
    assert fp_reads  # the probe did read the batch's buckets
    assert fp_reads < all_paths  # strict subset: pruned, not a full scan

    got = {r["doc_id"] for r in store.read(spark, "corpus").collect()}
    assert got == set(range(40)) | {101}  # dup dropped, new doc stored
    fp_rows = store.read(spark, fp).count()
    assert fp_rows == 41  # index tracks every stored fingerprint exactly once


def test_corpus_ingest_legacy_unpartitioned_fallback(spark, tmp_path):
    """A pre-existing unpartitioned table can't take a bucket merge; the
    ingest falls back to a full rewrite (and backfills the fp index)
    instead of raising."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
        fp_table_name,
        ingest_batch,
    )
    from pyspark.sql import functions as F

    store = ParquetTableStore(str(tmp_path / "store"))
    legacy = spark.createDataFrame(
        [(1, GOOD, "en")], "doc_id long, text string, lang string"
    ).withColumn("content_fp", F.md5(F.encode(F.col("text"), "UTF-8")))
    store.overwrite("corpus", legacy)  # unpartitioned snapshot
    assert store.partition_spec("corpus") is None

    batch = spark.createDataFrame(
        [(2, GOOD, "en"),  # dup of stored content
         (3, GOOD + " fresh tail", "en")],
        "doc_id long, text string, lang string",
    )
    ingest_batch(store, spark, batch, min_quality=0.2)
    got = {r["doc_id"] for r in store.read(spark, "corpus").collect()}
    assert got == {1, 3}
    assert store.partition_spec(fp_table_name("corpus")) is not None


@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_corpus_ingest_near_dup_stream(spark, tmp_path):
    """near_dup=True drops documents whose token-set Jaccard vs stored
    content clears the threshold — driven through two live stream runs
    so the band index is built, probed, and appended across ticks."""
    feed = str(tmp_path / "feed")
    store = ParquetTableStore(str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    distinct = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    _write(feed, "b1", [
        {"doc_id": 1, "ts": "2024-01-01 00:00:00", "text": base, "lang": "en"},
        {"doc_id": 2, "ts": "2024-01-01 00:00:01", "text": distinct, "lang": "en"},
    ])
    q = start_corpus_ingest(
        spark, feed, store, ckpt, min_quality=0.0, near_dup=True, near_threshold=0.7
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in store.read(spark, "corpus").collect()} == {1, 2}

    # run 2: near-copy of doc 1 (one word changed), plus a fresh doc
    near_copy = base.replace("kappa", "KAPPA2")
    fresh = (
        "red orange yellow green blue indigo violet crimson teal "
        "magenta cyan maroon olive navy silver golden bronze pearl"
    )
    _write(feed, "b2", [
        {"doc_id": 10, "ts": "2024-01-01 00:10:00", "text": near_copy, "lang": "en"},
        {"doc_id": 11, "ts": "2024-01-01 00:10:01", "text": fresh, "lang": "en"},
    ])
    q = start_corpus_ingest(
        spark, feed, store, ckpt, min_quality=0.0, near_dup=True, near_threshold=0.7
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in store.read(spark, "corpus").collect()}
    assert got == {1, 2, 11}  # near-copy dropped, fresh doc kept

    # the band index covers exactly the stored docs
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
        bands_table_name,
    )

    idx_ids = {
        r["doc_id"] for r in store.read(spark, bands_table_name("corpus")).collect()
    }
    assert idx_ids == {1, 2, 11}


def test_corpus_ingest_near_dup_batch_internal(spark, tmp_path):
    """Two near-dup docs arriving in the SAME batch: lowest id wins."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
        ingest_batch,
    )

    store = ParquetTableStore(str(tmp_path / "store"))
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    batch = spark.createDataFrame(
        [(7, base, "en"), (8, base.replace("zeta", "ZETA9"), "en")],
        "doc_id long, text string, lang string",
    )
    ingest_batch(store, spark, batch, min_quality=0.0, near_dup=True, near_threshold=0.7)
    assert {r["doc_id"] for r in store.read(spark, "corpus").collect()} == {7}


def test_corpus_ingest_semantic_stream(spark, tmp_path):
    """semantic=True drops documents whose hashing-trick embedding
    cosine vs stored content clears the threshold -- driven through two
    live runs so the centroids persist and the cell index is built,
    probed, and appended across ticks.  The run-2 dup is a DOUBLED copy
    of a stored doc: different text (exact-fp passes it) but an
    identical count-vector direction (cosine 1.0)."""
    feed = str(tmp_path / "feed")
    store = ParquetTableStore(str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    distinct = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    )
    _write(feed, "b1", [
        {"doc_id": 1, "ts": "2024-01-01 00:00:00", "text": base, "lang": "en"},
        {"doc_id": 2, "ts": "2024-01-01 00:00:01", "text": distinct, "lang": "en"},
    ])
    q = start_corpus_ingest(
        spark, feed, store, ckpt, min_quality=0.0, semantic=True, sem_threshold=0.9
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in store.read(spark, "corpus").collect()} == {1, 2}

    fresh = (
        "red orange yellow green blue indigo violet crimson teal "
        "magenta cyan maroon olive navy silver golden bronze pearl"
    )
    _write(feed, "b2", [
        # doubled copy of stored doc 1: cosine 1.0, exact fp differs
        {"doc_id": 10, "ts": "2024-01-01 00:10:00", "text": base + " " + base, "lang": "en"},
        {"doc_id": 11, "ts": "2024-01-01 00:10:01", "text": fresh, "lang": "en"},
        # batch-internal semantic dup of 11 (one word changed)
        {"doc_id": 12, "ts": "2024-01-01 00:10:02", "text": fresh.replace("teal", "TEAL9"), "lang": "en"},
    ])
    q = start_corpus_ingest(
        spark, feed, store, ckpt, min_quality=0.0, semantic=True, sem_threshold=0.9
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in store.read(spark, "corpus").collect()}
    assert got == {1, 2, 11}

    # the cell index covers exactly the stored docs, under the
    # persisted quantizer
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
        cells_table_name,
        centroids_table_name,
    )

    idx = store.read(spark, cells_table_name("corpus")).collect()
    assert {r["doc_id"] for r in idx} == {1, 2, 11}
    # quantizer size caps at the seed batch (k = min(n_cells, sample))
    assert 1 <= store.read(spark, centroids_table_name("corpus")).count() <= 16


def test_corpus_ingest_semantic_empty_seed_self_heals(spark, tmp_path):
    """semantic=True with an all-filtered seed batch: the store exists
    but holds nothing embeddable, so the index backfill must train the
    quantizer on the first real batch instead of crashing on an empty
    k-means sample -- and dedup works from that batch onward."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
        ingest_batch,
    )

    store = ParquetTableStore(str(tmp_path / "store"))
    junk = spark.createDataFrame(
        [(1, "x", "en")], "doc_id long, text string, lang string"
    )
    ingest_batch(store, spark, junk, min_quality=0.5, semantic=True)
    assert store.read(spark, "corpus").count() == 0

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    batch = spark.createDataFrame(
        [(2, base, "en"), (3, base + " " + base, "en")],  # 3 = semantic dup of 2
        "doc_id long, text string, lang string",
    )
    ingest_batch(store, spark, batch, min_quality=0.0, semantic=True, sem_threshold=0.9)
    assert {r["doc_id"] for r in store.read(spark, "corpus").collect()} == {2}


def test_corpus_ingest_semantic_tokenless_batches_survive(spark, tmp_path):
    """semantic=True where the stored corpus AND an incoming batch are
    both tokenless (nothing embeddable anywhere): no quantizer can
    exist yet, and the tick must still merge the novel rows instead of
    dying on a centroids table that was never created (regression:
    FileNotFoundError in the index append)."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
        ingest_batch,
    )

    store = ParquetTableStore(str(tmp_path / "store"))
    seed = spark.createDataFrame(
        [(1, "", "en")], "doc_id long, text string, lang string"
    )
    ingest_batch(store, spark, seed, min_quality=0.0, semantic=True)
    # novel fingerprint, still tokenless -> previously crashed
    batch2 = spark.createDataFrame(
        [(2, "   ", "en")], "doc_id long, text string, lang string"
    )
    ingest_batch(store, spark, batch2, min_quality=0.0, semantic=True)
    assert {r["doc_id"] for r in store.read(spark, "corpus").collect()} == {1, 2}
    # the first embeddable batch then bootstraps the quantizer and dedups
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    batch3 = spark.createDataFrame(
        [(3, base, "en"), (4, base + " " + base, "en")],
        "doc_id long, text string, lang string",
    )
    ingest_batch(store, spark, batch3, min_quality=0.0, semantic=True, sem_threshold=0.9)
    assert {r["doc_id"] for r in store.read(spark, "corpus").collect()} == {1, 2, 3}
