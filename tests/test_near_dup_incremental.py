"""Incremental batch near-dup over the persisted LSH band index.

The load-bearing property (r10 VERDICT item 1): for any split of a
corpus into (stored, delta), ``near_dup_incremental(store, delta)``
must emit EXACTLY the pairs a full ``minhash_lsh_pairs`` run over
(stored + delta) emits that involve at least one delta doc -- while
reading only the band buckets delta hashes into, never the corpus.

Also pins the ADVICE r10 medium: a band index persisted under a
retired minhash scheme is NEVER probed (the scheme version is part of
the index table's name), and the wide-slice variant produces 10-nibble
signatures with its own index name.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
    band_scheme,
    minhash_lsh_pairs,
    minhash_signatures,
    _token_set,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.corpus_ingest import (
    bands_table_name,
    near_dup_incremental,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
THRESH = 0.5


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )


def _pairs_set(df):
    return {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9)) for r in df.collect()
    }


def _full_pairs_touching(spark, docs, delta_ids):
    full = minhash_lsh_pairs(docs, threshold=THRESH)
    return _pairs_set(
        full.filter(
            F.col("doc_a").isin(delta_ids) | F.col("doc_b").isin(delta_ids)
        )
    )


def test_incremental_equals_full_corpus_lsh(spark, tmp_path):
    """(full-corpus LSH on corpus+delta) == (index probe on delta), for
    the real sf0.001 documents table split by doc_id -- the split
    straddles planted near-dup pairs, so cross-run dups exist."""
    docs = _docs(spark)
    cut = docs.approxQuantile("doc_id", [0.8], 0.0)[0]
    stored = docs.filter(F.col("doc_id") <= cut)
    delta = docs.filter(F.col("doc_id") > cut)
    delta_ids = [r["doc_id"] for r in delta.select("doc_id").collect()]
    assert delta_ids, "split produced an empty delta"

    store = ParquetTableStore(str(tmp_path / "store"))
    store.overwrite("corpus", stored, partition_key="doc_id", n_buckets=8)

    inc = near_dup_incremental(
        store, spark, "corpus", delta, threshold=THRESH, n_buckets=8
    )
    got = _pairs_set(inc)
    want = _full_pairs_touching(spark, docs, delta_ids)
    assert want, "fixture regression: no near-dup pair straddles the split"
    # at least one pair must be CROSS (one stored doc, one delta doc)
    assert any(a not in delta_ids or b not in delta_ids for a, b, _ in want)
    assert got == want


def test_consecutive_increments_compose(spark, tmp_path):
    """Two increments (insert delta1 into the table between calls)
    cover exactly the full-corpus pairs touching delta1+delta2: the
    index upsert makes each increment visible to the next."""
    docs = _docs(spark)
    q = docs.approxQuantile("doc_id", [0.6, 0.8], 0.0)
    stored = docs.filter(F.col("doc_id") <= q[0])
    d1 = docs.filter((F.col("doc_id") > q[0]) & (F.col("doc_id") <= q[1]))
    d2 = docs.filter(F.col("doc_id") > q[1])
    d1_ids = [r["doc_id"] for r in d1.select("doc_id").collect()]
    d2_ids = [r["doc_id"] for r in d2.select("doc_id").collect()]

    store = ParquetTableStore(str(tmp_path / "store"))
    store.overwrite("corpus", stored, partition_key="doc_id", n_buckets=8)

    got = _pairs_set(
        near_dup_incremental(store, spark, "corpus", d1, threshold=THRESH, n_buckets=8)
    )
    # the natural flow: dedup the increment, then insert it
    store.merge(spark, "corpus", d1, d1.select("doc_id"))
    got |= _pairs_set(
        near_dup_incremental(store, spark, "corpus", d2, threshold=THRESH, n_buckets=8)
    )
    want = _full_pairs_touching(spark, docs, d1_ids + d2_ids)
    assert got == want


def test_stale_scheme_index_never_probed(spark, tmp_path):
    """An index written under a RETIRED scheme name must be invisible:
    the API rebuilds under the current scheme name and still finds
    every pair (a stale index with garbage keys would silently miss
    near-dups if probed -- the ADVICE r10 failure mode)."""
    docs = _docs(spark).limit(200)
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    stored = docs.filter(F.col("doc_id") <= cut)
    delta = docs.filter(F.col("doc_id") > cut)
    delta_ids = [r["doc_id"] for r in delta.select("doc_id").collect()]

    store = ParquetTableStore(str(tmp_path / "store"))
    store.overwrite("corpus", stored, partition_key="doc_id", n_buckets=8)
    # a legacy index under the retired scheme's name, with keys the
    # current code can never reproduce
    garbage = stored.select(
        "doc_id", F.md5(F.concat(F.lit("mh1-legacy"), F.col("doc_id"))).alias("band")
    )
    store.overwrite("corpus__bands__mh1-6x2", garbage, partition_key="band", n_buckets=8)
    store.overwrite("corpus__bands", garbage, partition_key="band", n_buckets=8)

    inc = near_dup_incremental(store, spark, "corpus", delta, threshold=THRESH, n_buckets=8)
    got = _pairs_set(inc)
    want = _full_pairs_touching(
        spark, stored.unionByName(delta), delta_ids
    )
    assert got == want
    # the rebuild landed under the CURRENT scheme name
    assert store.exists(bands_table_name("corpus"))
    assert bands_table_name("corpus") == f"corpus__bands__{band_scheme()}-6x2"
    assert band_scheme() != "mh1"


def test_dropped_doc_index_rows_are_harmless(spark, tmp_path):
    """Band-index rows for docs the caller chose NOT to insert into the
    main table produce no pairs (their candidates find no text row) and
    no error on the next increment."""
    docs = _docs(spark).limit(300)
    cut = docs.approxQuantile("doc_id", [0.4], 0.0)[0]
    stored = docs.filter(F.col("doc_id") <= cut)
    rest = docs.filter(F.col("doc_id") > cut)
    half = rest.approxQuantile("doc_id", [0.5], 0.0)[0]
    d1 = rest.filter(F.col("doc_id") <= half)
    d2 = rest.filter(F.col("doc_id") > half)

    store = ParquetTableStore(str(tmp_path / "store"))
    store.overwrite("corpus", stored, partition_key="doc_id", n_buckets=8)
    near_dup_incremental(store, spark, "corpus", d1, threshold=THRESH, n_buckets=8).collect()
    # caller drops ALL of d1 (never merged) -- d2's probe must behave as
    # if only (stored + d2) exist
    got = _pairs_set(
        near_dup_incremental(store, spark, "corpus", d2, threshold=THRESH, n_buckets=8)
    )
    d2_ids = [r["doc_id"] for r in d2.select("doc_id").collect()]
    want = _full_pairs_touching(spark, stored.unionByName(d2), d2_ids)
    assert got == want


def test_retried_increment_keeps_index_size(spark, tmp_path):
    """A retried call with the same new docs returns the same pairs
    and leaves the band index at its size after the first call: the
    index update is an upsert, not a blind append."""
    docs = _docs(spark).limit(300)
    cut = docs.approxQuantile("doc_id", [0.7], 0.0)[0]
    stored = docs.filter(F.col("doc_id") <= cut)
    delta = docs.filter(F.col("doc_id") > cut)

    store = ParquetTableStore(str(tmp_path / "store"))
    store.overwrite("corpus", stored, partition_key="doc_id", n_buckets=8)
    bands = bands_table_name("corpus")
    first = _pairs_set(
        near_dup_incremental(store, spark, "corpus", delta, threshold=THRESH, n_buckets=8)
    )
    n_index = store.read(spark, bands).count()
    second = _pairs_set(
        near_dup_incremental(store, spark, "corpus", delta, threshold=THRESH, n_buckets=8)
    )
    assert store.read(spark, bands).count() == n_index
    assert second == first


def test_wide_slices_shape_and_recall(spark):
    """wide=True: 10-nibble slices from two salted digests -- distinct
    values per hash column, 10-char width, and full recall on planted
    near-dups (the exact verify keeps precision exact by construction)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappax"),  # near-dup of 1
        (3, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tok = _token_set(docs, "text", "doc_id")
    sig = minhash_signatures(tok, num_hashes=6, wide=True).collect()
    for r in sig:
        vals = [r[f"h{i}"] for i in range(1, 7)]
        assert all(len(v) == 10 for v in vals)
    # the 6 wide hashes are NOT all identical for a multi-token doc
    r1 = next(r for r in sig if r["doc_id"] == 1)
    assert len({r1[f"h{i}"] for i in range(1, 7)}) > 1

    pairs = minhash_lsh_pairs(docs, threshold=THRESH, wide=True).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["jaccard"] >= THRESH

    # scheme tags and index names differ between widths
    assert band_scheme(True) != band_scheme(False)
    assert bands_table_name("t", wide=True) != bands_table_name("t")


def test_wide_num_hashes_bound():
    with pytest.raises(ValueError):
        from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
            _minhash_min_exprs,
        )

        _minhash_min_exprs(7, wide=True)


def test_incremental_wide_scheme_end_to_end(spark, tmp_path):
    """The wide-slice remedy is reachable from the incremental path
    (r12: the narrow plan guard refuses long-doc corpora, so the
    index APIs must accept wide): a wide index bootstraps under its
    own scheme tag, probes/updates under wide slices, and reproduces
    the full-corpus wide LSH run exactly."""
    docs = _docs(spark)
    cut = docs.approxQuantile("doc_id", [0.8], 0.0)[0]
    stored = docs.filter(F.col("doc_id") <= cut)
    delta = docs.filter(F.col("doc_id") > cut)
    delta_ids = [r["doc_id"] for r in delta.select("doc_id").collect()]

    store = ParquetTableStore(str(tmp_path / "store"))
    store.overwrite("corpus", stored, partition_key="doc_id", n_buckets=8)

    inc = near_dup_incremental(
        store, spark, "corpus", delta, threshold=THRESH, n_buckets=8, wide=True
    )
    got = _pairs_set(inc)
    full = minhash_lsh_pairs(docs, threshold=THRESH, wide=True)
    want = _pairs_set(
        full.filter(
            F.col("doc_a").isin(delta_ids) | F.col("doc_b").isin(delta_ids)
        )
    )
    assert got == want
    # the wide index lives under its own scheme tag; the narrow name
    # was never created
    assert store.exists(bands_table_name("corpus", wide=True))
    assert "mh2w" in bands_table_name("corpus", wide=True)
    assert not store.exists(bands_table_name("corpus", wide=False))
