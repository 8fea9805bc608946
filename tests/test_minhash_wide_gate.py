"""Slice-scheme gating for MinHash-LSH (VERDICT r11 item 8).

SCALE.md bounds the narrow 5-nibble slice scheme by per-doc
distinct-token count; these tests pin that the OPERATOR enforces the
bound instead of documenting it: a long-doc corpus either engages the
wide scheme (``wide='auto'``) or fails loudly -- it can never silently
run narrow slices past the bound.
"""

from __future__ import annotations

import inspect

import pytest

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
    NARROW_MAX_TOKENS,
    _minhash_min_exprs,
    minhash_lsh_pairs,
    minhash_signatures,
    observed_max_tokens,
    _token_set,
)


def _doc(words: list[str]) -> str:
    return " ".join(words)


@pytest.fixture(scope="module")
def long_docs(spark):
    """Two near-dup docs of 30 distinct tokens each (29 shared), plus
    a short unrelated one -- 'long' relative to a test bound of 20."""
    base = [f"tok{i}" for i in range(30)]
    rows = [
        (1, _doc(base)),
        (2, _doc(base[:-1] + ["tokx"])),
        (3, _doc(["aa", "bb", "cc"])),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_observed_max_tokens(spark, long_docs):
    tok = _token_set(long_docs, "text", "doc_id")
    assert observed_max_tokens(tok) == 30


def test_narrow_guard_raises_on_long_docs(spark, long_docs):
    # plan-level raise_error: fails the JOB at execution (no eager
    # construction-time action), surfacing as a Spark exception whose
    # message carries the remedy
    with pytest.raises(Exception, match="wide"):
        minhash_lsh_pairs(long_docs, narrow_max_tokens=20).collect()


def test_auto_engages_wide_and_matches_explicit(spark, long_docs):
    auto = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            long_docs, wide="auto", narrow_max_tokens=20
        ).collect()
    )
    explicit = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            long_docs, wide=True, narrow_max_tokens=20
        ).collect()
    )
    assert auto == explicit
    assert auto, "the two 29/31-Jaccard docs must pair"


def test_auto_stays_narrow_below_bound(spark, long_docs):
    auto = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            long_docs, wide="auto", narrow_max_tokens=100
        ).collect()
    )
    narrow = sorted(
        tuple(r) for r in minhash_lsh_pairs(long_docs).collect()
    )
    assert auto == narrow


def test_wide_scheme_tag_and_slice_width(spark, long_docs):
    tok = _token_set(long_docs, "text", "doc_id")
    row = minhash_signatures(tok, wide=True).first()
    assert all(len(row[f"h{i}"]) == 10 for i in range(1, 7))
    row = minhash_signatures(tok, wide=False).first()
    assert all(len(row[f"h{i}"]) == 5 for i in range(1, 7))


def test_default_bound_is_the_documented_constant():
    assert NARROW_MAX_TOKENS == 1 << 16
    assert (
        inspect.signature(minhash_lsh_pairs).parameters["narrow_max_tokens"].default
        == NARROW_MAX_TOKENS
    )


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

    pairs = minhash_lsh_pairs(docs, threshold=0.5, wide=True).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["jaccard"] >= 0.5


def test_wide_num_hashes_bound():
    with pytest.raises(ValueError):
        _minhash_min_exprs(7, wide=True)
