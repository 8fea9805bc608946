"""Corpus-pipeline operator semantics: deterministic splits, benchmark
decontamination, text cleaning, PII scrubbing, and the interval-join /
CUBE boundary behavior the oracle comparison alone doesn't isolate."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators import (
    corpus,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.text import (
    clean_text,
    scrub_pii,
)


def test_split_deterministic_and_stable_under_append(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in corpus.assign_split(docs).collect()}
    # same ids through a different (unioned, repartitioned) lineage get
    # the identical assignment -- membership depends only on the id
    again = (
        docs.union(spark.range(2000, 2500).withColumnRenamed("id", "doc_id"))
        .repartition(13)
    )
    b = {r["doc_id"]: r["split"] for r in corpus.assign_split(again).collect()}
    assert all(b[k] == v for k, v in a.items())
    # proportions near 80/10/10 (hash-uniform, not exact)
    n = len(b)
    frac = {s: sum(1 for v in b.values() if v == s) / n for s in ("train", "val", "test")}
    assert 0.74 < frac["train"] < 0.86
    assert 0.06 < frac["val"] < 0.14
    assert 0.06 < frac["test"] < 0.14


def test_decontaminate_flags_planted_overlap(spark):
    # find one id per split so the plant is guaranteed regardless of
    # md5 assignment
    probe = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    splits = {r["doc_id"]: r["split"] for r in corpus.assign_split(probe).collect()}
    test_id = next(i for i, s in splits.items() if s == "test")
    train_a, train_b = [i for i, s in splits.items() if s == "train"][:2]
    bench_text = "w1 w2 w3 w4 w5 w6 w7 w8 tail"
    rows = [
        (test_id, bench_text),               # benchmark doc
        (train_a, "pre " + bench_text),      # contains its 8-gram
        (train_b, "a b c d e f g h i"),      # clean train doc -> n_shared = 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["n_shared"] for r in corpus.decontaminate(docs).collect()}
    assert out[rows[1][0]] >= 1
    assert out[rows[2][0]] == 0
    # benchmark doc itself is not in the output (train rows only)
    assert test_id not in out


def test_decontaminate_short_doc_has_no_grams(spark):
    # fewer than 8 tokens -> no grams -> never contaminated, no crash
    probe = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    by_split = {
        r["split"]: r["doc_id"]
        for r in corpus.assign_split(probe).dropDuplicates(["split"]).collect()
    }
    docs = spark.createDataFrame(
        [(by_split["train"], "one two three"), (by_split["test"], "one two three")],
        "doc_id long, text string",
    )
    out = corpus.decontaminate(docs).collect()
    assert [(r["doc_id"], r["n_shared"]) for r in out] == [(by_split["train"], 0)]


def test_clean_text_normalization(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello,   WORLD!! a b2c x"),
            (2, "!!! ??? ..."),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["c"] for r in df.select("doc_id", clean_text(F.col("text")).alias("c")).collect()}
    assert out[1] == "hello world b2c"  # punctuation gone, 1-char tokens dropped
    assert out[2] == ""
    assert out[3] == ""


def test_scrub_pii_planted(spark):
    df = spark.createDataFrame(
        [(1, "mail Jane.Doe+x@corp.example.org or 212-555-0147 at 192.168.1.10 end")],
        "doc_id long, text string",
    )
    got = df.select(scrub_pii(F.col("text")).alias("s")).first()["s"]
    assert got == "mail <EMAIL> or <PHONE> at <IP> end"


def test_interval_join_boundary(spark):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_pipeline import (
        q_interval_join,
    )
    # build a miniature events table through a temp view shim: the
    # catalog fn reads parquet, so test the join predicate directly here
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    err = spark.createDataFrame([(100, 7, t0)], "err_id long, u long, err_ts timestamp")
    clk = spark.createDataFrame(
        [
            (7, t0),                                    # same instant: counted
            (7, t0 + datetime.timedelta(minutes=59)),   # inside: counted
            (7, t0 + datetime.timedelta(hours=1)),      # exactly +1h: excluded
            (8, t0 + datetime.timedelta(minutes=5)),    # other user: excluded
        ],
        "cu long, clk_ts timestamp",
    )
    j = err.join(
        clk,
        (F.col("u") == F.col("cu"))
        & (F.col("clk_ts") >= F.col("err_ts"))
        & (F.col("clk_ts") < F.col("err_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    ).groupBy("err_id").agg(F.count("clk_ts").alias("n"))
    assert j.first()["n"] == 2


def test_cube_grouping_flags(spark):
    df = spark.createDataFrame(
        [("A", "x", 1.0), ("A", "y", 2.0), ("B", "x", 3.0)], "rf string, ls string, q double"
    )
    out = df.cube("rf", "ls").agg(
        F.sum("q").alias("s"),
        F.grouping("rf").cast("int").alias("g_rf"),
        F.grouping("ls").cast("int").alias("g_ls"),
    )
    rows = {(r["rf"], r["ls"]): (r["s"], r["g_rf"], r["g_ls"]) for r in out.collect()}
    assert rows[(None, None)] == (6.0, 1, 1)       # grand total
    assert rows[("A", None)] == (3.0, 0, 1)        # rf subtotal
    assert rows[(None, "x")] == (4.0, 1, 0)        # ls subtotal
    assert rows[("B", "x")] == (3.0, 0, 0)         # detail


def test_connected_components_planted_graph(spark):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3), star 10-(11,12,13), isolated pair 20-21
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (21, 20)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert {out[v] for v in (1, 2, 3, 4)} == {1}
    assert {out[v] for v in (10, 11, 12, 13)} == {10}
    assert {out[v] for v in (20, 21)} == {20}


def test_connected_components_raises_on_iteration_cap(spark):
    import pytest as _pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
        connected_components,
    )

    # a 6-node chain labeled against the propagation direction needs ~5
    # rounds; max_iter=2 must refuse loudly, never return wrong labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, method="propagation")


def test_connected_components_star_beats_propagation_on_deep_chain(spark):
    """The O(log n) star alternation must finish a planted 64-deep chain
    within a round budget where O(diameter) propagation provably cannot
    (63 rounds needed)."""
    import pytest as _pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
        connected_components,
    )

    # chain 63-62-...-1-0: labels must all collapse to 0
    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(63)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["component"]
        for r in connected_components(chain, max_iter=12, method="star").collect()
    }
    assert set(out) == set(range(64))
    assert set(out.values()) == {0}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=12, method="propagation")


def test_connected_components_star_empty_and_self_loops(spark):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty, method="star").count() == 0
    loops = spark.createDataFrame([(3, 3), (4, 5)], "doc_a long, doc_b long")
    out = {
        r["doc_id"]: r["component"]
        for r in connected_components(loops, method="star").collect()
    }
    # self-loop node 3 is a singleton component; 4-5 collapse to 4
    assert out == {3: 3, 4: 4, 5: 4}


def test_connected_components_checkpoint_policies(spark, tmp_path):
    """checkpoint='reliable' (storage-backed, survives executor loss)
    must label identically to the default localCheckpoint path, and
    must refuse to run without a checkpoint dir configured."""
    import pytest as _pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)], "doc_a long, doc_b long"
    )
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    with _pytest.raises(RuntimeError, match="setCheckpointDir"):
        connected_components(pairs, checkpoint="reliable").collect()
    with _pytest.raises(ValueError, match="checkpoint policy"):
        connected_components(pairs, checkpoint="bogus").collect()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        for method in ("star", "propagation"):
            local = {
                r["doc_id"]: r["component"]
                for r in connected_components(
                    pairs, method=method, checkpoint="local"
                ).collect()
            }
            reliable = {
                r["doc_id"]: r["component"]
                for r in connected_components(
                    pairs, method=method, checkpoint="reliable"
                ).collect()
            }
            assert local == reliable
            assert {local[v] for v in (1, 2, 3, 4)} == {1}
        # round state must actually materialize in the reliable store
        # (the fault-tolerance claim is the files, not just the labels)
        import os

        rdd_dirs = [
            d
            for root, dirs, _ in os.walk(str(tmp_path / "ckpt"))
            for d in dirs
            if d.startswith("rdd-")
        ]
        assert rdd_dirs, "no reliable checkpoint files were written"
    finally:
        # conftest's session is shared; restore the no-dir default
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


def test_repetition_stats_planted(spark):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.text import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "a a a a"),        # top fraction 1.0; bigrams all "a_a" -> dup 2/3
            (2, "x y z"),          # no repetition
            (3, "solo"),           # 1 token: no bigrams -> 0.0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["top_token_fraction"] == 1.0
    assert abs(out[1]["dup_bigram_fraction"] - 2 / 3) < 1e-12
    assert out[2]["top_token_fraction"] == 1 / 3
    assert out[2]["dup_bigram_fraction"] == 0.0
    assert out[3]["dup_bigram_fraction"] == 0.0


def test_split_partitioned_corpus_write_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "corpus")
    docs = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    corpus.assign_split(docs).write.partitionBy("split").parquet(out)
    train = spark.read.parquet(out).filter(F.col("split") == "train")
    # partition pruning: only the train directory is scanned
    plan = train._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [isnotnull(split" in plan.replace("#", "").replace("\n", " ") or "split)" in plan
    import os
    dirs = {d for d in os.listdir(out) if d.startswith("split=")}
    assert dirs == {"split=train", "split=val", "split=test"}
    n_train = train.count()
    total = spark.read.parquet(out).count()
    assert 0 < n_train < total == 500


def test_bucketed_range_join_matches_naive(spark):
    import random

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.range_join import (
        bucketed_range_join,
    )

    rng = random.Random(3)
    probe = spark.createDataFrame(
        [(i, rng.uniform(0, 1000)) for i in range(300)], "pid long, value double"
    )
    # overlapping, irregular, and empty ranges; hi exclusive boundary;
    # rid=4 regression: fractional range narrower than 1 whose (hi-1,hi)
    # window crosses a bucket boundary (step=37 -> boundary at 148)
    ranges = spark.createDataFrame(
        [(0, 0.0, 100.0), (1, 50.0, 60.0), (2, 59.9, 700.0), (3, 900.0, 900.0),
         (4, 147.5, 148.4)],
        "rid long, lo double, hi double",
    )
    probe = probe.union(spark.createDataFrame([(1000, 148.2)], "pid long, value double"))
    got = bucketed_range_join(probe, ranges, "value", step=37.0)
    naive = probe.join(
        ranges,
        (probe.value >= ranges.lo) & (probe.value < ranges.hi),
    ).select(probe.pid, ranges.rid)
    assert sorted(map(tuple, got.select("pid", "rid").collect())) == sorted(
        map(tuple, naive.collect())
    )
    # plan never falls back to a nested loop
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "NestedLoop" not in plan


def test_bloom_decontaminate_superset_of_exact(spark):
    """Bloom flags are a per-document superset of exact shared counts
    (false positives only inflate, never miss), and the planted
    contamination from the exact test is still caught."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    exact = {r["doc_id"]: r["n_shared"] for r in corpus.decontaminate(docs).collect()}
    bloom = {
        r["doc_id"]: r["n_flagged"]
        for r in corpus.bloom_decontaminate(docs).collect()
    }
    assert set(exact) == set(bloom)
    assert all(bloom[d] >= exact[d] for d in exact)
    # at this corpus size the false-positive rate is ~0: totals agree
    # within a small slack rather than exploding
    assert sum(bloom.values()) <= sum(exact.values()) + 5


def test_bloom_bitmap_bounded_and_broadcast(spark):
    """The bitmap table never exceeds BLOOM_BITS/32 rows no matter how
    many grams go in, and the probes consume it via ONE single-row
    broadcast (the scale contract: one constant-size broadcast payload,
    no per-probe hash joins)."""
    grams = spark.range(0, 50_000).select(
        F.concat(F.lit("g"), F.col("id")).alias("gram")
    )
    bloom = corpus.bloom_build(grams)
    assert bloom.count() <= corpus.BLOOM_BITS // 32
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = corpus.bloom_decontaminate(docs)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the dense bitmap rides one 1-row broadcast nested-loop join; the
    # K probes are codegen element_at lookups, not joins
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("BroadcastExchange") == 1
    assert "BroadcastHashJoin" not in plan


def test_boilerplate_ratio_planted(spark):
    """Six docs share a 3-token header; unique tails are not flagged at
    min_docs=5."""
    header = "terms of service"
    rows = [(i, f"{header} unique{i} tail{i} end{i}") for i in range(6)]
    rows.append((99, "completely different text here now"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.boilerplate_ratio(docs).collect()}
    for i in range(6):
        # each doc has 4 distinct 3-grams; exactly the header gram is
        # shared by all 6 docs (>= min_docs=5)
        assert out[i]["n_grams"] == 4
        assert out[i]["n_boiler"] == 1
        assert abs(out[i]["boiler_frac"] - 0.25) < 1e-9
    assert out[99]["n_boiler"] == 0


def test_stratified_sample_exact_and_order_independent(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr", f"text {i}") for i in range(200)],
        "doc_id long, lang string, text string",
    )
    out = corpus.stratified_sample(docs, "lang", 20)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"en": 20, "fr": 20}
    # identical selection regardless of input ordering/partitioning
    shuffled = docs.orderBy(F.col("doc_id").desc()).repartition(7)
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in corpus.stratified_sample(shuffled, "lang", 20).collect())
    assert a == b
    # stratum smaller than n: keeps all of it
    tiny = corpus.stratified_sample(docs.filter("lang = 'fr'").limit(5), "lang", 20)
    assert tiny.count() == 5


def test_quality_top_fraction_exact_quota(spark):
    rows = [
        (i, "en", "the a of to in is " + " ".join(f"w{i}x{j}" for j in range(i + 2)))
        for i in range(40)
    ] + [(100 + i, "fr", "petit texte " + "mot " * (i + 1)) for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = corpus.quality_top_fraction(docs, 0.25)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # percent_rank <= 0.25 keeps floor(0.25*(n-1))+1 rows per stratum
    assert sizes["en"] == 10   # n=40 -> ranks 0..9/39 <= 0.25
    assert sizes["fr"] == 2    # n=8  -> ranks 0/7, 1/7 <= 0.25
    # kept docs beat dropped docs within their stratum
    kept_q = {r["doc_id"]: r["quality"] for r in out.collect()}
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.text import (
        quality_score,
    )
    all_q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    for lang, pref in (("en", range(0, 40)), ("fr", range(100, 108))):
        kept = [d for d in pref if d in kept_q]
        dropped = [d for d in pref if d not in kept_q]
        assert min(all_q[d] for d in kept) >= max(all_q[d] for d in dropped) - 1e-12


def test_repeated_spans_merge_and_positions(spark):
    """Two docs share a 6-token run; with n=5 that flags positions 0
    and 1, which must merge into ONE maximal span [0, 6). A third doc
    with unique text yields no span; a doc repeating its own 5-gram
    twice is flagged from within-doc counts alone."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
        repeated_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, shared + " unique1a unique1b"),
        (2, shared + " unique2a unique2b"),
        (3, "totally different words here now indeed truly"),
        (4, "p q r s t junk1 junk2 junk3 p q r s t"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in repeated_spans(docs, n=5, min_count=2).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["span_id"], r["start_pos"], r["end_pos"], r["n_grams"])
        )
    # docs 1 and 2: grams at pos 0 ('alpha..epsilon') and 1 ('beta..zeta')
    # merge into [0, 6)
    assert out[1] == [(1, 0, 6, 2)]
    assert out[2] == [(1, 0, 6, 2)]
    assert 3 not in out
    # doc 4: 'p q r s t' at pos 0 and pos 8 -- 8 - 0 > 5, two spans
    assert sorted(out[4]) == [(1, 0, 5, 1), (2, 8, 13, 1)]


def test_repeated_spans_matches_python_model_on_random_corpora(spark):
    """Differential test vs an executable Python spec on random small
    corpora with a tiny vocabulary (forces cross-doc and within-doc
    gram collisions)."""
    import random

    rng = random.Random(99)
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.dedup import (
        repeated_spans,
    )

    n, min_count = 4, 2
    for trial in range(4):
        vocab = [f"w{i}" for i in range(6)]
        docs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15))))
            for d in range(12)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")

        # python model
        gram_count: dict[tuple, int] = {}
        doc_positions: dict[int, list] = {}
        for d, text in docs:
            toks = [t for t in text.split(" ") if t]
            grams = [tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)]
            doc_positions[d] = grams
            for g in grams:
                gram_count[g] = gram_count.get(g, 0) + 1
        expected = []
        for d, grams in doc_positions.items():
            flagged = [i for i, g in enumerate(grams) if gram_count[g] >= min_count]
            span_id = 0
            prev = None
            spans: list[list] = []
            for p in flagged:
                if prev is None or p - prev > n:
                    span_id += 1
                    spans.append([span_id, p, p + n, 1])
                else:
                    spans[-1][2] = p + n
                    spans[-1][3] += 1
                prev = p
            for s in spans:
                expected.append((d, *s))

        got = sorted(
            (r["doc_id"], r["span_id"], r["start_pos"], r["end_pos"], r["n_grams"])
            for r in repeated_spans(df, n=n, min_count=min_count).collect()
        )
        assert got == sorted(expected), f"trial {trial}"


def test_hashing_embed_preserves_token_mass(spark):
    """Every token lands in exactly one lane: per-doc lane sums equal
    the token count, and the vector is a pure function of the text
    (identical docs -> identical vectors)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a a a"), (4, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["embedding"] for r in corpus.hashing_embed(docs, dim=8).collect()}
    assert sum(out[1]) == 5
    assert out[1] == out[2]
    assert sum(out[3]) == 3
    assert max(out[3]) == 3  # same token -> same lane
    assert 4 not in out  # no tokens -> no row (empty doc has no vector)


def test_bloom_decontaminate_matches_python_model(spark):
    """Differential test of the Bloom bit math against a pure-Python
    model (md5 positions, 32-bit words, all-K-probes membership) --
    independent of the DuckDB oracle, so a shared spelling mistake in
    both SQL dialects can't hide."""
    import hashlib
    import random

    rng = random.Random(5)
    vocab = [f"tok{i}" for i in range(12)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
        for d in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    n = 4

    def bucket(did):
        return int(hashlib.md5(str(did).encode()).hexdigest()[:2], 16)

    def split_of(did):
        b = bucket(did)
        return "train" if b < 205 else ("val" if b < 231 else "test")

    def grams_of(text):
        toks = [t for t in text.split(" ") if t]
        return {"_".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    def positions(g):
        return [
            int(hashlib.md5(f"{i}:{g}".encode()).hexdigest()[:5], 16)
            for i in range(3)
        ]

    bits = set()
    for d, text in docs:
        if split_of(d) == "test":
            for g in grams_of(text):
                bits.update(positions(g))
    expected = {}
    for d, text in docs:
        if split_of(d) != "train":
            continue
        expected[d] = sum(
            1 for g in grams_of(text) if all(p in bits for p in positions(g))
        )

    got = {
        r["doc_id"]: r["n_flagged"]
        for r in corpus.bloom_decontaminate(df, n=n).collect()
    }
    assert got == expected


def test_sequence_pack_global_matches_sequential_model(spark):
    """sequence_pack's two-phase distributed prefix sum must equal the
    sequential spec: bin = floor(tokens-before-this-doc / budget), docs
    in doc_id order -- including across range-partition boundaries
    (forced small here so the partition-prefix handoff is exercised)."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.corpus import (
        sequence_pack_global,
    )

    import random

    rng = random.Random(20260815)
    rows = [(i, " ".join(["w"] * rng.randint(0, 9))) for i in range(200)]
    # include empty docs (0 tokens) and an exact-budget-boundary run
    rows[7] = (7, "")
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(13)
    budget = 16
    got = {
        r["doc_id"]: (r["n_tokens"], r["bin_id"])
        for r in sequence_pack_global(docs, budget=budget).collect()
    }
    acc = 0
    for i, t in sorted(rows):
        n = len([w for w in t.split(" ") if w])
        assert got[i] == (n, acc // budget), (i, got[i], (n, acc // budget))
        acc += n
    # bins are dense from 0 and every bin's started-docs fit the rule
    assert min(b for _, b in got.values()) == 0


def test_mixture_to_proportions_semantics(spark):
    """Target-mixture down-sampling: achieved proportions track the
    targets (binomial noise), the binding domain is kept whole,
    unlisted domains drop, a requested-but-absent domain forces empty
    (exact mixture impossible), and membership is deterministic."""
    import pyspark.sql.functions as F

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.corpus import (
        mixture_to_proportions,
    )

    # 4000 web / 1000 code / 500 books / 300 junk (unlisted)
    docs = (
        spark.range(5800)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 4000, "web")
            .when(F.col("id") < 5000, "code")
            .when(F.col("id") < 5500, "books")
            .otherwise("junk")
            .alias("lang"),
        )
    )
    # target 50/25/25 over (web, code, books): books binds --
    # N* = 500/0.25 = 2000 -> web rate 0.25, code rate 0.5, books 1.0
    out = mixture_to_proportions(docs, {"web": 0.5, "code": 0.25, "books": 0.25})
    by = {r["domain"]: r["n"] for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert by["books"] == 500  # binding domain kept whole (rate 1.0)
    assert "junk" not in by
    assert abs(by["web"] - 1000) < 150  # ~N* * 0.5, binomial noise
    assert abs(by["code"] - 500) < 110
    # determinism: re-running yields the identical membership
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in mixture_to_proportions(
            docs, {"web": 0.5, "code": 0.25, "books": 0.25}
        ).collect()
    )
    assert ids1 == ids2
    # un-normalized weights mean the same mixture
    ids3 = sorted(
        r["doc_id"]
        for r in mixture_to_proportions(
            docs, {"web": 2.0, "code": 1.0, "books": 1.0}
        ).collect()
    )
    assert ids1 == ids3
    # a requested domain with no rows -> empty (never distort the mix)
    assert (
        mixture_to_proportions(docs, {"web": 0.5, "absent": 0.5}).count() == 0
    )


def test_shuffle_shards_deterministic_and_uniform(spark):
    """The training-shard shuffle's contract: byte-identical output
    across reruns and input layouts, full reshuffle under a new seed,
    every row placed exactly once, positions contiguous per shard."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.training import (
        shuffle_shards,
    )

    rows = [(i, f"doc {i}") for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out1 = shuffle_shards(docs, n_shards=7, seed="s1").collect()
    got1 = sorted((r["doc_id"], r["shard"], r["pos"]) for r in out1)
    # rerun AND a different physical layout: same assignment, same order
    out2 = shuffle_shards(docs.repartition(13), n_shards=7, seed="s1").collect()
    assert got1 == sorted((r["doc_id"], r["shard"], r["pos"]) for r in out2)
    # appending later docs never moves earlier ones (backfill stability:
    # shard membership is a pure function of the key)
    more = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(500, 600)], "doc_id long, text string"
    )
    out3 = shuffle_shards(docs.unionByName(more), n_shards=7, seed="s1").collect()
    shard3 = {r["doc_id"]: r["shard"] for r in out3}
    assert all(shard3[d] == s for d, s, _p in got1)

    # every row exactly once; per-shard positions are 1..len contiguous
    assert len(out1) == 500 and len({r["doc_id"] for r in out1}) == 500
    by_shard: dict[int, list[int]] = {}
    for r in out1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == set(range(7))  # all shards populated
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # roughly uniform (md5 on 500 keys over 7 shards)
    sizes = sorted(len(p) for p in by_shard.values())
    assert sizes[0] > 500 / 7 * 0.5 and sizes[-1] < 500 / 7 * 1.6

    # a different seed is a genuine reshuffle
    outb = shuffle_shards(docs, n_shards=7, seed="s2").collect()
    moved = sum(
        1 for r in outb if shard3[r["doc_id"]] != r["shard"]
    )
    assert moved > 300  # ~6/7 of rows expected to change shard


def test_leakage_safe_split_keeps_dup_clusters_together(spark):
    """Every near-dup cluster lands whole in ONE split, and docs with
    no near-dup split exactly like assign_split."""
    import random

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators import (
        corpus,
        dedup,
    )

    words = "spark table row scan filter join agg window stream batch".split()
    rng = random.Random(11)
    rows = []
    for i in range(120):
        rows.append((i, " ".join(rng.choice(words) for _ in range(40))))
    # plant 30 near-dup copies (one word changed) => 30 clusters of 2
    for i in range(30):
        toks = rows[i][1].split()
        toks[7] = "changed"
        rows.append((1000 + i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.6)
    out = corpus.leakage_safe_split(docs, pairs)

    comp = dedup.connected_components(pairs)
    merged = {
        r["doc_id"]: (r["component"], r["split"])
        for r in out.join(comp, "doc_id", "left").collect()
    }
    by_comp: dict = {}
    for _did, (c, s) in merged.items():
        if c is not None:
            by_comp.setdefault(c, set()).add(s)
    assert by_comp and all(len(s) == 1 for s in by_comp.values()), by_comp
    # the planted pairs ARE clustered (the property isn't vacuous)
    assert sum(len(s) for s in by_comp.values()) >= 25

    # singletons: identical to the plain per-doc split
    plain = {r["doc_id"]: r["split"] for r in corpus.assign_split(docs).collect()}
    for did, (c, s) in merged.items():
        if c is None:
            assert s == plain[did], did

    # determinism under repartitioning
    again = {
        r["doc_id"]: r["split"]
        for r in corpus.leakage_safe_split(docs.repartition(7), pairs).collect()
    }
    assert again == {d: s for d, (_c, s) in merged.items()}
