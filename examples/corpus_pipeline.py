"""End-to-end LLM training-corpus preparation on the engine.

Mirrors the shape of a production data pipeline:

    raw docs -> normalize -> quality gate -> near-dup clustering
             -> keep one doc per cluster -> benchmark decontamination
             -> deterministic train/val/test split
             -> split-partitioned parquet (pruned reads)

Every stage is a pure DataFrame transformation (one lazy plan until the
final write), so Catalyst fuses the scans/filters and the only
shuffles are the ones the operators declare (dedup banding, component
propagation, decontamination count).

Run: python examples/corpus_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators import (
    corpus,
    dedup,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.text import (
    clean_text,
    quality_score,
    repetition_stats,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.session import (
    get_spark,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.testdata import (
    load_table,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="corpus-")
    spark = get_spark(app_name="corpus-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    raw = load_table(spark, sf_dir, "documents")
    n_raw = raw.count()

    # 1. normalize text (codegen-only, no shuffle)
    docs = raw.select("doc_id", "lang", clean_text(F.col("text")).alias("text"))

    # 2. quality gate: drop degenerate / boilerplate docs
    q = quality_score(docs).select("doc_id", "quality")
    rep = repetition_stats(docs)
    keep_q = (
        docs.join(q, "doc_id")
        .join(rep, "doc_id")
        .filter(
            (F.col("quality") >= 0.2)
            & (F.col("top_token_fraction") <= 0.5)
            & (F.col("dup_bigram_fraction") <= 0.9)
        )
        .select("doc_id", "lang", "text")
    )
    n_quality = keep_q.count()

    # 3. near-dup clusters -> keep the lowest doc_id per cluster
    pairs = dedup.ngram_jaccard_pairs(keep_q, n=2, threshold=0.6)
    comps = dedup.connected_components(pairs)
    drop = comps.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    unique_docs = keep_q.join(F.broadcast(drop), "doc_id", "left_anti")
    n_unique = unique_docs.count()

    # 4. split, then decontaminate train against the test split's 8-grams
    split_docs = corpus.assign_split(unique_docs)
    contaminated = (
        corpus.decontaminate(unique_docs)
        .filter(F.col("n_shared") > 0)
        .select("doc_id")
    )
    final = split_docs.join(F.broadcast(contaminated), "doc_id", "left_anti")
    n_final = final.count()

    # 5. corpus-level vocab audit: approximate heavy hitters over the
    # token stream (constant-memory Misra-Gries -- the 100 TB-safe form
    # of an exact vocab count, with its own error certificate)
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.sketches import (
        heavy_hitters,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.text import tokens

    token_stream = final.select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    print("== top tokens (MG sketch, est <= true <= est + bound) ==")
    heavy_hitters(token_stream, "token", k=10, capacity=4096).show(10, truncate=False)

    # 6. split-partitioned write -> reading one split prunes the others
    final.write.mode("overwrite").partitionBy("split").parquet(out_dir)

    # 7. the NEXT batch arrives: its near-dup edges are the pairs a
    # batch MinHash-LSH over corpus + increment emits that include an
    # increment doc
    corpus_docs = final.select("doc_id", "text")
    some = corpus_docs.limit(2).collect()
    delta = spark.createDataFrame(
        [(900000 + i, r["text"]) for i, r in enumerate(some)]  # re-submissions
        + [(900100, "a genuinely new document about spark shuffles")],
        "doc_id long, text string",
    )
    delta_ids = [r["doc_id"] for r in delta.select("doc_id").collect()]
    inc_pairs = dedup.minhash_lsh_pairs(corpus_docs.unionByName(delta)).filter(
        F.col("doc_a").isin(delta_ids) | F.col("doc_b").isin(delta_ids)
    )
    print("== increment vs corpus (near-dup pairs touching the increment) ==")
    inc_pairs.show(truncate=False)
    dup_new = inc_pairs.select(
        F.greatest("doc_a", "doc_b").alias("doc_id")
    ).distinct()
    survivors = delta.join(dup_new, "doc_id", "left_anti")
    print(f"increment: {delta.count()} docs, {survivors.count()} survive near-dup")

    # 8. keep the train/test wall standing under the increment: a new
    # pair can MERGE clusters already assigned to different splits --
    # the incremental split re-anchors merged clusters (matching a
    # full recompute) and QUARANTINES any already-assigned doc whose
    # side would flip, so nothing trained-on can surface in test
    split_state = corpus.leakage_safe_split_state(
        keep_q.select("doc_id"), pairs
    )
    split_state = corpus.leakage_safe_split_increment(
        split_state, delta.select("doc_id"), inc_pairs
    )
    by_split = {
        r["split"]: r["n"]
        for r in split_state.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(f"leakage-safe split after increment: {by_split}")

    print(f"raw documents:        {n_raw}")
    print(f"after quality gate:   {n_quality}")
    print(f"after near-dup dedup: {n_unique}")
    print(f"after decontamination:{n_final}")
    per_split = {
        r["split"]: r["n"]
        for r in spark.read.parquet(out_dir).groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(f"written to {out_dir}: {per_split}")
    spark.stop()


if __name__ == "__main__":
    main()
