"""Continuous corpus ingestion: the streaming front door of the
training-data pipeline.

    doc stream -> redelivery dedup (watermark-bounded)
               -> quality gate
               -> content-exact dedup against the store
               -> partitioned upsert (O(delta buckets) writes)

Batch-side operators are reused verbatim (quality_score, the md5
content fingerprint); the stream side adds only what streaming
requires: `dropDuplicatesWithinWatermark` for at-least-once feeds and
a foreachBatch sink doing the store merge.

Scale shape of the content dedup: the seen-fingerprint set lives in
its own ``<table>__fp`` companion table, hash-bucketed on
``content_fp``.  Each micro-batch anti-joins against ONLY the fp
buckets its own fingerprints hash into (``store.read_key_buckets``), so
the per-tick read cost is O(batch buckets) -- matching the
O(delta-buckets) writes of the partitioned upsert -- instead of a
corpus-sized fingerprint scan per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from ..operators.text import quality_score
from .joins import dedup_stream
from .store import ParquetTableStore

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def fp_table_name(table: str) -> str:
    return f"{table}__fp"


def _append_absent(
    store: ParquetTableStore,
    spark: SparkSession,
    name: str,
    rows: DataFrame,
    cols: list[str],
) -> None:
    """Append to the index ``name`` only the ``rows`` whose ``cols``
    it does not hold yet, anti-joined against just the buckets
    ``rows`` hash into (O(batch)): a replayed or retried batch
    re-appends nothing."""
    stored = store.read_key_buckets(spark, name, rows)
    if stored is not None:
        rows = rows.join(stored.select(*cols), cols, "left_anti")
    store.append(spark, name, rows)


def _seen_fps_for_batch(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    keep: DataFrame,
    n_buckets: int,
) -> DataFrame | None:
    """The store-side fingerprints this batch could possibly collide
    with: only the fp buckets the batch's own fingerprints hash into
    (None for an empty batch).

    The companion table is backfilled once from the main table for
    stores created before it existed (a one-time O(table) pass that
    buys O(batch-buckets) reads on every later tick)."""
    fp_name = fp_table_name(table)
    if not store.exists(fp_name):
        store.overwrite(
            fp_name,
            store.read(spark, table).select("content_fp"),
            partition_key="content_fp",
            n_buckets=n_buckets,
        )
    return store.read_key_buckets(spark, fp_name, keep)


def bands_table_name(
    table: str, num_hashes: int = 6, band_size: int = 2, wide: bool = False
) -> str:
    """Name of the persisted LSH band index for ``table`` -- the minhash
    SCHEME VERSION and band parameters are part of the name, so code
    running a different band computation (a scheme bump, different
    num_hashes/band_size, wide slices) never probes an index whose keys
    it cannot reproduce: it simply doesn't find the table and rebuilds
    via the one-time backfill path.  A stale-scheme index left behind by
    old code is never read again (harmless dead weight; drop manually
    if space matters)."""
    from ..operators.dedup import band_scheme

    return f"{table}__bands__{band_scheme(wide)}-{num_hashes}x{band_size}"


def _ensure_band_index(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    num_hashes: int,
    band_size: int,
    n_buckets: int,
    wide: bool = False,
) -> str:
    """Bootstrap the band index for the CURRENT scheme/parameters if it
    doesn't exist yet (one-time O(table) backfill -- also the rebuild
    path after a scheme bump invalidates a previously persisted index,
    per ADVICE r10: stale-scheme keys must never be probed).  ``wide``
    selects the 2^40 minhash slices for very-large-document corpora
    (its own scheme tag, so narrow/wide indexes never mix)."""
    from ..operators.dedup import band_keys_for_docs

    bands_name = bands_table_name(table, num_hashes, band_size, wide)
    if not store.exists(bands_name):
        store.overwrite(
            bands_name,
            band_keys_for_docs(
                store.read(spark, table),
                num_hashes=num_hashes,
                band_size=band_size,
                wide=wide,
            ),
            partition_key="band",
            n_buckets=n_buckets,
        )
    return bands_name


def _cross_pairs(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    bands_name: str,
    new_docs: DataFrame,
    new_bands: DataFrame,
    threshold: float,
    exclude_batch_ids: bool = False,
) -> DataFrame:
    """Verified near-dup pairs between ``new_docs`` and STORED docs:
    probe only the band buckets ``new_bands`` hashes into, fetch only
    the candidate stored docs (bucket-pruned by the main table's
    doc_id partitioning), exact token-set Jaccard verify.  Returns
    (doc_id, stored_id, jaccard) with jaccard >= threshold -- O(batch
    bands + candidates) I/O, never a corpus scan.

    ``exclude_batch_ids``: drop index rows whose doc_id is in the batch
    itself (re-probe safety for callers whose batch may already be
    indexed); the per-tick ingest filter skips this join because batch
    docs are never indexed before the filter runs."""
    from ..operators.text import tokens

    empty = new_docs.select(
        F.col("doc_id"),
        F.col("doc_id").alias("stored_id"),
        F.lit(1.0).alias("jaccard"),
    ).limit(0)
    stored_bands = store.read_key_buckets(spark, bands_name, new_bands)
    if stored_bands is None:
        return empty
    if exclude_batch_ids:
        stored_bands = stored_bands.join(
            new_docs.select("doc_id"), "doc_id", "left_anti"
        )
    cand = (
        new_bands.join(stored_bands.withColumnRenamed("doc_id", "stored_id"), "band")
        .select("doc_id", "stored_id")
        .distinct()
    )
    if cand.isEmpty():
        return empty
    # fetch ONLY the candidate stored docs (bucket-pruned by the
    # main table's doc_id partitioning when available; cand is
    # non-empty, so the probe is never None)
    cand_ids = cand.select(F.col("stored_id").alias("doc_id")).distinct()
    stored_docs = store.read_key_buckets(spark, table, cand_ids).join(
        cand_ids, "doc_id", "left_semi"
    )

    # exact token-set Jaccard verify of candidate pairs (same token
    # definition and arithmetic as dedup.lsh_pairs_from_tokens, so an
    # index probe reproduces the full-corpus LSH run's pairs exactly)
    new_toks = new_docs.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("toks_new")
    )
    old_toks = stored_docs.select(
        F.col("doc_id").alias("stored_id"),
        F.array_distinct(tokens(F.col("text"))).alias("toks_old"),
    )
    return (
        cand.join(new_toks, "doc_id")
        .join(old_toks, "stored_id")
        .withColumn("n_inter", F.size(F.array_intersect("toks_new", "toks_old")))
        .select(
            "doc_id",
            "stored_id",
            (
                F.col("n_inter")
                * 1.0
                / (F.size("toks_new") + F.size("toks_old") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_incremental(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    new_docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 6,
    band_size: int = 2,
    n_buckets: int = 16,
    update_index: bool = True,
    wide: bool = False,
) -> DataFrame:
    """Incremental BATCH near-dup over the persisted band index: the
    pairs a full ``minhash_lsh_pairs`` run over (corpus + new_docs)
    would emit that involve at least one new doc -- WITHOUT touching
    the corpus beyond the band buckets the new docs hash into.

    Today's alternative is re-running LSH over the full corpus to
    dedup an increment; at 100 TB that is the difference between
    O(corpus) and O(delta x bucket) per backfill batch.  Probe I/O is
    bounded by the new docs' own band keys (<= |delta| x n_bands rows
    joined against <= that many index buckets), candidate fetches are
    bucket-pruned on the main table's doc_id partitioning, and the
    final exact-Jaccard verify touches only candidate pairs.

    Returns (doc_a, doc_b, jaccard), doc_a < doc_b, the union of
    - batch-internal pairs (both docs new), and
    - batch-vs-store pairs (one doc new, one already in ``table``),
    each exactly verified -- identical values to the full-corpus run
    because the index stores the same band keys LSH builds internally
    (``band_keys_for_docs``) and the verify reuses the same token
    definition and arithmetic.

    ``update_index=True`` then upserts the new docs' band keys, so the
    NEXT increment sees this one -- consecutive calls compose to the
    full-corpus result.  Index rows for docs the caller later drops
    are harmless: their candidates find no main-table row and emit no
    pair.  Requires the main table to exist (bootstraps the band index
    from it on first call or after a scheme bump -- see
    ``bands_table_name``).

    ``wide=True`` for very-large-document corpora (per-doc distinct
    tokens past ``dedup.NARROW_MAX_TOKENS``, where the narrow scheme's
    plan guard refuses to run): the index gets its own scheme tag and
    is bootstrapped/probed/updated entirely under the wide slices.
    Pick it ONCE at index creation (``dedup.observed_max_tokens``) --
    the tag keeps a narrow index from ever being probed with wide keys.
    """
    from ..operators.dedup import _SIG_CACHES, band_keys_for_docs, minhash_lsh_pairs

    bands_name = _ensure_band_index(
        store, spark, table, num_hashes, band_size, n_buckets, wide
    )
    # batch-internal pairs (retires the previous LSH call's caches)
    intra = minhash_lsh_pairs(
        new_docs,
        num_hashes=num_hashes,
        band_size=band_size,
        threshold=threshold,
        wide=wide,
        pin=False,  # per-tick delta input: skip the width autodetect
    )
    new_bands = band_keys_for_docs(
        new_docs, num_hashes=num_hashes, band_size=band_size, wide=wide
    ).cache()
    _SIG_CACHES.append(new_bands)  # retired by the next dedup call
    cross = _cross_pairs(
        store, spark, table, bands_name, new_docs, new_bands, threshold,
        exclude_batch_ids=True,
    ).select(
        F.least("doc_id", "stored_id").alias("doc_a"),
        F.greatest("doc_id", "stored_id").alias("doc_b"),
        "jaccard",
    )
    pairs = intra.unionByName(cross)
    if update_index:
        # eager: the next increment must see this one's band keys.  A
        # retried call finds its own band rows already indexed (the
        # probe above excludes them); appending them again would grow
        # the index per retry
        _append_absent(store, spark, bands_name, new_bands, ["doc_id", "band"])
    return pairs


def _near_dup_filter(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    new_rows: DataFrame,
    threshold: float,
    num_hashes: int,
    band_size: int,
    n_buckets: int,
    wide: bool = False,
) -> DataFrame:
    """Drop batch docs that are near-duplicates (token-set Jaccard >=
    threshold) of anything already in the store, using the band-bucketed
    index (``bands_table_name``) so each tick reads only the band
    buckets the batch's own band keys hash into -- O(batch bands +
    candidates) per tick, never a corpus scan.

    Index bootstrap mirrors the fp table: a one-time O(table) backfill
    for stores created before the index existed (or indexed under a
    retired band scheme).
    """
    from ..operators.dedup import band_keys_for_docs, minhash_lsh_pairs

    # 1. batch-internal near-dup: keep the lowest-id doc of each pair
    intra = minhash_lsh_pairs(
        new_rows,
        num_hashes=num_hashes,
        band_size=band_size,
        threshold=threshold,
        wide=wide,
        pin=False,  # per-tick delta input: skip the width autodetect
    )
    survivors = new_rows.join(
        intra.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )

    bands_name = _ensure_band_index(
        store, spark, table, num_hashes, band_size, n_buckets, wide
    )
    new_bands = band_keys_for_docs(
        survivors, num_hashes=num_hashes, band_size=band_size, wide=wide
    ).cache()
    try:
        # 2.-3. probe the index + exact-verify candidates (shared with
        # the batch-incremental API).  exclude_batch_ids: a REPLAYED
        # batch (crash after the index append, before the fp "batch
        # done" marker -- see the commit-order note in ingest_batch)
        # finds its own band rows in the index; without the exclusion
        # every replayed doc would match its stored self and be
        # dropped, losing the batch.
        dup_ids = (
            _cross_pairs(
                store, spark, table, bands_name, survivors, new_bands, threshold,
                exclude_batch_ids=True,
            )
            .select("doc_id")
            .distinct()
        )
        return survivors.join(dup_ids, "doc_id", "left_anti")
    finally:
        new_bands.unpersist()


def _epoch_tag(salt: str) -> str:
    """Filesystem-safe split-epoch tag for index table names.  The
    empty salt (the pre-epoch default) keeps the historical names, so
    existing stores keep their indexes; any re-split salt maps to a
    short digest suffix -- the same scheme-tag rule as the media band
    indexes: an index built under one split epoch can NEVER be probed
    under another (it would silently classify docs by the stale
    split), so the epoch is part of the index identity and a re-split
    forces a rebuild."""
    if not salt:
        return ""
    import hashlib

    return "__e" + hashlib.md5(salt.encode("utf-8")).hexdigest()[:8]


def benchmark_grams_table_name(table: str, n: int = 8, salt: str = "") -> str:
    """Distinct word n-grams of every TEST-split doc seen so far
    (under the split epoch ``salt``)."""
    return f"{table}__testgrams__g{n}{_epoch_tag(salt)}"


def train_grams_table_name(table: str, n: int = 8, salt: str = "") -> str:
    """(doc_id, gram) postings of every CLEAN train-split doc seen so
    far -- what a new test doc's grams probe to retro-contaminate
    (under the split epoch ``salt``)."""
    return f"{table}__traingrams__g{n}{_epoch_tag(salt)}"


def _doc_grams(docs: DataFrame, n: int, salt: str = "") -> DataFrame:
    """Exploded (doc_id, split, gram) with per-doc-distinct grams --
    the same gram definition as ``corpus.decontaminate`` (split
    derived by the deterministic ``assign_split`` under the split
    epoch ``salt``, so increments and the batch recompute always
    agree on who is train/test)."""
    from ..operators.corpus import assign_split
    from ..operators.text import word_grams_arrow

    split = assign_split(docs, salt=salt)
    # Arrow-batched gram builder (r14): byte-identical to the
    # interpreted _word_grams(tokens(...)) chain (distinct=True is its
    # array_distinct) and ~4x faster -- keeps the incremental index
    # grams bit-equal to the batch decontaminate path.  Per-doc dedup
    # here is load-bearing for the INDEX paths: without it a doc with
    # repeated n-grams appends duplicate (doc_id, gram) postings (the
    # anti-joins only dedup against STORED rows, not within-batch),
    # breaking the total==distinct index invariant and inflating probe
    # I/O with history (ADVICE r14).
    return split.select(
        "doc_id",
        "split",
        F.explode(word_grams_arrow(F.col("text"), n, distinct=True)).alias("gram"),
    )


def _ensure_gram_indexes(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    n: int,
    n_buckets: int,
    salt: str = "",
) -> tuple[str, str]:
    """One-time O(table) bootstrap of both gram indexes from the main
    table (stores created before incremental decontamination existed,
    or after an n or split-epoch change -- both are part of the index
    names, so a re-split salt can never probe a stale-epoch index).

    Bootstrap caveat: the indexes are built from the main table AS
    STORED -- if that table predates decontamination, its own
    train/test contamination is NOT reported here (only probed against
    by future increments).  For the cumulative-equals-full-recompute
    property to cover pre-existing rows, run one batch
    ``corpus.decontaminate`` pass (same ``n``/``salt``) over the
    existing table at bootstrap and drop or record its flags."""
    tg = benchmark_grams_table_name(table, n, salt)
    rg = train_grams_table_name(table, n, salt)
    if not (store.exists(tg) and store.exists(rg)):
        grams = _doc_grams(store.read(spark, table), n, salt)
        if not store.exists(tg):
            store.overwrite(
                tg,
                grams.filter(F.col("split") == "test").select("gram").distinct(),
                partition_key="gram",
                n_buckets=n_buckets,
            )
        if not store.exists(rg):
            store.overwrite(
                rg,
                grams.filter(F.col("split") == "train").select("doc_id", "gram"),
                partition_key="gram",
                n_buckets=n_buckets,
            )
    return tg, rg


def decontaminate_incremental(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    new_docs: DataFrame,
    n: int = 8,
    n_buckets: int = 16,
    update_index: bool = True,
    salt: str = "",
) -> DataFrame:
    """Incremental benchmark decontamination over persisted gram
    indexes: the train docs a full ``corpus.decontaminate`` run over
    (corpus + new_docs) would newly flag -- WITHOUT re-scanning the
    corpus.

    ``salt`` is the split-EPOCH tag and must equal the salt the owner
    passes to the leakage-safe split for the current epoch.  It is
    part of the index table names, so an owner re-split (salt bump)
    makes the stale-epoch indexes unreachable and forces a one-time
    rebuild under the new split -- without it, persisted test/train
    gram indexes would silently classify docs under the OLD split and
    contamination against the actual wall could be missed.

    The batch operator's blind spot under increments is RETROACTIVE
    contamination: a test-split doc arriving at batch k contaminates
    train docs stored at batches < k, and a per-batch recompute that
    only checks the new docs silently misses them.  Both directions
    are covered here, each bucket-pruned:

    - NEW train docs probe the stored test-gram index (plus the same
      batch's own test grams -- batch-internal sharing counts), I/O
      bounded by the batch's gram buckets;
    - NEW test docs probe the stored train-gram postings, flagging
      already-stored train docs -- the retro direction;

    Returns (doc_id, origin) of newly-contaminated TRAIN docs, origin
    'batch' (arrived in this increment) or 'stored' (retro).  A doc is
    reported at the increment that contaminates it, exactly once if
    callers drop flagged docs: ``update_index=True`` appends the new
    test grams and only the CLEAN new train docs' postings, so the
    cumulative flagged set over any increment sequence equals the
    full-recompute ``decontaminate(all docs).filter(n_shared > 0)``
    set (pytest differential).  Requires the main table to exist
    (bootstraps both indexes from it on first call)."""
    tg, rg = _ensure_gram_indexes(store, spark, table, n, n_buckets, salt)
    grams = _doc_grams(new_docs, n, salt).cache()
    try:
        new_test = grams.filter(F.col("split") == "test")
        new_train = grams.filter(F.col("split") == "train")

        # direction 1: new train docs vs (stored + batch) test grams
        stored_test = store.read_key_buckets(spark, tg, new_train)
        if stored_test is None:
            stored_test = new_test.select("gram").limit(0)
        bench = stored_test.select("gram").unionByName(
            new_test.select("gram")
        ).distinct()
        contaminated_batch = (
            new_train.join(bench, "gram").select("doc_id").distinct()
        )

        # direction 2 (retro): new test grams vs stored train postings
        stored_train = store.read_key_buckets(spark, rg, new_test)
        if stored_train is not None:
            contaminated_stored = (
                stored_train.join(new_test.select("gram").distinct(), "gram")
                .select("doc_id")
                .distinct()
            )
        else:
            contaminated_stored = contaminated_batch.limit(0)

        out = contaminated_batch.select(
            "doc_id", F.lit("batch").alias("origin")
        ).unionByName(
            contaminated_stored.select(
                "doc_id", F.lit("stored").alias("origin")
            )
        )

        if update_index:
            out = out.cache()
            out.count()  # materialize before the indexes move underneath
            # dedupe the appended test grams against the STORED index,
            # not just within the batch: recurring grams (stopword
            # runs, boilerplate) otherwise accumulate duplicate rows
            # without bound over increments -- joins stay correct only
            # via downstream distinct, but index size (and probe I/O)
            # grows with history instead of with distinct grams.  The
            # anti-join is bucket-pruned to the batch's own gram
            # buckets, so it stays O(batch), the increment contract.
            _append_absent(
                store, spark, tg, new_test.select("gram").distinct(), ["gram"]
            )
            clean_train = new_train.join(
                contaminated_batch, "doc_id", "left_anti"
            ).select("doc_id", "gram")
            # same replay hazard on the TRAIN postings append: a crash
            # between the tg append above and this rg append, followed
            # by a caller retry of the increment, would re-append the
            # batch's (doc_id, gram) postings.  Probes stay correct
            # (consumers end in distinct) but the index grows per
            # replay.  Anti-join on the composite key, bucket-pruned to
            # the batch's own gram buckets -- still O(batch).
            _append_absent(store, spark, rg, clean_train, ["doc_id", "gram"])
            # retro-flagged stored postings stay in the index: their
            # docs are already reported (re-reports are harmless and
            # only occur if callers keep flagged docs anyway)
        return out
    finally:
        grams.unpersist()


def cells_table_name(table: str) -> str:
    return f"{table}__cells"


def centroids_table_name(table: str) -> str:
    return f"{table}__centroids"


def _embed_double(docs: DataFrame, dim: int) -> DataFrame:
    """(doc_id, embedding array<double>) via the hashing trick,
    L2-NORMALIZED: the dedup threshold is cosine (scale-invariant) but
    the quantizer cells are Euclidean, so clustering must happen on
    the unit sphere or a scaled near-copy (e.g. a doc pasted twice --
    cosine 1.0) lands in a different cell and is never compared.
    SemDeDup clusters normalized embeddings for exactly this reason.
    Docs with no tokens produce no row (they cannot semantically match
    anything and pass through unharmed)."""
    from ..operators.corpus import hashing_embed

    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return hashing_embed(docs, dim=dim).select(
        "doc_id",
        F.transform(v, lambda x: x / norm).alias("embedding"),
    )


def _load_centroids(store: ParquetTableStore, spark: SparkSession, table: str):
    rows = (
        store.read(spark, centroids_table_name(table)).orderBy("cell").collect()
    )
    return [[float(x) for x in r["centroid"]] for r in rows]


def _write_semantic_index(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    docs: DataFrame,
    centroids,
    dim: int,
    n_buckets: int,
    bootstrap: bool,
) -> None:
    """(doc_id, embedding, cell) rows for ``docs`` into the
    cell-bucketed ``<table>__cells`` index (append is bucket-pruned --
    same non-unique-key path the band index uses)."""
    from ..operators.similarity import assign_cells

    idx = assign_cells(_embed_double(docs, dim), centroids, "embedding", out_col="cell")
    name = cells_table_name(table)
    if bootstrap:
        store.overwrite(name, idx, partition_key="cell", n_buckets=n_buckets)
    else:
        # dedupe against the stored buckets so a crash-REPLAYED batch's
        # re-append is a no-op instead of duplicate index growth
        # (cell assignment is deterministic per doc, so (doc_id, cell)
        # identifies the row)
        _append_absent(store, spark, name, idx, ["doc_id", "cell"])


def _semantic_filter(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    new_rows: DataFrame,
    threshold: float,
    dim: int,
    n_cells: int,
    n_buckets: int,
    seed: int = 42,
) -> tuple[DataFrame, list | None]:
    """Drop batch docs whose hashing-trick embedding reaches
    ``cosine >= threshold`` against (a) a lower-id doc in the SAME
    batch or (b) anything already stored -- the semantic
    (paraphrase-level) tier next to the exact-fp and MinHash tiers.

    The quantizer is trained ONCE (on the stored corpus at index
    bootstrap) and persisted in ``<table>__centroids``; every batch
    assigns with those same cells, so the ``<table>__cells`` index
    stays consistent and each tick reads only the cell buckets the
    batch's own vectors land in.

    Returns ``(filtered_rows, centroids)``; ``centroids`` is None when
    nothing is embeddable anywhere yet (no quantizer exists -- the
    caller must then skip the index append rather than re-load a
    centroids table that was never created)."""
    from ..operators.dedup import cross_cell_hits, semantic_dedup
    from ..operators.similarity import _kmeans_centroids, assign_cells

    cells_name = cells_table_name(table)
    if not store.exists(cells_name):
        # one-time backfill: train the quantizer on the stored corpus
        # (bounded driver sample), persist it, index the stored docs
        stored_emb = _embed_double(store.read(spark, table), dim)
        if stored_emb.first() is None:
            # store holds no embeddable docs (e.g. an all-filtered seed
            # batch): train on the incoming batch instead -- the sample
            # must be non-empty or the k-means init indexes into nothing
            stored_emb = _embed_double(new_rows, dim)
            if stored_emb.first() is None:
                return new_rows, None  # nothing embeddable anywhere yet
        centroids = _kmeans_centroids(stored_emb, "embedding", n_cells, seed)
        store.overwrite(
            centroids_table_name(table),
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(centroids)],
                "cell int, centroid array<double>",
            ),
        )
        _write_semantic_index(
            store, spark, table, store.read(spark, table), centroids, dim,
            n_buckets, bootstrap=True,
        )
    else:
        centroids = _load_centroids(store, spark, table)

    emb_new = _embed_double(new_rows, dim).cache()
    try:
        if emb_new.isEmpty():
            return new_rows, centroids  # tokenless batch: nothing to compare
        # (a) batch-internal semantic dedup under the SHARED cells
        verdicts = semantic_dedup(
            emb_new, id_col="doc_id", threshold=threshold, centroids=centroids
        )
        intra_dups = verdicts.filter(~F.col("kept")).select("doc_id")
        kept_emb = emb_new.join(intra_dups, "doc_id", "left_anti")

        # (b) probe ONLY the stored cell buckets this batch touches
        assigned = assign_cells(kept_emb, centroids, "embedding", out_col="cell")
        both = assigned.select(
            F.col("doc_id").alias("id"),
            F.col("embedding").alias("v"),
            F.lit("T").alias("side"),
            "cell",
        )
        stored_idx = store.read_key_buckets(spark, cells_name, assigned)
        if stored_idx is not None:
            # a REPLAYED batch may already be in the cell index (appends
            # commit before the fp batch-done marker); a doc must never
            # semantically match its own stored copy
            both = both.unionByName(
                stored_idx.join(
                    new_rows.select("doc_id"), "doc_id", "left_anti"
                ).select(
                    F.col("doc_id").alias("id"),
                    F.col("embedding").alias("v"),
                    F.lit("B").alias("side"),
                    "cell",
                )
            )
        cross_dups = (
            cross_cell_hits(both, threshold)
            .filter(F.col("contaminated"))
            .select(F.col("id").alias("doc_id"))
        )
        drop = intra_dups.unionByName(cross_dups).distinct()
        return new_rows.join(drop, "doc_id", "left_anti"), centroids
    finally:
        emb_new.unpersist()


def ingest_batch(
    store: ParquetTableStore,
    spark: SparkSession,
    batch: DataFrame,
    table: str = "corpus",
    min_quality: float = 0.2,
    n_buckets: int = 16,
    near_dup: bool = False,
    near_threshold: float = 0.8,
    num_hashes: int = 6,
    band_size: int = 2,
    wide: bool = False,
    semantic: bool = False,
    sem_threshold: float = 0.9,
    sem_dim: int = 16,
    sem_cells: int = 16,
    clf_weights: dict[str, float] | None = None,
    clf_bias: float = 0.0,
) -> None:
    """Apply one micro-batch: quality-gate, drop docs whose exact
    content already exists in the store, optionally drop NEAR
    duplicates of stored content (``near_dup=True``: MinHash-LSH band
    index probe + exact Jaccard verify; ``semantic=True``:
    hashing-trick embedding cosine vs the cell-bucketed index --
    paraphrase-level dups token-set Jaccard misses), upsert the rest
    (and the new fingerprints/band keys/cell rows into their bucketed
    index tables).

    ``clf_weights``: swap the heuristic quality gate for the LEARNED
    scorer (``operators.quality_model``): the gate becomes
    ``linear_token_score(...) >= min_quality`` with the exported
    (weights, bias) of a trained classifier compiled into the plan --
    same single-projection shape, same zero-shuffle cost, so upgrading
    the gate from heuristic to model is a config change, not a
    pipeline change."""
    # gate + fingerprint in ONE projection of ONE pass over the batch
    # (extra= carries the payload columns through the scoring
    # projection; the old two-frame form semi-joined the scored ids
    # back to the batch -- a second scan and two shuffles)
    gate_extra = {
        **{c: F.col(c) for c in batch.columns if c != "doc_id"},
        "content_fp": F.md5(F.encode(F.col("text"), "UTF-8")),
    }
    if clf_weights is not None:
        from ..operators.quality_model import linear_token_score

        keep = (
            linear_token_score(batch, clf_weights, clf_bias, extra=gate_extra)
            .filter(F.col("clf_score") >= min_quality)
            .drop("clf_score")
        )
    else:
        keep = (
            quality_score(batch, extra=gate_extra)
            .filter(F.col("quality") >= min_quality)
            .drop("quality")
        )
    # batch-internal exact dedup: one doc per content (min doc_id wins)
    keep = (
        keep.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("content_fp").orderBy("doc_id")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .cache()  # one materialization feeds bucket-id collect, isEmpty, and both merges
    )
    fp_name = fp_table_name(table)
    try:
        if not store.exists(table):
            if near_dup:
                from ..operators.dedup import band_keys_for_docs, minhash_lsh_pairs

                intra = minhash_lsh_pairs(
                    keep,
                    num_hashes=num_hashes,
                    band_size=band_size,
                    threshold=near_threshold,
                    pin=False,  # bootstrap batch: delta-sized
                    wide=wide,
                )
                keep = keep.join(
                    intra.select(F.col("doc_b").alias("doc_id")).distinct(),
                    "doc_id",
                    "left_anti",
                )
            sem_centroids = None
            if semantic:
                from ..operators.dedup import semantic_dedup
                from ..operators.similarity import _kmeans_centroids

                emb0 = _embed_double(keep, sem_dim)
                if emb0.first() is not None:
                    # the quantizer trains ONCE, on the seed batch, and
                    # is persisted -- all later batches share its cells
                    sem_centroids = _kmeans_centroids(
                        emb0, "embedding", sem_cells, 42
                    )
                    verd = semantic_dedup(
                        emb0,
                        id_col="doc_id",
                        threshold=sem_threshold,
                        centroids=sem_centroids,
                    )
                    keep = keep.join(
                        verd.filter(~F.col("kept")).select("doc_id"),
                        "doc_id",
                        "left_anti",
                    )
            # bootstrap commit order: the MAIN TABLE is the branch
            # marker and lands LAST -- a crash mid-bootstrap re-enters
            # this branch on replay (idempotent overwrites) instead of
            # hitting the normal path with half-built companions.
            # (The companions also self-heal via their backfills, but
            # a backfill-from-table after a table-first crash indexes
            # the batch's own rows and the normal-path filters must
            # then exclude them -- marker-last avoids the hazard
            # entirely for bootstrap.)
            if sem_centroids is not None:
                store.overwrite(
                    centroids_table_name(table),
                    spark.createDataFrame(
                        [(i, c) for i, c in enumerate(sem_centroids)],
                        "cell int, centroid array<double>",
                    ),
                )
            store.overwrite(
                fp_name, keep.select("content_fp"), partition_key="content_fp", n_buckets=n_buckets
            )
            if near_dup:
                store.overwrite(
                    bands_table_name(table, num_hashes, band_size, wide),
                    band_keys_for_docs(
                        keep, num_hashes=num_hashes, band_size=band_size, wide=wide
                    ),
                    partition_key="band",
                    n_buckets=n_buckets,
                )
            store.overwrite(table, keep, partition_key="doc_id", n_buckets=n_buckets)
            if sem_centroids is not None:
                # cells index derives from the committed table (the
                # bootstrap=True path reads it); written after the
                # marker, a crash here is healed by _semantic_filter's
                # exists-check backfill on the next batch
                _write_semantic_index(
                    store, spark, table, keep, sem_centroids, sem_dim,
                    n_buckets, bootstrap=True,
                )
            return
        seen = _seen_fps_for_batch(store, spark, table, keep, n_buckets)
        new_rows = (
            keep if seen is None else keep.join(seen, "content_fp", "left_anti")
        )
        if near_dup:
            new_rows = _near_dup_filter(
                store,
                spark,
                table,
                new_rows,
                near_threshold,
                num_hashes,
                band_size,
                n_buckets,
                wide,
            )
        sem_centroids = None
        if semantic:
            new_rows, sem_centroids = _semantic_filter(
                store, spark, table, new_rows, sem_threshold, sem_dim,
                sem_cells, n_buckets,
            )
        new_rows = new_rows.cache()
        try:
            if new_rows.isEmpty():
                return
            # Commit order under crash-replay (the stream re-runs the
            # whole batch after any mid-batch death): the fp merge is
            # the "batch applied" marker and lands LAST -- under the
            # old order (table, fp, THEN the index appends) a crash
            # after the fp merge made the replay see every row as
            # already-seen, so the batch's band keys / cells were
            # never indexed and those docs were PERMANENTLY invisible
            # to the near-dup and semantic walls (a paraphrase then
            # ingested cleanly; reproduced in
            # tests/test_corpus_crash_replay.py).  New order: index
            # appends first (bucket-pruned anti-join dedupe makes a
            # replay re-append a no-op; the probe filters exclude
            # batch ids so a replayed batch never matches its own
            # stored rows), table merge (keyed upsert, idempotent),
            # fp merge.
            if near_dup:
                from ..operators.dedup import band_keys_for_docs

                bn = bands_table_name(table, num_hashes, band_size, wide)
                band_rows = band_keys_for_docs(
                    new_rows, num_hashes=num_hashes, band_size=band_size, wide=wide
                )
                _append_absent(store, spark, bn, band_rows, ["doc_id", "band"])
            if semantic and sem_centroids is not None:
                # centroids threaded from _semantic_filter (no re-read);
                # None means no quantizer exists yet (nothing embeddable
                # anywhere) and there is no index to append into
                _write_semantic_index(
                    store, spark, table, new_rows, sem_centroids,
                    sem_dim, n_buckets, bootstrap=False,
                )
            if store.partition_spec(table) is None:
                # legacy unpartitioned table: no bucket manifest to merge
                # into -- fall back to a documented full rewrite
                merged = (
                    store.read(spark, table)
                    .join(new_rows.select("doc_id"), "doc_id", "left_anti")
                    .unionByName(new_rows)
                )
                store.overwrite(table, merged)
            else:
                store.merge(spark, table, new_rows, new_rows.select("doc_id"))
            fps = new_rows.select("content_fp")
            store.merge(spark, fp_name, fps, fps)
        finally:
            new_rows.unpersist()
    finally:
        keep.unpersist()


def start_corpus_ingest(
    spark: SparkSession,
    feed_dir: str,
    store: ParquetTableStore,
    checkpoint: str,
    table: str = "corpus",
    watermark: str = "30 minutes",
    min_quality: float = 0.2,
    near_dup: bool = False,
    near_threshold: float = 0.8,
    wide: bool = False,
    semantic: bool = False,
    sem_threshold: float = 0.9,
    clf_weights: dict[str, float] | None = None,
    clf_bias: float = 0.0,
):
    """Start the ingestion stream (availableNow-compatible).  Returns
    the StreamingQuery.  ``near_dup=True`` additionally drops documents
    whose token-set Jaccard vs ANY stored document reaches
    ``near_threshold`` (band-indexed MinHash probe, O(batch bands)
    reads per tick); ``wide=True`` runs the 2^40 minhash slices for
    very-large-document corpora (required past
    ``dedup.NARROW_MAX_TOKENS`` per-doc distinct tokens, where the
    narrow scheme's plan guard fails the batch -- pick once at stream
    creation, the index scheme tag is part of the index name);
    ``semantic=True`` drops documents whose hashing-trick embedding
    cosine vs ANY stored document reaches ``sem_threshold``
    (cell-bucketed index probe, O(batch cells) reads per tick);
    ``clf_weights``/``clf_bias`` swap the heuristic quality gate for a
    trained classifier's exported weights (see ``ingest_batch``)."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(feed_dir)
    deduped = dedup_stream(stream, keys=("doc_id",), ts_col="ts", watermark=watermark)
    return (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda b, _id: ingest_batch(
                store,
                spark,
                b,
                table=table,
                min_quality=min_quality,
                near_dup=near_dup,
                near_threshold=near_threshold,
                wide=wide,
                semantic=semantic,
                sem_threshold=sem_threshold,
                clf_weights=clf_weights,
                clf_bias=clf_bias,
            )
        )
        .trigger(availableNow=True)
        .start()
    )
