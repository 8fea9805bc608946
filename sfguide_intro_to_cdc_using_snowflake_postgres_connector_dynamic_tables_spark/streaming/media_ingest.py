"""Streaming MEDIA ingestion: decode gate + exact-bytes dedup +
perceptual (band-index) dedup into the bucketed store.

The media twin of ``corpus_ingest``, and genuinely MULTIMODAL: the
perceptual tier dispatches per payload -- images get the DCT pHash,
audio the FFT spectral fingerprint, video the DISTINCT pHashes of up
to ``max_video_frames`` evenly-sampled frames
(``operators.multimodal.perceptual_hash_sets``) -- and each modality's
hashes live in a DISJOINT band-key namespace, so an audio fingerprint
can never collide with an image hash in the index.  Per micro-batch:

    decode gate      payloads parsing as none of the supported
                     formats drop (the quality gate of a binary
                     column: if it doesn't parse, it doesn't train)
    exact tier       md5(payload) vs the bucketed fingerprint table --
                     catches byte-identical re-uploads
    perceptual tier  64-bit perceptual hashes vs the band-bucketed
                     index: probe ONLY the band buckets the batch
                     hashes into, verify candidates with
                     xor+bit_count -- recall is EXACT per hash for
                     hamming distance < n_bands (pigeonhole), and
                     unlike the text tier no main-table fetch is
                     needed: the index row carries the stored hash,
                     which IS the verdict input

The multi-frame video signature is what survives a leading-frames
trim (the r11 evasion: frame-0-only hashing misses a copy minus its
opening frames); per-video index rows stay BOUNDED at
max_video_frames x n_bands regardless of duration.  A row is a
perceptual dup when >= ``min_match_hashes`` of its hashes (default 1)
match stored hashes within ``max_dist`` -- raise it for corpora where
single shared frames (title cards, black frames) are expected;
precise positional overlap remains the batch operator
``multimodal.video_near_dup``'s job.

Per-tick I/O is O(batch bands + candidates), never a media-table
scan -- the same contract as the text band index, with the verify one
codegen expression instead of a token-set intersection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .store import ParquetTableStore

#: index-layout version: bump if the hash kernels or band split change
#: (a stale-scheme index must never be probed -- same rule as the text
#: band index's scheme tag).  ph2 = modality-dispatched single hash
#: with per-modality band namespaces (retired: frame-0-only video
#: hashing is evaded by a leading-frames trim); ph3 = multi-frame
#: sampled video hash sets.  A store indexed under ph2 simply doesn't
#: have the ph3 table and gets a one-time backfill from the main
#: table (``_ensure_phash_index``).
PHASH_SCHEME = "ph3"

#: band-namespace codes; new modalities append (never renumber -- the
#: scheme tag exists so a numbering change is a scheme bump)
_MODALITY_CODE = {"image": 1, "audio": 2, "video": 3}


def media_fp_table(table: str) -> str:
    return f"{table}__mediafp"


def phash_index_table(table: str, n_bands: int) -> str:
    return f"{table}__pbands__{PHASH_SCHEME}-{n_bands}"


def _band_keys(hash_col, n_bands: int, modality_col=None):
    """Combined (modality, band index, band value) keys as one long
    each: ``modality_code << 48 | band_idx << width | band_val`` -- a
    single join/bucket column for the index table, with each
    modality's keys in a disjoint namespace.  Unsigned shifts so the
    sign bit stays in-band."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    ns = F.lit(0).cast("long")
    if modality_col is not None:
        for name, code in _MODALITY_CODE.items():
            ns = F.when(modality_col == name, F.lit(code << 48).cast("long")).otherwise(ns)
    return F.array(
        *[
            F.shiftrightunsigned(hash_col, i * width)
            .bitwiseAND(F.lit(mask))
            .bitwiseOR(F.lit(i << width))
            .bitwiseOR(ns)
            .alias(f"b{i}")
            for i in range(n_bands)
        ]
    )


def _hash_pass(batch: DataFrame, decode: str, max_video_frames: int) -> DataFrame:
    """ONE decode pass: payload fingerprint + modality-dispatched
    perceptual hash SET next to the media row.  Payloads decoding as
    no supported format yield NULL (dropped by the gate under
    ``decode='auto'``; any other value raises instead)."""
    from ..operators.multimodal import perceptual_hash_sets

    hashed = perceptual_hash_sets(
        batch, decode=decode, max_video_frames=max_video_frames
    ).select("media_id", "modality", "phashes")
    return (
        batch.withColumn(
            "content_fp", F.md5(F.coalesce(F.col("payload"), F.lit(b"")))
        )
        .join(hashed, "media_id")
        .filter(F.col("phashes").isNotNull() & (F.size("phashes") > 0))
    )


def _index_rows(rows: DataFrame, n_bands: int) -> DataFrame:
    """(media_id, modality, phash, band) index rows from hash-set rows:
    one row per (hash, band key) -- bounded per video at
    max_video_frames x n_bands, one hash x n_bands for image/audio."""
    hashes = rows.select(
        "media_id", "modality", F.explode("phashes").alias("phash")
    )
    return hashes.select(
        "media_id",
        "modality",
        "phash",
        F.explode(
            _band_keys(F.col("phash"), n_bands, F.col("modality"))
        ).alias("band"),
    )


def _ensure_phash_index(
    store: ParquetTableStore,
    spark: SparkSession,
    table: str,
    idx_name: str,
    n_buckets: int,
    n_bands: int,
    max_video_frames: int,
) -> None:
    """One-time backfill of the CURRENT-scheme perceptual index from
    the main table's payloads -- the rebuild path after a scheme bump
    (a ph2-era index is simply never probed; its table name differs).
    O(table) decode, once."""
    if store.exists(idx_name):
        return
    from ..operators.multimodal import perceptual_hash_sets

    hashed = perceptual_hash_sets(
        store.read(spark, table).select("media_id", "media_type", "payload"),
        decode="auto",
        max_video_frames=max_video_frames,
    ).filter(F.col("phashes").isNotNull() & (F.size("phashes") > 0))
    store.overwrite(
        idx_name,
        _index_rows(hashed, n_bands),
        partition_key="band",
        n_buckets=n_buckets,
    )


def ingest_media_batch(
    store: ParquetTableStore,
    spark: SparkSession,
    batch: DataFrame,
    table: str = "media",
    n_buckets: int = 8,
    max_dist: int = 4,
    n_bands: int = 8,
    decode: str = "auto",
    max_video_frames: int = 8,
    min_match_hashes: int = 1,
) -> None:
    """Apply one media micro-batch (see module docstring).  ``batch``
    carries MEDIA_SCHEMA columns; survivors upsert into ``table``
    (bucketed on media_id) and their fingerprints/band keys into the
    two index tables so the NEXT batch sees them.

    ``min_match_hashes``: how many of a row's perceptual hashes must
    match stored hashes (within ``max_dist``) before it counts as a
    dup -- 1 catches a trimmed video by any surviving sampled frame;
    raise it when lone shared frames are expected content."""
    from pyspark.sql.window import Window

    from ..operators.multimodal import phash_near_dup

    fp_name = media_fp_table(table)
    idx_name = phash_index_table(table, n_bands)

    keep = _hash_pass(batch, decode, max_video_frames)
    # batch-internal exact dedup: one row per payload (min id wins)
    keep = (
        keep.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("content_fp").orderBy("media_id")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # batch-internal perceptual dedup: drop the higher id of each pair
    # (pairs form only WITHIN a modality).  min_match_hashes counts
    # DISTINCT hashes of the DROPPED row (id_b) matching its partner --
    # the same per-partner rule as the cross-batch tier below, so a
    # duplicate passes or fails both tiers identically.  (Counting raw
    # hash-PAIR rows would double-count one new frame matching two
    # stored frames of the same partner.)
    intra = phash_near_dup(
        keep.select("media_id", "modality", F.explode("phashes").alias("phash")),
        max_dist=max_dist,
        n_bands=n_bands,
        group_col="modality",
        keep_hashes=True,
    )
    intra_dups = (
        intra.groupBy("id_a", "id_b")
        .agg(F.count_distinct("h_b").alias("__m"))
        .filter(F.col("__m") >= F.lit(min_match_hashes))
        .select(F.col("id_b").alias("media_id"))
        .distinct()
    )
    keep = keep.join(intra_dups, "media_id", "left_anti").cache()
    try:
        if not store.exists(table):
            # bootstrap commit order: the MAIN TABLE is the branch
            # marker, so it must land LAST -- a crash mid-bootstrap
            # then re-enters this branch on replay (overwrites are
            # idempotent), whereas table-first left a replay on the
            # normal path with no fp index to probe (a hard error on
            # every retry; see the crash-replay tests)
            store.overwrite(
                fp_name,
                keep.select("content_fp"),
                partition_key="content_fp",
                n_buckets=n_buckets,
            )
            store.overwrite(
                idx_name,
                _index_rows(keep, n_bands),
                partition_key="band",
                n_buckets=n_buckets,
            )
            store.overwrite(table, keep, partition_key="media_id", n_buckets=n_buckets)
            return
        _ensure_phash_index(
            store, spark, table, idx_name, n_buckets, n_bands, max_video_frames
        )
        if not store.exists(fp_name):
            # pre-fix stores could crash between the old bootstrap's
            # table and fp writes; rebuild the fp index from the main
            # table once instead of erroring on every replay
            store.overwrite(
                fp_name,
                store.read(spark, table).select("content_fp"),
                partition_key="content_fp",
                n_buckets=n_buckets,
            )

        # exact tier: probe only the fp buckets the batch hashes into
        seen = store.read_key_buckets(spark, fp_name, keep)
        new_rows = keep.join(seen, "content_fp", "left_anti") if seen is not None else keep

        # perceptual tier: probe only the band buckets the batch hashes
        # into; the index row carries the stored phash AND its owner,
        # so the hamming verify happens ON the join -- no media-table
        # fetch.  A row is a dup when >= min_match_hashes of its
        # DISTINCT hashes match hashes of ONE stored partner (grouped
        # by stored media_id -- two unrelated stored videos each
        # matching a single frame must not jointly reach the
        # threshold; same per-partner rule as the intra tier above).
        # A trimmed video is still caught by any surviving frame at
        # the default min_match_hashes=1.
        new_hashes = new_rows.select(
            "media_id", "modality", F.explode("phashes").alias("phash_new")
        )
        new_bands = new_hashes.select(
            "media_id",
            "phash_new",
            F.explode(
                _band_keys(F.col("phash_new"), n_bands, F.col("modality"))
            ).alias("band"),
        )
        stored = store.read_key_buckets(spark, idx_name, new_bands)
        if stored is not None:
            stored = stored.select(
                F.col("band"),
                F.col("media_id").alias("media_id_old"),
                F.col("phash").alias("phash_old"),
            )
            dup_ids = (
                new_bands.join(stored, "band")
                # a replayed batch may find ITS OWN rows in the index
                # (index appends commit before the fp "batch done"
                # marker -- see the commit-order note below); a row is
                # never a dup of itself
                .filter(F.col("media_id_old") != F.col("media_id"))
                .filter(
                    F.bit_count(
                        F.col("phash_new").bitwiseXOR(F.col("phash_old"))
                    )
                    <= F.lit(max_dist)
                )
                .groupBy("media_id", "media_id_old")
                .agg(F.count_distinct("phash_new").alias("__m"))
                .filter(F.col("__m") >= F.lit(min_match_hashes))
                .select("media_id")
                .distinct()
            )
            new_rows = new_rows.join(dup_ids, "media_id", "left_anti")

        new_rows = new_rows.cache()
        try:
            if new_rows.isEmpty():
                return
            # Commit order under crash-replay (the stream re-runs the
            # whole batch after any mid-batch death): the fp merge is
            # the "batch applied" marker and must land LAST, because
            # the replay's exact tier anti-joins against it -- under
            # the old order (table, fp, THEN index) a crash after the
            # fp merge made the replay see every row as already-seen
            # and the index rows were never appended: those media were
            # permanently invisible to the perceptual tier.  New
            # order: index append (deduped against the stored buckets,
            # so a replay re-append is a no-op instead of unbounded
            # growth), media merge (keyed upsert, idempotent), fp
            # merge.  Every crash point now replays to the exact
            # no-crash state (tests/test_media_crash_replay.py).
            idx_rows = _index_rows(new_rows, n_bands)
            already = store.read_key_buckets(spark, idx_name, idx_rows)
            if already is not None:
                cols = ["media_id", "modality", "phash", "band"]
                idx_rows = idx_rows.join(already.select(*cols), cols, "left_anti")
            store.append(spark, idx_name, idx_rows)
            store.merge(spark, table, new_rows, new_rows.select("media_id"))
            fps = new_rows.select("content_fp")
            store.merge(spark, fp_name, fps, fps)
        finally:
            new_rows.unpersist()
    finally:
        keep.unpersist()


def start_media_ingest(
    spark: SparkSession,
    feed_dir: str,
    store: ParquetTableStore,
    checkpoint: str,
    table: str = "media",
    n_buckets: int = 8,
    max_dist: int = 4,
    n_bands: int = 8,
    decode: str = "auto",
    max_video_frames: int = 8,
    min_match_hashes: int = 1,
):
    """Tail a parquet directory of MEDIA_SCHEMA files (binary payloads
    don't survive JSON feeds) and ingest each micro-batch.  Returns the
    started StreamingQuery (availableNow: drain-and-stop)."""
    from ..operators.multimodal import MEDIA_SCHEMA

    stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(feed_dir)
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda b, _id: ingest_media_batch(
                store,
                spark,
                b,
                table=table,
                n_buckets=n_buckets,
                max_dist=max_dist,
                n_bands=n_bands,
                decode=decode,
                max_video_frames=max_video_frames,
                min_match_hashes=min_match_hashes,
            )
        )
        .trigger(availableNow=True)
        .start()
    )
