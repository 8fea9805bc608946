"""Corpus-management operators for training-data pipelines: deterministic
splits and benchmark decontamination.

Both are pure built-in-function dataflows (md5 / array HOFs / joins;
the one exception is n-gram construction, which uses the Arrow-batched
``text.word_grams_arrow`` because HOF gram-building is interpreted, not
codegen'd) -- and both are keyed on a *content-independent
deterministic hash* so reruns, backfills, and incremental appends land
every document in the same split without coordination.  That property is
what makes the split usable on a 1000-executor cluster: no global sort,
no sampling pass, no driver state -- each row decides its own fate from
``md5(id)``.

Reference: the quickstart has no corpus tooling; these extend the engine
for the LLM-pipeline surface (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..session import one_partition_df

# hex-decode of the first two md5 nibbles -> uniform bucket in [0, 256);
# Spark uses conv(hex, 16, 10), the DuckDB oracle strpos nibble
# arithmetic (same trick as the simhash oracle, plans/catalog_ext.py) --
# different spellings of the identical value.


def hash_bucket(id_col: Column) -> Column:
    """Deterministic uniform bucket in [0, 256) from the first two hex
    nibbles of ``md5(cast(id as string))``.  The DuckDB oracle rebuilds
    the same value with strpos nibble arithmetic
    (``(strpos(hex, h[1])-1)*16 + strpos(hex, h[2])-1``)."""
    h = F.md5(id_col.cast("string"))
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int")


def assign_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_hi: int = 205,
    val_hi: int = 231,
    salt: str = "",
) -> DataFrame:
    """Append a deterministic ``split`` column: train (~80%), val (~10%),
    test (~10%) by hash bucket.  Stratification is automatic -- the hash
    is uniform within any stratum -- and membership is stable under
    appends and reshuffles (no ordering or sampling dependence).
    """
    return docs.withColumn(
        "split", _split_expr(F.col(id_col), train_hi, val_hi, salt)
    )


def _split_expr(
    anchor: Column, train_hi: int, val_hi: int, salt: str = ""
) -> Column:
    """train/val/test from the hash bucket of ``anchor`` -- shared by
    :func:`assign_split` (anchor = the doc id) and
    :func:`leakage_safe_split` (anchor = the dup-cluster label).

    ``salt``: re-split EPOCH tag.  The empty default leaves the hash
    input untouched (byte-identical to every oracle); a non-empty salt
    re-draws every assignment -- the remedy when incremental
    maintenance's quarantine fraction climbs (``split_health``).  Like
    the index scheme tags, the salt is pinned per epoch: every
    increment of one epoch must pass the same salt."""
    keyed = (
        anchor
        if not salt
        else F.concat(anchor.cast("string"), F.lit(f"|{salt}"))
    )
    b = hash_bucket(keyed)
    return (
        F.when(b < train_hi, F.lit("train"))
        .when(b < val_hi, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_hi: int = 205,
    val_hi: int = 231,
    salt: str = "",
) -> DataFrame:
    """Split assignment that never separates near-duplicates: members
    of a dup cluster share one split, so a test document can never
    have a paraphrase sitting in train (the classic silent-eval-leak
    that per-doc hash splits permit by construction).

    ``pairs``: any near-dup pair list (``minhash_lsh_pairs``,
    ``ngram_jaccard_pairs``, ``phash_near_dup`` ids, ...).  The split
    anchor is the doc's connected-component label (min member id) when
    it has one, else the doc id itself -- so singleton docs split
    exactly like :func:`assign_split`, and the whole cluster inherits
    the split its label hashes to.  Same determinism contract as every
    split/sample here: stable under appends, retries, and input
    layout; adding a NEW member to an existing cluster lands it in the
    cluster's split (the label only changes if the new doc undercuts
    the min id -- use stable ids).

    Cost on top of the pair list: the component propagation
    (O(log n) rounds over the pair list, see
    ``dedup.connected_components``) + one broadcast-sized join of the
    component map (dup-cluster members only, a small fraction of the
    corpus) onto the doc spine.
    """
    from .dedup import connected_components

    comp = connected_components(pairs)
    joined = docs.join(
        comp.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    anchor = F.coalesce(F.col("component"), F.col(id_col))
    return joined.withColumn(
        "split", _split_expr(anchor, train_hi, val_hi, salt)
    ).drop("component")


#: Split value for docs pulled OUT of their split by an incremental
#: cluster merge (see :func:`leakage_safe_split_increment`): excluded
#: from train AND eval, so nothing a model may already have seen (or
#: been evaluated on) can cross sides.
QUARANTINE = "quarantine"


def leakage_safe_split_state(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_hi: int = 205,
    val_hi: int = 231,
    salt: str = "",
) -> DataFrame:
    """:func:`leakage_safe_split` as a maintainable STATE table:
    ``(id_col, anchor, split)`` -- the anchor (component label, else
    own id) is what :func:`leakage_safe_split_increment` needs to
    carry cluster identity across increments.  Values match
    ``leakage_safe_split`` exactly."""
    from .dedup import connected_components

    comp = connected_components(pairs)
    joined = docs.select(id_col).join(
        comp.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    anchor = F.coalesce(F.col("component"), F.col(id_col))
    return joined.select(
        F.col(id_col),
        anchor.alias("anchor"),
        _split_expr(anchor, train_hi, val_hi, salt).alias("split"),
    )


def leakage_safe_split_increment(
    assignment: DataFrame,
    new_docs: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "doc_id",
    train_hi: int = 205,
    val_hi: int = 231,
    salt: str = "",
    checkpoint: str = "local",
) -> DataFrame:
    """Maintain a leakage-safe split under corpus increments: new docs
    and new near-dup edges (e.g. the pairs of a ``minhash_lsh_pairs``
    run that touch a new doc) arrive, and a new edge may
    MERGE two clusters already assigned to DIFFERENT splits -- the
    silent train/test leak a per-batch recompute would paper over by
    flipping docs a model may already have consumed.

    Policy (the invariants the property tests pin):

    - the merged cluster re-anchors to its minimum member id and
      adopts that anchor's hash split -- exactly what a full
      :func:`leakage_safe_split` recompute over (all docs, all pairs)
      assigns, so non-quarantined docs always agree with the batch
      recompute;
    - an ALREADY-ASSIGNED doc whose split would flip is QUARANTINED
      (``split='quarantine'``) instead: it leaves its old side but
      never enters the other, so nothing trained-on can surface in
      test and nothing evaluated-on can surface in train;
    - quarantine is sticky: a doc's historical exposure doesn't wash
      out just because a later merge swings the anchor back;
    - new docs are unexposed, so they take the merged cluster's split
      directly (singletons hash-split on their own id, identical to
      :func:`assign_split`).

    Cost is O(affected), never O(corpus): the touched clusters are
    found by two keyed semi-joins (edge endpoints -> anchors ->
    members), connectivity runs over (new edges + member->anchor
    edges) only -- past connectivity is carried transitively by the
    anchor edges, so the union of increments reproduces the
    full-edge-set components -- and untouched assignment rows pass
    through without a shuffle on their data.

    ``assignment``: the ``(id_col, anchor, split)`` state from
    :func:`leakage_safe_split_state` or a previous increment.
    ``new_pairs``: (doc_a, doc_b, ...) near-dup edges with at least
    the two id columns.  Returns the updated state table, with plan
    lineage CUT per the ``checkpoint`` policy (``"local"`` =
    localCheckpoint, ``"reliable"`` = storage-backed -- see
    ``dedup._cut_lineage``): each increment's output plan is a union
    over the previous state, so an UNCUT chain of k increments
    re-executes all k unions (plus every connectivity loop) on every
    action -- O(history), not the documented O(affected).  The cut
    makes chaining safe by construction; on a real cluster pass
    ``checkpoint="reliable"`` (or persist the state table between
    increments yourself, which also cuts lineage).
    """
    from .dedup import _cut_lineage, connected_components

    new_ids = new_docs.select(F.col(id_col)).distinct()
    fresh = new_ids.join(assignment.select(id_col), id_col, "left_anti")
    edges = new_pairs.select("doc_a", "doc_b")
    if edges.isEmpty():
        singles = fresh.select(
            F.col(id_col),
            F.col(id_col).alias("anchor"),
            _split_expr(F.col(id_col), train_hi, val_hi, salt).alias("split"),
        )
        return _cut_lineage(assignment.unionByName(singles), checkpoint)

    endpoints = (
        edges.select(F.col("doc_a").alias(id_col))
        .unionByName(edges.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    touched = (
        assignment.join(endpoints, id_col, "left_semi")
        .select("anchor")
        .distinct()
    )
    members = assignment.join(touched, "anchor", "left_semi")
    graph = edges.unionByName(
        members.select(
            F.col(id_col).alias("doc_a"), F.col("anchor").alias("doc_b")
        )
    )
    comp = connected_components(graph)

    merged_split = _split_expr(F.col("component"), train_hi, val_hi, salt)
    upd = (
        members.join(comp.withColumnRenamed("doc_id", id_col), id_col)
        .select(
            F.col(id_col),
            F.col("component").alias("anchor"),
            F.when(F.col("split") == F.lit(QUARANTINE), F.lit(QUARANTINE))
            .when(F.col("split") != merged_split, F.lit(QUARANTINE))
            .otherwise(F.col("split"))
            .alias("split"),
        )
    )
    newrows = (
        fresh.join(comp.withColumnRenamed("doc_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("anchor"),
        )
        .withColumn(
            "split", _split_expr(F.col("anchor"), train_hi, val_hi, salt)
        )
    )
    rest = assignment.join(touched, "anchor", "left_anti")
    return _cut_lineage(
        rest.unionByName(upd).unionByName(newrows), checkpoint
    )


def resplit_epoch(
    docs: DataFrame,
    pairs: DataFrame,
    salt: str,
    id_col: str = "doc_id",
    train_hi: int = 205,
    val_hi: int = 231,
) -> DataFrame:
    """Start a NEW split epoch: a full leakage-safe recompute over the
    whole corpus and the CUMULATIVE near-dup pair list, under a fresh
    ``salt`` -- the drain valve for quarantine growth.

    Quarantine is sticky BY DESIGN within an epoch (historical
    exposure never washes out), so its fraction only climbs as merges
    accumulate; when :func:`split_health` recommends it, the owner
    declares a new training/eval cycle and re-splits.  Within the new
    epoch no doc has been exposed yet, so quarantine starts at ZERO
    while the cluster-shares-one-split invariant (straddling_pairs=0)
    holds by construction.  The salt must then be threaded to every
    consumer of the split -- increments
    (:func:`leakage_safe_split_increment`) and decontamination
    (``decontaminate(salt=...)``) -- or they silently check the OLD
    wall.

    ``salt`` must be non-empty: the empty string is the pre-epoch
    default, so a "re-split" to it would reproduce the old split."""
    if not salt:
        raise ValueError("resplit_epoch requires a non-empty epoch salt")
    return leakage_safe_split_state(
        docs, pairs, id_col=id_col, train_hi=train_hi, val_hi=val_hi,
        salt=salt,
    )


def split_health(
    assignment: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    resplit_threshold: float = 0.02,
) -> dict:
    """Invariant audit for a (possibly incrementally maintained)
    leakage-safe split -- the number an alerting rule watches after
    every increment:

    - ``straddling_pairs``: near-dup pairs whose two members sit in
      two DIFFERENT real splits.  MUST be 0 under the quarantine
      policy; any other value means eval leakage (a test doc with a
      paraphrase in train).
    - ``quarantined`` / ``quarantine_frac``: the running cost of the
      wall -- docs excluded from both sides because a merge would
      have flipped them.  Sticky by design, so the fraction only
      climbs within an epoch (measured curve in SCALE.md).
    - ``resplit_recommended``: True once ``quarantine_frac`` reaches
      ``resplit_threshold`` -- the alerting hook: schedule
      :func:`resplit_epoch` with a fresh salt, which drains
      quarantine to zero for the new training/eval cycle.

    Cost: two keyed joins of the pair list against the assignment +
    one aggregation over the assignment -- O(pairs + docs) work, O(1)
    driver state.  ``pairs`` should be the UNION of all delivered
    pair increments (or any superset, e.g. a fresh full-LSH run)."""
    a = assignment.select(
        F.col(id_col).alias("doc_a"), F.col("split").alias("__sa")
    )
    b = assignment.select(
        F.col(id_col).alias("doc_b"), F.col("split").alias("__sb")
    )
    straddling = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .filter(
            (F.col("__sa") != F.col("__sb"))
            & (F.col("__sa") != F.lit(QUARANTINE))
            & (F.col("__sb") != F.lit(QUARANTINE))
        )
        .count()
    )
    total, quarantined = assignment.agg(
        F.count(F.lit(1)),
        F.sum((F.col("split") == F.lit(QUARANTINE)).cast("long")),
    ).first()
    total = int(total or 0)
    quarantined = int(quarantined or 0)
    frac = (quarantined / total) if total else 0.0
    return {
        "straddling_pairs": straddling,
        "docs": total,
        "quarantined": quarantined,
        "quarantine_frac": frac,
        "resplit_recommended": frac >= resplit_threshold,
    }


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Gram explosion amplifies per-row compute ~10x (tokenize +
    n-gram window + array_distinct per doc), so a corpus that arrives
    in FEWER partitions than cores would tokenize nearly serially --
    the sf0.1 documents table is one parquet file = one scan partition,
    and the whole 8-gram pass ran on a single core (measured 2.4 s ->
    1.3 s warm at sf0.1 from this fix).  Round-robin to
    defaultParallelism ONLY in that degenerate case: at 100 TB the scan
    already yields >= cores partitions and no shuffle is added."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _word_grams(toks: Column, n: int) -> Column:
    """Distinct n-token shingles joined by '_'; empty array for docs
    shorter than n tokens (guards the descending-sequence crash,
    operators/dedup.py)."""
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws("_", F.slice(toks, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    salt: str = "",
) -> DataFrame:
    """Benchmark decontamination: for every *train*-split document,
    count distinct word ``n``-grams it shares with any *test*-split
    document.  Rows with ``n_shared > 0`` are contaminated and must be
    dropped before training.

    ``salt`` is the re-split EPOCH tag and must match the salt the
    owner passed to :func:`assign_split` / the leakage-safe split for
    the current epoch -- decontaminating against a split other than
    the one training actually uses checks the wrong wall.

    Scale shape: the benchmark gram set is tiny relative to the corpus
    (here the ~10% test split; in production, a fixed eval suite), so it
    is broadcast and the check is a map-side semi join -- one shuffle
    total (the per-doc count), no matter how large the train side is.
    """
    from .text import word_grams_arrow

    split = assign_split(_spread_small_input(docs), id_col=id_col, salt=salt)
    # Arrow-batched gram builder (r14): byte-identical to
    # _word_grams(tokens(...), n) (distinct=True matches its
    # array_distinct) and ~4x faster -- the interpreted HOF formulation
    # ran once per consumer branch (bench + train).  Per-doc dedup also
    # shrinks the exploded row count on repetitive docs; results are
    # unchanged either way (bench side is .distinct(), train side
    # count_distinct).  The split filters still push below the Python
    # eval (split is not a UDF output), so each branch only pays Arrow
    # for its own rows.
    grams = word_grams_arrow(F.col(text_col), n, distinct=True)
    exploded = split.select(
        F.col(id_col).alias("doc_id"), "split", F.explode(grams).alias("gram")
    )
    bench_grams = (
        exploded.filter(F.col("split") == "test").select("gram").distinct()
    )
    train = exploded.filter(F.col("split") == "train")
    shared = (
        train.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_shared"))
    )
    # unspread split for the id-only branch -- see bloom_decontaminate:
    # the spread exchange only pays for the gram branches
    train_ids = assign_split(docs, id_col=id_col, salt=salt).filter(
        F.col("split") == "train"
    ).select(F.col(id_col).alias("doc_id"))
    return train_ids.join(shared, "doc_id", "left").select(
        "doc_id", F.coalesce("n_shared", F.lit(0)).alias("n_shared")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination -- the constant-memory scale path.
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 20  # m: 1M bits = 32768 32-bit words (~128 KB)
BLOOM_K = 3  # probes per gram

# every probe reads a disjoint 5-nibble slice of one 32-nibble md5
# digest (see _bloom_pos); past K=6 the slices would run off the
# digest -- Spark would conv() truncated/empty slices while the DuckDB
# oracle's strpos arithmetic would go negative, a silent desync.
assert BLOOM_K * 5 <= 32, "BLOOM_K > 6 exceeds the md5 digest's 32 nibbles"


def _bloom_pos(gram: Column, probe: int) -> Column:
    """Deterministic bit position in [0, BLOOM_BITS) for ``gram`` under
    probe ``probe``: five hex nibbles of ``md5(gram)`` at offset
    ``5*probe``.  ONE digest serves all BLOOM_K probes (md5 has 32
    nibbles; 3x5 used) -- disjoint slices of a single digest are as
    independent as K salted hashes for Bloom purposes, and hashing is
    the dominant per-gram cost, so this cuts it K-fold vs the salted
    formulation (measured 3x fewer md5 evals at sf0.1).  md5-derived so
    the DuckDB oracle can rebuild the identical position with strpos
    nibble arithmetic (the same trick as ``hash_bucket``); codegen's
    common-subexpression elimination evaluates the shared digest once
    per gram."""
    h = F.md5(gram)
    return F.conv(F.substring(h, 1 + 5 * probe, 5), 16, 10).cast("long")


def bloom_build(grams: DataFrame, gram_col: str = "gram") -> DataFrame:
    """Fold a gram set into a Bloom bitmap TABLE ``(word_idx, word)``:
    BLOOM_K md5-derived positions per gram, OR-ed into 32-bit words (shift stays < 32, inside every SQL dialect's signed-shift range).

    The bitmap is <= BLOOM_BITS/32 rows (32768) REGARDLESS of how many
    grams went in -- that is the scale contract: ``decontaminate``
    broadcasts the exact benchmark gram set (fine for one eval suite),
    this variant stays ~128 KB even when the benchmark battery has
    hundreds of millions of grams, at the cost of a bounded false-flag
    rate (~0.2% at 5M grams, k=3).
    """
    probes = F.array(
        *[_bloom_pos(F.col(gram_col), i) for i in range(BLOOM_K)]
    )
    return (
        grams.select(F.explode(probes).alias("pos"))
        .select(
            (F.col("pos") / 32).cast("long").alias("word_idx"),
            # shiftleft's amount must be a column here, so spell it in SQL
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_decontaminate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    salt: str = "",
) -> DataFrame:
    """Benchmark decontamination via a Bloom filter over the test
    split's ``n``-grams: for every train document, count distinct grams
    the filter FLAGS (a superset of the exact shared count --
    ``n_flagged >= decontaminate().n_shared`` row-for-row, verified in
    tests/test_corpus.py).  Conservative by construction: a false
    positive drops a clean document, never keeps a contaminated one.

    Plan shape: bitmap build is one explode + groupBy over the (small)
    benchmark split, executed EXACTLY ONCE -- the folded bitmap
    (<= BLOOM_BITS/32 = 32768 words, ~256 KB dense, constant regardless
    of benchmark size: that IS the Bloom contract) is collected into a
    DENSE array carried on a single-row broadcast, the same
    bounded-driver-artifact pattern as the IVF quantizer sample.  All
    BLOOM_K membership probes are then pure codegen expressions against
    that one array (``element_at`` + bit test via a 32-entry
    power-of-two lookup) -- ONE broadcast build total, zero hash joins,
    zero row expansion; the gram stream stays map-side until the final
    per-doc count, the plan's only train-side exchange.  (Two rejected
    formulations, both measured at sf0.1: BLOOM_K broadcast-hash joins
    against the sparse bitmap table = 3 broadcast exchanges + build
    jobs, ~4x this plan's wall; and inlining the dense bitmap as an
    ``F.lit(list)`` literal = a 32768-child CreateArray expression
    tree that costs ~20 s of driver-side analysis per query.)
    """
    from .text import word_grams_arrow

    # same degenerate-partitioning guard as decontaminate(): the sf0.1
    # documents table is ONE parquet file = one scan partition, so the
    # probe pass (train-split grams + 3 md5 probes per gram, the
    # entry's only heavy map stage) ran on a single core.  No-op when
    # the scan already yields >= cores partitions.
    split = assign_split(_spread_small_input(docs), id_col=id_col, salt=salt)
    # Arrow-batched gram builder: byte-identical output to
    # _word_grams(tokens(...), n) but ~4x faster (HOFs are interpreted,
    # not codegen'd -- see text.word_grams_arrow)
    grams = word_grams_arrow(F.col(text_col), n, distinct=True)
    exploded = split.select(
        F.col(id_col).alias("doc_id"), "split", F.explode(grams).alias("gram")
    )
    built = bloom_build(
        exploded.filter(F.col("split") == "test").select("gram").distinct()
    )
    words = [0] * (BLOOM_BITS // 32)
    for r in built.collect():
        words[r["word_idx"]] = r["word"]
    train = exploded.filter(F.col("split") == "train")
    # a gram is flagged iff every probe finds its bit set: positions
    # are 20-bit (5 hex nibbles), so word_idx is always inside the
    # dense array and an unset word reads 0 -> bit test fails, the
    # miss case needs no special path.  The dense bitmap rides a
    # 1-row broadcast (NOT an F.lit literal: a 32768-child CreateArray
    # costs ~20 s of analyzer time per query) and is consumed inside
    # the same codegen stage as the filter, so it is never copied into
    # per-gram rows.
    bloom_row = one_partition_df(
        docs.sparkSession, [(words,)], "bloom array<bigint>"
    )
    pow2 = F.lit([1 << j for j in range(32)])
    hits = train.crossJoin(F.broadcast(bloom_row))
    for i in range(BLOOM_K):
        hits = hits.withColumn(f"pos{i}", _bloom_pos(F.col("gram"), i))
    flagged = None
    for i in range(BLOOM_K):
        pos = F.col(f"pos{i}")
        word = F.element_at(F.col("bloom"), (pos / 32).cast("int") + 1)
        bit = F.element_at(pow2, (pos % 32).cast("int") + 1)
        probe_hit = word.bitwiseAND(bit) != 0
        flagged = probe_hit if flagged is None else (flagged & probe_hit)
    hits = hits.filter(flagged)
    # (doc, gram) is unique entering the probes (array_distinct per
    # doc), so a plain count IS the distinct flagged-gram count -- no
    # dedup pass needed
    hits = hits.groupBy("doc_id").agg(F.count("*").alias("n_flagged"))
    # train_ids derives from an UNSPREAD split: the round-robin spread
    # only helps the gram/probe branch, and on this id-only branch it
    # was a wasted exchange immediately re-partitioned by the join
    # (plan showed RoundRobinPartitioning -> hashpartitioning back to
    # back).  assign_split is a deterministic function of the id, so
    # both derivations agree row-for-row regardless of partitioning.
    train_ids = assign_split(docs, id_col=id_col, salt=salt).filter(
        F.col("split") == "train"
    ).select(F.col(id_col).alias("doc_id"))
    return train_ids.join(hits, "doc_id", "left").select(
        "doc_id", F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged")
    )


# ---------------------------------------------------------------------------
# Boilerplate detection: grams repeated across many documents.
# ---------------------------------------------------------------------------

def boilerplate_ratio(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """Per-document boilerplate fraction: the share of a document's
    distinct ``n``-grams that recur in >= ``min_docs`` distinct
    documents (site templates, headers, license banners -- spans a
    pretraining pipeline strips or downweights).

    Plan shape: one explode, one gram-partitioned window count (grams
    are already distinct per doc, so count(*) over the gram partition
    IS the distinct-doc frequency), one per-doc agg -- two shuffles
    total, no corpus-sized join and nothing collected or broadcast.
    Hot grams (the boilerplate itself) are the skewed partitions; a
    window count only streams each partition once, so skew costs one
    straggler task at worst, and the alternative groupBy+join shape is
    available if a corpus's skew demands AQE splitting.
    """
    from .text import word_grams_arrow

    from pyspark.sql import Window

    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_grams_arrow(F.col(text_col), n, distinct=True)).alias(
            "gram"
        ),
    )
    # grams are distinct per doc (distinct=True above), so the
    # distinct-doc frequency is a plain count over the gram partition:
    # one shuffle instead of groupBy + shuffle-join-back
    freq = grams.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("gram"))
    )
    return (
        freq.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= min_docs, 1).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_grams"), 6).alias("boiler_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / quota filters for corpus curation.
# ---------------------------------------------------------------------------

def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer only when the
    stratum is smaller), chosen deterministically: rank by
    ``md5(cast(id as string))`` within the stratum and keep the first
    n.  Unlike ``df.sampleBy`` (approximate fractions, seed- and
    partitioning-dependent) the selection is a pure function of ids --
    reruns, backfills, and engine changes pick the identical sample.

    Plan shape: one window rank per stratum partition + a filter; the
    md5 order is uniform within any stratum, so this IS uniform random
    sampling with the hash as the fixed randomness source.  Hot
    strata stream through a single partition's window -- at extreme
    stratum skew switch to the two-level trick (pre-aggregate a random
    bucket, then rank) before this becomes the straggler.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def mixture_to_proportions(
    docs: DataFrame,
    proportions: dict[str, float],
    domain_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic DOWN-sample to a target domain mixture -- the
    "data mixing" step of LLM corpus assembly (train on X% web, Y%
    code, Z% books): keep the LARGEST corpus whose domain proportions
    match ``proportions`` exactly in expectation, without upsampling
    any domain.

    Mechanics: with per-domain counts ``n_d`` and normalized target
    weights ``p_d``, the achievable corpus size is
    ``N* = min_d(n_d / p_d)`` (the binding domain is kept whole);
    every other domain keeps rate ``N* p_d / n_d`` via a hash
    threshold on the doc id -- membership is a pure function of ids
    (reruns/backfills/engines agree), selection is uniform within a
    domain, and realized counts deviate from exact only by binomial
    noise O(sqrt n_d).  Domains absent from ``proportions`` are
    dropped; a REQUESTED domain with no rows forces N* = 0 (an exact
    mixture containing it is impossible -- fail loudly-empty rather
    than silently distort the mix).

    Returns (``id_col``, domain) for the kept docs.

    Plan shape: one bounded aggregate (O(#domains) rows collected to
    compute the rates), then a NARROW hash-threshold filter over one
    scan -- no shuffle touches the corpus, so this runs at any scale;
    compare ``stratified_sample`` (exact per-stratum counts, but a
    per-stratum window sort).
    """
    total = float(sum(proportions.values()))
    if total <= 0:
        raise ValueError("proportions must have positive total weight")
    p = {d: w / total for d, w in proportions.items() if w > 0}
    counts = {
        r["d"]: r["n"]
        for r in docs.filter(F.col(domain_col).isin(list(p)))
        .groupBy(F.col(domain_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if any(d not in counts for d in p):
        nstar = 0.0
    else:
        nstar = min(counts[d] / p[d] for d in p)
    rate = F.lit(0.0)
    for d in p:
        r_d = (nstar * p[d] / counts[d]) if counts.get(d) else 0.0
        rate = F.when(F.col(domain_col) == d, F.lit(r_d)).otherwise(rate)
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("double") / F.lit(float(16**6))
    return (
        docs.filter(F.col(domain_col).isin(list(p)))
        .filter(u < rate)
        .select(F.col(id_col), F.col(domain_col).alias("domain"))
    )


def quality_top_fraction(
    docs: DataFrame,
    fraction: float,
    stratum_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``fraction`` of documents per stratum by heuristic
    quality score (operators/text.py) -- the per-language quota filter
    that prevents a quality threshold tuned on English from emptying
    low-resource languages.

    percent_rank (deterministic doc_id tiebreak) rather than a global
    score cutoff: the kept fraction is exact per stratum regardless of
    score distribution drift between crawls.

    Plan shape: the stratum column rides quality_score's ``extra=``
    projection -- ONE scan, then the per-stratum rank window's single
    exchange (the old form joined the scored frame back to the corpus
    on the id: a second scan plus two join shuffles for a per-row
    computation).
    """
    from pyspark.sql import Window

    from .text import quality_score

    scored = quality_score(
        docs, text_col, id_col, extra={stratum_col: F.col(stratum_col)}
    )
    w = Window.partitionBy(stratum_col).orderBy(
        F.col("quality").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__pr", F.percent_rank().over(w))
        .filter(F.col("__pr") <= fraction)
        .select(id_col, stratum_col, "quality")
    )


def hashing_embed(
    docs: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing ("hashing trick") bag-of-words embedding: token
    t increments lane ``md5(t)[:4] % dim``; the output is an exact
    integer count vector per document -- the model-free way to put a
    text corpus into the engine's vector operators (similarity.py
    top-k / IVF, dedup.py embedding-LSH) without an external
    embedding model, and the classic Vowpal-Wabbit-style featurizer.

    Integer counts (not tf-idf floats) by design: the vector is a pure
    function of the document, so backfills/reruns are byte-stable and
    a SQL oracle reproduces it exactly.

    Plan shape: one explode + one per-doc aggregation (dim conditional
    sums, codegen) -- a single shuffle keyed on the document id; lane
    assignment is map-side md5.  At 100 TB this is the cheapest
    corpus-wide featurizer that exists: no vocabulary build, no second
    pass, no driver state.
    """
    from .text import tokens

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    bucket = F.conv(F.substring(F.md5(F.col("t")), 1, 4), 16, 10).cast("int") % dim
    return (
        toks.withColumn("b", bucket)
        .groupBy("doc_id")
        .agg(
            F.array(
                *[
                    F.sum(F.when(F.col("b") == i, 1).otherwise(0)).cast("long")
                    for i in range(dim)
                ]
            ).alias("embedding")
        )
    )


def sequence_pack_global(
    docs: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GLOBAL-ORDER token-budget sequence packing: assign documents
    (in corpus-wide ``id_col`` order) to training-sequence bins of
    ``budget`` tokens.  Complement of ``training.sequence_pack``, which
    packs within md5 shards (embarrassingly parallel, order scrambled
    across shards); this variant preserves one GLOBAL document order --
    what curriculum schedules and order-sensitive replay need -- while
    still never serializing the corpus through one task.

    Bin rule: a document belongs to ``floor(start_offset / budget)``
    where ``start_offset`` is the total token count of all preceding
    documents -- i.e. bins are cut by cumulative token position, a
    document starting inside bin k lands in bin k (deterministic,
    order-stable, and exactly SQL's ``floor((cum - n) / budget)`` over
    an ordered running sum).

    Returns (doc_id, n_tokens, bin_id).

    Scale shape: the naive formulation is a GLOBAL ordered window --
    one partition, one task, a non-starter at 100 TB.  Here it is the
    classic two-phase distributed prefix sum instead: range-partition
    by ``id_col`` (so partition i holds a contiguous id range), one
    per-partition running sum keyed on ``spark_partition_id()``, then
    add each partition's EXCLUSIVE prefix of the per-partition totals,
    broadcast back as a tiny map (bounded by the partition count, not
    the data).  Two narrow shuffles (range exchange + per-partition
    window), one O(#partitions) driver collect.

    Execution notes: CALLING this function runs an eager Spark job
    (the per-partition-totals collect) -- it is not a purely lazy
    DataFrame constructor.  The ranged/tokenized intermediate is
    checkpointed so phase 2 reuses phase 1's work (and so the
    partition ids the offsets were computed against are FROZEN --
    recomputing the range exchange could repartition differently and
    mis-map offsets).  With a checkpoint dir configured
    (``sc.setCheckpointDir``) this is a RELIABLE checkpoint and the
    returned DataFrame recomputes from it on executor loss; without
    one it falls back to ``localCheckpoint``, whose blocks live on
    executors -- later actions on the returned frame FAIL (not
    recompute) if those executors are lost.  Set a checkpoint dir in
    any long-lived or fault-exposed deployment."""
    from .text import tokens

    sized = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    # contiguous id ranges per partition: prefix-of-partitions is then
    # a correct global prefix
    ranged = sized.repartitionByRange("doc_id").withColumn(
        "__pid", F.spark_partition_id()
    )
    sc = docs.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        ranged = ranged.checkpoint(eager=False)
    else:
        ranged = ranged.localCheckpoint(eager=False)
    totals = {
        r["__pid"]: r["t"]
        for r in ranged.groupBy("__pid").agg(F.sum("n_tokens").alias("t")).collect()
    }
    prefix = {}
    acc = 0
    for pid in sorted(totals):
        prefix[pid] = acc
        acc += totals[pid]
    w = (
        Window.partitionBy("__pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.coalesce(
        *(
            [
                F.create_map(
                    *[
                        x
                        for pid, pre in prefix.items()
                        for x in (F.lit(pid), F.lit(pre))
                    ]
                )[F.col("__pid")]
            ]
            if prefix
            else []
        ),
        F.lit(0),
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens") + offset
    return ranged.select(
        "doc_id",
        "n_tokens",
        F.floor(start / F.lit(budget)).cast("long").alias("bin_id"),
    )
