"""Deduplication family for large text corpora.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine -- the
standard near-dup toolkit for LLM training-data pipelines, each built
scale-first:

- exact + minhash are pure built-in expressions (codegen'd, no Python);
- the LSH band join is the only shuffle, keyed on (band_id, band_hash)
  so candidate generation is O(sum of bucket sizes squared), never the
  full cross join;
- simhash uses a vectorized pandas UDF (Arrow-batched numpy, no
  per-row Python);
- embedding near-dup offers brute-force (oracle/baseline) and
  LSH-bucketed (scale path) variants.

MinHash design note: each "permutation" is the lexicographic MIN of a
disjoint 5-nibble slice of ONE md5 over the token set (see
``_minhash_min_exprs`` -- one digest per token, k slices).  md5 is
identical across engines, and ``min(varchar)`` over fixed-width hex is
plain ASCII ordering == numeric order -- so the DuckDB oracle can
reproduce signatures byte-for-byte, which keeps this operator under the
strong hash-match gate instead of a weak rows-only check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import tokens


def dedup_exact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hash-groupBy exact dedup: one surviving (min-id) doc per distinct
    text, with the duplicate count."""
    h = F.md5(F.encode(F.col(text_col), "UTF-8"))
    return (
        docs.select(h.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


#: Cached signature frames from LSH calls, retired generationally: each
#: new dedup call unpersists the previous call's cache, so a long-lived
#: session holds at most one live signature cache (the current plan's).
_SIG_CACHES: list[DataFrame] = []


def release_caches() -> None:
    """Unpersist all signature caches created by LSH dedup calls.

    Call after the returned pair DataFrame has been materialized and is
    no longer needed (each new dedup call also retires prior caches
    automatically, so forgetting this leaks at most one signature
    table)."""
    while _SIG_CACHES:
        try:
            _SIG_CACHES.pop().unpersist()
        except Exception:
            pass  # session already stopped


def _token_set(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # per-doc array_distinct BEFORE the explode: dedup is narrow (one
    # row at a time), so the exploded (doc_id, token) table is already
    # unique and needs no cross-partition .distinct() -- that was a
    # full extra shuffle of the largest intermediate in the pipeline
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token"),
    )


#: Documented safe ceiling for the NARROW (5-nibble, 2^20-space) slice
#: scheme: per-doc distinct-token count n.  A band of 2 narrow slices
#: false-fires between unrelated docs at ~(n/2^20)^2 per pair -- at
#: n = 2^16 that is ~0.4% per band, the point where candidate volume
#: (not correctness: the exact-Jaccard verify still filters) starts
#: inflating LSH buckets on dense corpora.  Operators REFUSE to run
#: the narrow scheme past this bound (``wide='auto'`` picks the wide
#: scheme instead), so a whole-book corpus can't silently degrade.
NARROW_MAX_TOKENS = 1 << 16


def observed_max_tokens(tok: DataFrame, id_col: str = "doc_id") -> int:
    """Max distinct-token count over a (doc_id, token) set table --
    ONE count-only aggregation (map-side partial, |docs| shuffle rows).
    ``wide='auto'`` runs it to pick the slice scheme
    (``wide = observed_max_tokens(tok) > narrow_max_tokens``)."""
    row = tok.groupBy(id_col).count().agg(F.max("count")).first()
    return int(row[0] or 0)


def _minhash_min_exprs(num_hashes: int, wide: bool = False) -> list[Column]:
    """k per-doc minimum-hash aggregates from ONE md5 per token.

    Each of the k hash functions is a disjoint 5-nibble slice of the
    token's single md5 digest (the bloom-filter trick from
    ``corpus._bloom_pos``): slices of one digest are as independent as
    k salted hashes for MinHash purposes, and hashing is the dominant
    cost of the signature aggregate -- the hottest loop of the whole
    dedup pipeline at corpus scale -- so this cuts it k-fold (codegen
    CSE evaluates the shared digest once per token).  Lexicographic
    min over fixed-width hex equals numeric min, and the shuffled
    signature row shrinks from k x 32 to k x 5 chars.  The DuckDB
    oracles rebuild the identical slices with substr.

    Slice-width bound: a 5-nibble slice has a 2^20 value space, so two
    UNRELATED docs with ~n distinct tokens each agree on one slice's
    minimum with probability ~n/2^20 (the min of n uniform draws
    concentrates in a width-(2^20/n) band).  At web-doc token counts
    (n <= ~10^4) a band of 2 slices false-fires at ~(n/2^20)^2 <= 1e-4
    per pair per band -- negligible, and every candidate still passes
    the exact-Jaccard verify, so output stays correct regardless.  For
    corpora of very large documents (n ~ 10^5-10^6 distinct tokens,
    e.g. whole books) pass ``wide=True``: each hash becomes a 10-nibble
    slice (2^40 space) drawn from TWO salted digests -- twice the
    hashing cost, collision term back to ~n/2^40.
    """
    if wide:
        # 10 nibbles per hash from two salted digests (3 slices each).
        if num_hashes * 10 > 64:
            raise ValueError("num_hashes > 6 exceeds two md5 digests' 64 nibbles")
        d = [
            F.md5(F.encode(F.col("token"), "UTF-8")),
            F.md5(F.encode(F.concat(F.col("token"), F.lit("#w2")), "UTF-8")),
        ]
        # three whole 10-nibble slices per 32-nibble digest (nibbles
        # 31-32 of each digest go unused -- slices must not straddle)
        return [
            F.min(F.substring(d[i // 3], 1 + 10 * (i % 3), 10)).alias(f"h{i + 1}")
            for i in range(num_hashes)
        ]
    if num_hashes * 5 > 32:
        raise ValueError(
            "num_hashes > 6 exceeds the md5 digest's 32 nibbles"
        )
    h = F.md5(F.encode(F.col("token"), "UTF-8"))
    return [
        F.min(F.substring(h, 1 + 5 * i, 5)).alias(f"h{i + 1}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    tok: DataFrame, num_hashes: int = 6, wide: bool = False
) -> DataFrame:
    """k minimum hashes per doc (columns h1..hk), one md5 per token
    (see ``_minhash_min_exprs``; ``wide=True`` for very-large-document
    corpora -- 10-nibble slices from two salted digests)."""
    return tok.groupBy("doc_id").agg(*_minhash_min_exprs(num_hashes, wide))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 6,
    band_size: int = 2,
    threshold: float = 0.5,
    block_col: str | None = None,
    wide: bool | str = False,
    narrow_max_tokens: int | None = NARROW_MAX_TOKENS,
    pin: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs by MinHash banding + exact Jaccard verify.

    Pipeline: token sets -> k min-hashes -> k/band_size band keys ->
    self-join on band key (candidates) -> exact token-set Jaccard ->
    filter >= threshold.  Returns (doc_a, doc_b, jaccard) with
    doc_a < doc_b.

    ``block_col``: optional blocking key (e.g. source/shard/language)
    folded into the band hash, so only same-block pairs become
    candidates.  At corpus scale this is the standard lever that keeps
    LSH bucket sizes bounded when the similarity distribution is dense
    (every skewed bucket is split by block), and it turns the band
    self-join into a per-block shuffle.

    ``wide='auto'``/``narrow_max_tokens``: slice-scheme gating for
    very-large-document corpora -- see :func:`lsh_pairs_from_tokens`.
    """
    tok = _token_set(docs, text_col, id_col)
    blocks = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(block_col).alias("__block"))
        if block_col is not None
        else None
    )
    return lsh_pairs_from_tokens(
        tok, num_hashes, band_size, threshold, blocks, wide,
        narrow_max_tokens, pin,
    )


def lsh_pairs_from_tokens(
    tok: DataFrame,
    num_hashes: int = 6,
    band_size: int = 2,
    threshold: float = 0.5,
    blocks: DataFrame | None = None,
    wide: bool | str = False,
    narrow_max_tokens: int | None = NARROW_MAX_TOKENS,
    pin: bool | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over a prepared (doc_id, token) set
    table -- the shared engine behind word-set and shingle-set dedup.
    ``blocks``: optional (doc_id, __block) blocking-key table.

    One shuffle of the token table produces BOTH the minhash signature
    and the verification token-set/size per doc (fused aggregate);
    everything downstream works on the per-doc table (|docs| rows).

    Slice-scheme gating (``narrow_max_tokens``, default
    ``NARROW_MAX_TOKENS``): ``wide='auto'`` probes the observed max
    distinct-token count (one count-only pass over ``tok``) and picks
    the wide 2^40 slices when it crosses the bound; ``wide=False``
    still VERIFIES the bound -- a zero-extra-pass ``raise_error``
    guard folded into the first signature column (every doc's band
    keys evaluate it), so any doc past the bound fails the JOB loudly
    instead of silently running the narrow scheme on a whole-book
    corpus.  Pass ``narrow_max_tokens=None`` to disable the check.

    ``pin``: whether to pin the bands self-join and candidate distinct
    to ``spark.sql.shuffle.partitions`` reducers.  ``None`` decides
    from ``tok``'s partition count, which is job-free only when
    ``tok`` is narrow: on a ``tok`` with an exchange in its plan (a
    shuffled token table) the probe runs one AQE stage job, so pass
    ``pin`` explicitly there.
    """
    if wide == "auto":
        wide = (
            narrow_max_tokens is not None
            and observed_max_tokens(tok) > narrow_max_tokens
        )
    per_doc_aggs = _minhash_min_exprs(num_hashes, wide) + [
        F.collect_set("token").alias("toks"),
        F.count(F.lit(1)).alias("n"),
    ]
    # The signature aggregate feeds 4 branches of the final plan (bands
    # self-join sides + the two verify joins); caching it halves wall
    # time vs recomputing the token shuffle per branch (measured 2x at
    # sf0.1).  Lifecycle: generational -- retire the previous call's
    # cache now, register this one, and expose release_caches() for the
    # end of a session.
    release_caches()
    # NOTE (r15, measured): do NOT repartition ``tok`` by doc_id to
    # widen the final aggregate -- that replaces the partial-aggregate
    # shuffle (a few MB of compressed per-partition partials) with a
    # full shuffle of the RAW token/shingle rows, and on the shingle
    # corpus it cost 4x at the x10 probe (guide §2.3: shuffle fewer
    # bytes beats wider reducers here).  The exchanges that DO need
    # pinning are the bands self-join and the candidate distinct
    # below -- and only on corpora big enough for serialization to
    # hurt: on a 1-2 split toy input the two extra exchanges cost
    # ~1 s of pure overhead while the stage they widen finishes in
    # well under that (measured A/B at sf0.1), so the pins gate on
    # the input already being at least reducer-count wide (the same
    # partition-count proxy _spread_small_input uses, inverted; one
    # getNumPartitions per call -- job-free only on a narrow ``tok``,
    # see ``pin=None`` below).
    sig = tok.groupBy("doc_id").agg(*per_doc_aggs).cache()
    _SIG_CACHES.append(sig)
    n_red = int(tok.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # ``pin=None`` auto-detects via one ``tok.rdd.getNumPartitions()``.
    # On a narrow ``tok`` (scans, projections, filters) that is driver
    # analyzer work and runs no job; on a ``tok`` whose plan holds an
    # exchange, ``df.rdd`` under AQE materializes the shuffle stage
    # first -- one job on pyspark 4.1.2 -- so callers with shuffled
    # token tables pass ``pin`` explicitly.  Per-tick STREAMING callers
    # pass pin=False: their inputs are delta-sized by contract, and
    # even the analyzer cost does not belong on a tick path (VERDICT
    # r14 item 4's _spread_small_input note, same class).
    if pin is None:
        pin = tok.rdd.getNumPartitions() >= n_red
    if not wide and narrow_max_tokens is not None:
        # plan-level guard, zero extra pass/action: h1 feeds every
        # doc's band keys, so any doc past the bound fails the job at
        # execution time (the eager-action alternative would
        # materialize the whole fused aggregate at CONSTRUCTION time)
        sig = sig.withColumn(
            "h1",
            F.when(
                F.col("n") <= F.lit(narrow_max_tokens), F.col("h1")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("a document has "),
                        F.col("n").cast("string"),
                        F.lit(
                            " distinct tokens, past the narrow 5-nibble "
                            f"slice bound ({narrow_max_tokens}): pass "
                            "wide=True (2^40 slices) or wide='auto'"
                        ),
                    )
                )
            ),
        )
    if blocks is not None:
        sig = sig.join(blocks, "doc_id")
    block_col = None if blocks is None else "__block"

    n_bands = num_hashes // band_size
    band_exprs = []
    for b in range(n_bands):
        cols = [F.col(f"h{b * band_size + j + 1}") for j in range(band_size)]
        if block_col is not None:
            cols = [F.col("__block"), F.lit("|"), *cols]
        band_exprs.append(F.md5(F.encode(F.concat(*cols), "UTF-8")))
    # one pass over sig (explode of the k band keys), not a k-way union.
    # The explicit repartition pins the self-join's parallelism (r15):
    # the bands table is BYTES-small (k rows/doc of 32-char keys) but
    # the join it feeds amplifies output by the bucket-size factor --
    # at the x10 scaling probe AQE byte-coalesced the probe side to ONE
    # partition (3.4 MB) whose single task then streamed 8M candidate
    # rows + their partial-distinct aggregation, ~40 % of the entry's
    # wall serialized on one core.  Coalescing sizes by INPUT bytes and
    # cannot see join fan-out; partitioning both aliases by the join
    # key at the configured reducer count keeps the candidate explosion
    # parallel at any scale (and the two aliases reuse ONE exchange).
    bands = sig.select("doc_id", F.explode(F.array(*band_exprs)).alias("band"))
    if pin:
        bands = bands.repartition(n_red, "band")

    a, b = bands.alias("a"), bands.alias("b")
    # The candidate dedup's exchange is pinned for the same reason as
    # the bands one: candidate PAIRS compress to a few MB, but the
    # stage that reads them also runs the exact-Jaccard verify --
    # array_intersect over per-doc token sets arriving via broadcast/
    # cache, i.e. heavy compute carrying ZERO shuffle bytes for the
    # coalescer to see.  Measured at the x10 probe: byte-coalescing
    # folded it to ONE task burning 11.3 s of serial CPU on 4.3 MB.
    # repartition by exactly the distinct's grouping columns, so the
    # aggregate reuses the single pinned exchange.
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if pin:
        cand = cand.repartition(n_red, "doc_a", "doc_b")
    cand = cand.distinct()

    # Exact-verify via per-doc token-set arrays: one array_intersect per
    # candidate pair beats re-exploding tokens through two joins (the
    # doc-set table is |docs| rows -- broadcastable at any corpus size
    # where candidates fit; at larger scale it hash-joins on doc id).
    docsets = sig.select("doc_id", "toks", "n")
    jac = (
        cand.join(
            docsets.select(
                F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("n").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            docsets.select(
                F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("n").alias("n_b")
            ),
            "doc_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("toks_a", "toks_b")))
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias(
                "jaccard"
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """Word n-gram (shingle) Jaccard near-dup: exact pairwise Jaccard
    over n-gram sets, with MinHash banding pruning the pair space.

    Same LSH skeleton as ``minhash_lsh_pairs`` but the set elements are
    order-sensitive n-grams, so reordered documents stop matching.
    """
    from .text import word_grams_arrow

    # Arrow-batched gram builder (byte-identical to the HOF
    # transform/slice/concat_ws form, property-tested; docs shorter
    # than n tokens yield an empty set and drop out at the explode,
    # matching the oracle's range() semantics); distinct=True matches
    # the previous array_distinct per doc
    grams = word_grams_arrow(F.col(text_col), n, distinct=True)
    # distinct=True dedups grams per doc inside the Arrow batch, so the
    # exploded (doc_id, token) table is already unique -- no
    # cross-partition .distinct() (a full shuffle of the gram table)
    gram_docs = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("token")
    )
    # shingle sets feed the shared LSH engine directly -- no re-serialize/
    # re-tokenize round trip
    return lsh_pairs_from_tokens(gram_docs, threshold=threshold)


def edit_distance_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: int = 8,
    block_len: int = 24,
    max_block: int = 64,
) -> DataFrame:
    """Edit-distance near-dup tier: blocked candidate generation +
    banded Levenshtein verification.

    The record-linkage classic that the token-set tiers (MinHash /
    n-gram Jaccard / SimHash) cannot express: character-level edits
    (typos, small insertions) that leave most shingles intact but are
    best scored by true edit distance.  Two blocking passes generate
    candidates -- documents sharing their first ``block_len``
    characters, and documents sharing their last ``block_len``
    characters -- so an edit inside one key region is still caught by
    the other pass.  Blocks larger than ``max_block`` docs (degenerate
    keys: empty strings, boilerplate prefixes) are dropped whole, the
    same skew lever as ``lsh_pairs_from_tokens``'s band-bucket cap.

    Verification is Spark's 3-arg ``levenshtein(l, r, threshold)``:
    the DP is banded to the threshold diagonal, O(len * threshold) per
    pair instead of O(len^2), and returns -1 past the bound -- the
    standard trick that makes edit-distance verification affordable on
    long documents.  Cost model at scale: two keyed self-joins whose
    block sizes are bounded by ``max_block`` (never all-pairs), one
    window-count shuffle shared with the join partitioning, and a
    join-back for the two text payloads -- candidates carry only id
    pairs through the heavy exchange.

    Returns (doc_a, doc_b, edit_dist) with doc_a < doc_b.
    """
    t = F.col(text_col)
    did = F.col(id_col).cast("long").alias("doc_id")
    pre = docs.select(did, F.substring(t, 1, block_len).alias("__k"), F.lit("p").alias("__pass"))
    # right() (not negative-start substring) for the suffix key: both
    # engines return the whole string when it is shorter than the key,
    # while negative-start substring diverges on out-of-range starts
    suf = docs.select(
        did,
        F.expr(f"right({text_col}, {int(block_len)})").alias("__k"),
        F.lit("s").alias("__pass"),
    )
    keyed = pre.unionByName(suf)
    # degenerate-block guard: one window count on the same (__pass, __k)
    # partitioning the self-join below shuffles on (AQE reuses the
    # exchange); blocks past the cap are dropped whole
    wspec = Window.partitionBy("__pass", "__k")
    keyed = keyed.withColumn("__bn", F.count(F.lit(1)).over(wspec)).filter(
        F.col("__bn") <= max_block
    )
    a = keyed.select(F.col("__pass"), F.col("__k"), F.col("doc_id").alias("doc_a"))
    b = keyed.select(F.col("__pass"), F.col("__k"), F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["__pass", "__k"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = docs.select(F.col(id_col).cast("long").alias("doc_a"), t.alias("__ta"))
    db = docs.select(F.col(id_col).cast("long").alias("doc_b"), t.alias("__tb"))
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"), threshold)
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("edit_dist", dist.cast("long"))
        .filter(F.col("edit_dist") >= 0)
        .select("doc_a", "doc_b", "edit_dist")
    )


def embedding_cosine_pairs_bruteforce(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine >= threshold, exact O(n^2) -- the
    correctness baseline and the oracle for the LSH variant.

    Kernel: the full (normalized) matrix is broadcast to executors and
    each Arrow batch of rows computes one BLAS block-multiply against
    it, emitting only qualifying pairs -- the standard all-pairs
    similarity layout.  A 10M x 128-dim corpus broadcasts ~5 GB, which
    is the practical ceiling; beyond that, switch to
    ``embedding_cosine_pairs_lsh`` (bucketed, no broadcast) -- same
    output contract, tested against this baseline.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    rows = emb.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast((ids, M))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_M = bc.value
        for pdf in it:
            A = np.array([[float(x) for x in v] for v in pdf[vec_col]], dtype=np.float64)
            A = A / np.linalg.norm(A, axis=1, keepdims=True)
            S = A @ b_M.T  # (batch, n) cosine block
            out_a, out_b, out_c = [], [], []
            left_ids = pdf[id_col].to_numpy()
            for i in range(len(left_ids)):
                mask = (S[i] >= threshold) & (b_ids > left_ids[i])
                out_a.extend([left_ids[i]] * int(mask.sum()))
                out_b.extend(b_ids[mask])
                out_c.extend(S[i][mask])
            yield pd.DataFrame(
                {
                    "id_a": pd.array(out_a, dtype="int64"),
                    "id_b": pd.array(out_b, dtype="int64"),
                    "cosine": pd.array(out_c, dtype="float64"),
                }
            )

    schema = "id_a long, id_b long, cosine double"
    return emb.select(id_col, vec_col).mapInPandas(batches, schema)


def embedding_cosine_pairs_exact(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_blocks: int = 16,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, fully distributed: block-
    partitioned matrix product (no driver-side ``collect()`` anywhere).

    Vectors are hashed into ``n_blocks`` blocks; each of the
    B(B+1)/2 unordered block pairs becomes one ``applyInPandas`` group
    whose kernel runs a single BLAS block-multiply (the same numpy
    kernel as the single-node ``embedding_cosine_pairs_bruteforce``
    baseline, which remains the in-test oracle).  Replication cost is
    one copy of each vector per block pair it joins: O(n * B) shuffled
    rows -- pick B so a block pair (~2n/B vectors) fits an executor;
    compare work is the inherent O(n^2) of the exact semantics, spread
    evenly across the cluster.  Beyond broadcastable scales the LSH
    variant is the sub-quadratic path."""
    from collections.abc import Iterator  # noqa: F401  (doc parity with bruteforce)

    import numpy as np
    import pandas as pd

    B = n_blocks
    base = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(B)).alias("blk"),
    )
    # block b serves as the Left side of pairs (b, q), q >= b, and the
    # Right side of pairs (p, b), p <= b; key = p * B + q
    left = base.select(
        "id", "v", F.lit("L").alias("side"), "blk",
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("q"),
    ).select("id", "v", "side", (F.col("blk") * B + F.col("q")).alias("pair"))
    right = base.select(
        "id", "v", F.lit("R").alias("side"), "blk",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("p"),
    ).select("id", "v", "side", (F.col("p") * B + F.col("blk")).alias("pair"))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        lm = pdf["side"] == "L"
        lids = pdf.loc[lm, "id"].to_numpy()
        rids = pdf.loc[~lm, "id"].to_numpy()
        if not len(lids) or not len(rids):
            return pd.DataFrame({"id_a": pd.array([], dtype="int64"),
                                 "id_b": pd.array([], dtype="int64"),
                                 "cosine": pd.array([], dtype="float64")})
        A = np.array([list(v) for v in pdf.loc[lm, "v"]], dtype=np.float64)
        M = np.array([list(v) for v in pdf.loc[~lm, "v"]], dtype=np.float64)
        A = A / np.linalg.norm(A, axis=1, keepdims=True)
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = A @ M.T
        diagonal = int(pdf["pair"].iloc[0]) % (B + 1) == 0  # p == q
        mask = S >= threshold
        if diagonal:
            # both sides are the same block: keep the strict upper
            # triangle by id so each unordered pair is emitted once
            mask &= lids[:, None] < rids[None, :]
        li, ri = np.nonzero(mask)
        ia, ib = lids[li], rids[ri]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": S[li, ri]})

    return (
        left.unionByName(right)
        .groupBy("pair")
        .applyInPandas(kernel, "id_a long, id_b long, cosine double")
    )


def _lsh_plane_component(seed: int, p: int, j: int) -> float:
    """Hyperplane component in [-0.5, 0.5), derived from md5 so an SQL
    oracle can rebuild the identical plane matrix: the first 8 hex chars
    of md5("seed|p|j") as a uint32, scaled.  All steps (16^i products,
    the sum < 2^32, division by 2^32, the 0.5 shift) are exact in
    doubles, so Python and SQL produce bit-identical components."""
    import hashlib

    h = hashlib.md5(f"{seed}|{p}|{j}".encode()).hexdigest()[:8]
    return int(h, 16) / 4294967296.0 - 0.5


def embedding_cosine_pairs_lsh(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 4,
    num_bands: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Scale path: banded random-hyperplane LSH, exact cosine verify.

    ``num_bands`` hash tables of ``num_planes`` sign bits each: two
    vectors become candidates if ALL bits agree in ANY band (the
    AND-OR construction), so recall = 1-(1-p^b)^L where p = 1-theta/pi.
    Defaults (b=4, L=12) give ~0.99 recall at cosine 0.9 and ~0.87 even
    down at 0.4; candidates are verified with the exact cosine so there
    are never false positives.  The plane matrix is md5-derived
    (:func:`_lsh_plane_component`), which keeps this operator under the
    strong hash-match oracle gate -- the SQL oracle rebuilds the same
    buckets.

    Physical shape: one Arrow-batched pandas UDF computes all L*b sign
    bits per vector in a single BLAS multiply, an explode fans each
    vector to its L buckets (n*L small rows), and ONE shuffle groups by
    bucket; each bucket's pairwise cosines are then a local BLAS
    block-multiply inside ``applyInPandas``.  Work is Sum(bucket^2) --
    never all-pairs -- and no candidate pair ever crosses the wire
    (only the qualifying output rows do, deduped across bands by a
    ``distinct`` over the tiny result)."""
    from pyspark.sql.types import ArrayType, StringType

    first_row = emb.select(vec_col).first()
    if first_row is None or first_row[0] is None:
        # empty input: same contract as the exact variant -- an empty
        # pair set, not a TypeError from the dim probe
        return emb.sparkSession.createDataFrame([], "id_a long, id_b long, cosine double")
    dim = len(first_row[0])
    planes = np.array(
        [
            [_lsh_plane_component(seed, p, j) for j in range(1, dim + 1)]
            for p in range(1, num_planes * num_bands + 1)
        ]
    )
    b, bands = num_planes, num_bands

    @F.pandas_udf(ArrayType(StringType()))
    def band_keys(col: pd.Series) -> pd.Series:
        V = np.array([list(x) for x in col], dtype=np.float64)
        if not len(V):
            return pd.Series([], dtype=object)
        signs = (V @ planes.T) >= 0
        out = []
        for row in signs:
            bits = "".join("1" if x else "0" for x in row)
            out.append([f"{i + 1}|{bits[i * b:(i + 1) * b]}" for i in range(bands)])
        return pd.Series(out)

    buckets = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(band_keys(F.col(vec_col))).alias("bucket"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.array([], dtype="int64"),
                    "id_b": pd.array([], dtype="int64"),
                    "cosine": pd.array([], dtype="float64"),
                }
            )
        V = np.array([list(x) for x in pdf["v"]], dtype=np.float64)
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = V @ V.T
        mask = (S >= threshold) & (ids[:, None] < ids[None, :])
        li, ri = np.nonzero(mask)
        return pd.DataFrame({"id_a": ids[li], "id_b": ids[ri], "cosine": S[li, ri]})

    return (
        buckets.groupBy("bucket")
        .applyInPandas(kernel, "id_a long, id_b long, cosine double")
        # a pair found via several bands is emitted once per band; its
        # cosines can differ in the last ulp (BLAS blocking varies with
        # bucket size), so dedupe on the pair key, not the full row
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )


def semantic_dedup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse k-means
    quantizer, then prune near-duplicates WITHIN each cluster only --
    the trick that turns O(n^2) all-pairs semantic dedup into
    Sum(cell^2), with ``n_cells`` as the scale lever (the paper uses
    ~100k clusters for billions of docs; cross-cluster near-dups are
    the accepted recall loss).

    Returns one row per input vector: (``id_col``, cell, kept).  Keep
    rule (greedy keep-first, deterministic): a vector is dropped iff
    SOME lower-id vector in its cell has cosine >= ``threshold``
    against it -- the SQL-expressible form of "keep one representative
    per duplicate set" (for a chain a-b-c where only adjacent pairs
    match, b drops against a, and c drops only if it matches a lower
    id itself).

    Physical shape: the quantizer is a seeded k-means over a bounded
    (<=4096 row) driver-side sample, assignment is one Arrow-vectorized
    scan (`similarity.assign_cells`), and the verdicts come from ONE
    shuffle: groupBy(cell) -> applyInPandas kernel that normalizes the
    cell's vectors, runs a single BLAS multiply, and emits every row's
    verdict in place -- no pair materialization, no second join, no
    driver collect.  Per-task memory is O(max cell size * dim); size
    ``n_cells`` so cells fit an executor, exactly like the block lever
    of :func:`embedding_cosine_pairs_exact`.

    Norm caveat: the threshold is cosine (scale-invariant) but the
    CELLS are Euclidean -- if your embeddings vary in magnitude,
    L2-normalize them first or a scaled near-copy can land in a
    different cell and never be compared (SemDeDup clusters normalized
    embeddings for this reason; the streaming ingest's
    ``_embed_double`` does the same)."""
    import pandas as pd

    from .similarity import _kmeans_centroids, assign_cells

    if emb.select(vec_col).first() is None:
        # empty input: empty verdict set, not an IndexError from the
        # quantizer sample (same contract as the LSH variant)
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, cell int, kept boolean"
        )
    if centroids is None:
        centroids = _kmeans_centroids(emb, vec_col, n_cells, seed)
    assigned = assign_cells(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        centroids,
        "v",
        out_col="cell",
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        cell = pdf["cell"].to_numpy()
        n = len(ids)
        if n < 2:
            kept = np.ones(n, dtype=bool)
            return pd.DataFrame({"id": ids, "cell": cell, "kept": kept})
        order = np.argsort(ids)
        ids, cell = ids[order], cell[order]
        V = np.array([list(x) for x in pdf["v"].iloc[order]], dtype=np.float64)
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        # chunked multiply: a skew-heavy cell must not materialize the
        # full n x n similarity matrix -- memory stays O(chunk * n)
        # while compute remains the inherent Sum(cell^2).  Cells under
        # the chunk size take the single-multiply path unchanged.
        CHUNK = 4096
        dup_below = np.zeros(n, dtype=bool)
        cols = np.arange(n)[None, :]
        for s0 in range(0, n, CHUNK):
            e0 = min(s0 + CHUNK, n)
            Sb = V[s0:e0] @ V.T
            # dropped iff any strictly-lower-id row in the cell matches
            below = cols < np.arange(s0, e0)[:, None]
            dup_below[s0:e0] = ((Sb >= threshold) & below).any(axis=1)
        return pd.DataFrame({"id": ids, "cell": cell, "kept": ~dup_below})

    return (
        assigned.groupBy("cell")
        .applyInPandas(kernel, "id long, cell int, kept boolean")
        .withColumnRenamed("id", id_col)
    )


def cross_cell_hits(both: DataFrame, threshold: float) -> DataFrame:
    """Per-cell cross comparison over a pre-assigned union frame with
    columns (id, v, side, cell): for every side='T' row, whether any
    side='B' row in the same cell reaches ``cosine >= threshold``.
    ONE groupBy(cell) shuffle, verdicts emitted in-kernel.  The shared
    engine of :func:`semantic_decontaminate` and the streaming
    semantic-ingest probe (which brings its own stored-side cells)."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        tmask = (pdf["side"] == "T").to_numpy()
        tids = pdf.loc[tmask, "id"].to_numpy()
        if not len(tids):
            return pd.DataFrame(
                {"id": pd.array([], dtype="int64"),
                 "contaminated": pd.array([], dtype="bool")}
            )
        if not (~tmask).any():
            return pd.DataFrame(
                {"id": tids, "contaminated": np.zeros(len(tids), dtype=bool)}
            )
        T = np.array([list(x) for x in pdf.loc[tmask, "v"]], dtype=np.float64)
        B = np.array([list(x) for x in pdf.loc[~tmask, "v"]], dtype=np.float64)
        T = T / np.linalg.norm(T, axis=1, keepdims=True)
        B = B / np.linalg.norm(B, axis=1, keepdims=True)
        # chunked over the T side: memory O(chunk * |B-side|) even in a
        # skew-heavy cell (see semantic_dedup's kernel)
        CHUNK = 4096
        hit = np.zeros(len(tids), dtype=bool)
        for s0 in range(0, len(tids), CHUNK):
            e0 = min(s0 + CHUNK, len(tids))
            hit[s0:e0] = ((T[s0:e0] @ B.T) >= threshold).any(axis=1)
        return pd.DataFrame({"id": tids, "contaminated": hit})

    return both.groupBy("cell").applyInPandas(
        kernel, "id long, contaminated boolean"
    )


def semantic_decontaminate(
    train: DataFrame,
    test: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_cells: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training vectors
    semantically too close to ANY test/benchmark vector -- the third
    tier of the decontamination family (exact 8-gram overlap
    ``corpus.decontaminate``, constant-memory ``bloom_decontaminate``,
    and this one for paraphrase-level contamination n-grams miss).

    Same cluster-then-compare skeleton as :func:`semantic_dedup`: the
    coarse quantizer is a seeded k-means over a bounded sample of the
    TEST side (cells center on the benchmark; the test set is the small
    side), both sides are assigned cells in one Arrow-vectorized scan
    each, and ONE groupBy(cell) shuffle cross-compares each cell's
    train rows against its test rows in a single BLAS multiply.
    A train/test near-pair split across cells is the accepted recall
    loss, exactly as in SemDeDup; raise ``n_cells`` resolution only as
    the data grows.

    Returns one row per TRAIN vector: (``id_col``, contaminated)."""
    from .similarity import _kmeans_centroids, assign_cells

    if test.select(vec_col).first() is None:
        # no benchmark rows: nothing can be contaminated
        return train.select(
            F.col(id_col), F.lit(False).alias("contaminated")
        )
    if centroids is None:
        centroids = _kmeans_centroids(test, vec_col, n_cells, seed)

    def side(df: DataFrame, tag: str) -> DataFrame:
        return assign_cells(
            df.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                F.lit(tag).alias("side"),
            ),
            centroids,
            "v",
            out_col="cell",
        )

    both = side(train, "T").unionByName(side(test, "B"))
    return cross_cell_hits(both, threshold).withColumnRenamed("id", id_col)


def _cut_lineage(df: DataFrame, policy: str) -> DataFrame:
    """Cut plan lineage between loop iterations (an iterative-join loop
    otherwise compounds the logical plan exponentially).

    - ``policy="local"``: ``localCheckpoint`` -- blocks pinned to
      executor storage.  Fast (no DFS round-trip) but NOT fault
      tolerant: losing an executor loses the pinned blocks and the
      job cannot recompute them (lineage was truncated).  Right for
      ``local[*]`` and tests, wrong for a 1000-executor cluster.
    - ``policy="reliable"``: ``checkpoint`` -- materializes to the
      SparkContext checkpoint directory (HDFS/S3), surviving executor
      loss.  The 100 TB default; callers must first do
      ``spark.sparkContext.setCheckpointDir("hdfs://...")``.
    """
    if policy == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "checkpoint='reliable' requires "
                "spark.sparkContext.setCheckpointDir(...) to point at "
                "fault-tolerant storage (HDFS/S3)"
            )
        return df.checkpoint(eager=False)
    if policy == "local":
        return df.localCheckpoint(eager=False)
    raise ValueError(f"unknown checkpoint policy {policy!r}")


def _edge_stats(df: DataFrame) -> tuple[int, int]:
    """(row count, order-independent content checksum) of a canonical
    (u, v) edge set, in ONE tiny job -- the loop's cheap convergence
    pre-check.  The checksum is a sum of per-row hashes mod 1e9+7
    (commutative, overflow-safe for any realistic round size), so two
    DISTINCT edge sets with equal count and checksum are possible only
    by hash collision -- which the caller's exact ``exceptAll`` verify
    catches before declaring convergence.  Running stats as the
    round's only action also materializes the round's lazy
    checkpoint."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))).alias("s"),
    ).first()
    return row["n"], row["s"]


def connected_components(
    pairs: DataFrame,
    col_a: str = "doc_a",
    col_b: str = "doc_b",
    max_iter: int = 25,
    method: str = "star",
    checkpoint: str = "local",
) -> DataFrame:
    """Connected components over a dup-pair edge list: label every node
    with the minimum id reachable from it, so each near-dup cluster gets
    one canonical component id (keep ``component``, drop the rest -- the
    cluster-level completion of the pairwise dedup operators).

    Two interchangeable engines (identical labels, property-tested
    against each other and a union-find model):

    - ``method="star"`` (default): the small-star/large-star
      alternation of Kiveris et al., "Connected Components in MapReduce
      and Beyond" (SoCC'14).  Each round is two groupBy-min passes that
      re-wire every node toward its neighborhood minimum; converges in
      O(log n) rounds on ANY graph shape -- the right choice at 100 TB,
      where an adversarially deep dup-chain would cost a plain
      propagation O(diameter) shuffles.
    - ``method="propagation"``: per-round min-label exchange with
      neighbors; O(diameter) rounds.  Kept for shallow star-shaped
      dup clusters (one groupBy per round instead of two) and as the
      differential-testing partner for the star variant.

    Both cut plan lineage per round via ``checkpoint`` policy
    (``"local"`` = localCheckpoint for single-node runs, ``"reliable"``
    = storage-backed checkpoint for clusters -- see ``_cut_lineage``)
    and raise if ``max_iter`` rounds don't converge rather than
    returning wrong labels.
    """
    if method == "star":
        return _cc_star(pairs, col_a, col_b, max_iter, checkpoint)
    if method != "propagation":
        raise ValueError(f"unknown connected-components method {method!r}")
    e = pairs.select(F.col(col_a).alias("src"), F.col(col_b).alias("dst"))
    edges = _cut_lineage(
        e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        checkpoint,
    )
    labels = _cut_lineage(
        edges.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v")),
        checkpoint,
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["v"])
            .groupBy(F.col("dst").alias("nv"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = _cut_lineage(
            labels.join(nbr_min, labels["v"] == nbr_min["nv"], "left")
            .select(
                labels["v"],
                F.least(
                    labels["label"], F.coalesce(F.col("nbr_min"), labels["label"])
                ).alias("label"),
            ),
            checkpoint,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.v") == F.col("o.v"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _cc_star(
    pairs: DataFrame, col_a: str, col_b: str, max_iter: int,
    checkpoint: str = "local",
) -> DataFrame:
    """Small-star/large-star alternation (Kiveris et al., SoCC'14).

    Invariant: the evolving edge set links every node to progressively
    smaller ids in its component; at the fixpoint the edges form stars
    whose hub is the component minimum.

    - large-star: per node u, hook every LARGER neighbor to
      ``m = min(neighbors(u) + [u])``;
    - small-star: orient edges high->low, then per node u hook u and
      all its (smaller) neighbors to that same minimum.

    Each half-round is one shuffle (groupBy u) plus one join; rounds are
    O(log n), so the whole operator is O(log n) shuffles independent of
    graph diameter.  Edge multiplicity is re-``distinct``-ed per round
    and lineage cut per the ``checkpoint`` policy (see ``_cut_lineage``).

    Job discipline (VERDICT r9 drift profiling): each round runs ONE
    action -- a count+checksum aggregate over the round's lazily
    checkpointed edge set (which also materializes the checkpoint).
    Convergence is pre-checked on (count, checksum) equality with the
    previous round and then confirmed EXACTLY with ``exceptAll``
    (guarding the ~2^-30 per-round checksum-collision case), so the
    exact set comparison -- a shuffle of both edge sets -- runs once
    at the fixpoint instead of every round.  The previous form ran
    three actions per round (eager checkpoint, count, exceptAll); at
    small scale the loop was pure fixed job overhead, and at 100 TB
    the per-round exceptAll was a redundant full shuffle.
    """
    # Checkpoint the raw pair list ONCE: nodes and edges both derive
    # from it, and without the cut each would re-execute the (usually
    # expensive) upstream pair-generation plan -- nodes' at the FINAL
    # label join, i.e. after the loop, where recomputing the LSH
    # verify joins costs more than the whole loop.  The pair list
    # itself is tiny (it is the dedup candidate output), so deriving
    # nodes/edges from its checkpointed blocks is trivial.
    e0 = _cut_lineage(
        pairs.select(F.col(col_a).alias("a"), F.col(col_b).alias("b")),
        checkpoint,
    )
    # node universe BEFORE dropping self-loops: a node appearing only as
    # (x, x) is a legitimate singleton component, not a missing row.
    nodes = (
        e0.select(F.col("a").alias("v"))
        .union(e0.select(F.col("b").alias("v")))
        .distinct()
    )
    e = e0.filter(F.col("a") != F.col("b"))
    # canonical high -> low orientation
    edges = _cut_lineage(
        e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct(),
        checkpoint,
    )
    e_n, e_s = _edge_stats(edges)
    if e_n == 0:
        return nodes.select(
            F.col("v").alias("doc_id"), F.col("v").alias("component")
        )
    for _ in range(max_iter):
        # -- large-star ---------------------------------------------------
        both = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star ---------------------------------------------------
        mins2 = large.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        hooked = large.join(mins2, "u")
        small = _cut_lineage(
            hooked.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(hooked.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            checkpoint,
        )
        s_n, s_s = _edge_stats(small)
        converged = (
            (s_n, s_s) == (e_n, e_s) and small.exceptAll(edges).isEmpty()
        )
        edges, e_n, e_s = small, s_n, s_s
        if converged:
            return (
                nodes.join(edges, nodes["v"] == edges["u"], "left")
                .select(
                    nodes["v"].alias("doc_id"),
                    F.coalesce(edges["v"], nodes["v"]).alias("component"),
                )
            )
    raise RuntimeError(
        f"connected_components(star) did not converge in {max_iter} rounds"
    )


def repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Maximal repeated token spans: every position whose ``n``-gram
    occurs >= ``min_count`` times ANYWHERE in the corpus (cross-doc or
    within-doc), with overlapping/adjacent flagged positions merged
    into maximal per-document spans -- the span-level (substring)
    deduplication primitive of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL'22), which removes
    repeated spans rather than whole near-dup documents.

    Returns (doc_id, span_id, start_pos, end_pos, n_grams): token
    positions 0-based, ``end_pos`` exclusive, span_id 1-based per doc
    in position order.

    Plan shape: positional explode (non-distinct -- within-doc repeats
    count; grams built by the Arrow-batched ``text.word_grams_arrow``
    because HOF gram-building is interpreted, ~4x slower), one
    gram-partitioned window count, one per-doc gaps-and-islands window
    (merge when the next flagged position starts within n tokens), one
    span aggregation that reuses the second window's doc_id hash
    partitioning -- two shuffles total, both keyed.  The gram window
    partitions by ``(xxhash64(gram), gram)``: same exact per-gram
    count (the gram itself stays in the key, hash collisions cannot
    merge counts), but the partition sort compares 8-byte longs first
    and touches the strings only on hash ties -- measured ~30% off
    the whole operator's wall at sf0.1 vs sorting by the raw string.
    The heavy gram exchange is the same shape the suffix-array
    approach shards by prefix, here left to hash partitioning.  No
    broadcast, no collect.
    """
    from .text import word_grams_arrow
    from pyspark.sql import Window

    pos_grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_grams_arrow(F.col(text_col), n)).alias("pos", "gram"),
    )
    flagged = (
        pos_grams.withColumn("gh", F.xxhash64("gram"))
        .withColumn("n_occ", F.count("*").over(Window.partitionBy("gh", "gram")))
        .filter(F.col("n_occ") >= min_count)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(wd)
    island = F.sum(
        F.when(F.col("pos") - prev <= n, 0).otherwise(1)
    ).over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        flagged.withColumn("span_id", island)
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            (F.max("pos") + n).cast("long").alias("end_pos"),
            F.count("*").alias("n_grams"),
        )
        .select(
            "doc_id",
            F.col("span_id").cast("long").alias("span_id"),
            "start_pos",
            "end_pos",
            F.col("n_grams").cast("long").alias("n_grams"),
        )
    )
