"""Slowly-changing-dimension (Type 2) history from the change feed.

The latest-wins apply (``cdc_apply.py``) replicates the CURRENT state
of each table -- what the reference's connector maintains.  The other
thing warehouses build from the same envelope is row-level HISTORY:
every version of every key as an ``[valid_from, valid_to)`` interval
in commit (lsn) order, so facts can join the dimension AS OF the
fact's own position.  This module maintains that history with pure
set operations -- no per-key loops, no driver state:

- every non-delete change opens a version at its lsn;
- ANY change (including a delete) closes the key's previous open
  version at its lsn -- expressed as one ``lead(valid_from)`` window
  over the union of {touched open versions} x {batch changes};
- deletes open nothing, leaving a gap until the next insert.

Batching invariance is the correctness property (hypothesis-tested):
however the same change stream is split into micro-batches, the final
history is identical, because interval endpoints depend only on the
per-key lsn order -- the same argument that makes the latest-wins
apply idempotent.

Scale shape: per batch, one semi/anti join pair splits the open set
into touched/untouched (keyed on the PK, same partitioning as the
apply), one window over touched keys only, and the closed history
passes through untouched.  With the bucketed store the rewrite is
O(touched buckets), exactly like ``store.merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: marker op for existing open versions when they enter the closing
#: window alongside the batch's changes ('V' sorts after 'D'/'I'/'U'
#: but order within a key is by lsn; lsns are unique per key)
_VERSION_OP = "V"


def scd2_init(snapshot: DataFrame, snapshot_lsn: int) -> DataFrame:
    """Open one version per snapshot row at the snapshot's lsn."""
    return snapshot.select(
        "*",
        F.lit(snapshot_lsn).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )


def scd2_apply(
    history: DataFrame | None,
    changes: DataFrame,
    key: str,
    order_col: str = "lsn",
) -> DataFrame:
    """Fold one change batch (op, lsn, row columns) into the history.

    Returns the new history frame.  Assumes per-key lsn order equals
    commit order (the row-locking-source assumption the whole pipeline
    documents) and unique lsns per key.
    """
    payload_cols = [c for c in changes.columns if c not in ("op", order_col)]
    incoming = changes.select(
        "op", F.col(order_col).cast("long").alias("valid_from"), *payload_cols
    )
    if history is None:
        events = incoming
        closed_pass, open_rest = None, None
    else:
        touched = incoming.select(key).distinct()
        open_hist = history.filter(F.col("valid_to").isNull())
        open_touched = open_hist.join(touched, key, "left_semi").select(
            F.lit(_VERSION_OP).alias("op"), "valid_from", *payload_cols
        )
        open_rest = open_hist.join(touched, key, "left_anti")
        closed_pass = history.filter(F.col("valid_to").isNotNull())
        events = open_touched.unionByName(incoming)
    # Idempotence under foreachBatch's at-least-once replay: refolding
    # an already-applied change puts two rows with the same
    # (key, valid_from) into the window -- the existing open version
    # and its own replayed change -- which would mint a zero-width
    # [L, L) junk version.  Payloads are identical by construction
    # (lsns are unique per key), so keeping either row is correct.
    events = events.dropDuplicates([key, "valid_from"])
    w = Window.partitionBy(key).orderBy("valid_from")
    versions = (
        events.withColumn("valid_to", F.lead("valid_from").over(w))
        .filter(F.col("op") != "D")
        .drop("op")
        .select(*payload_cols, "valid_from", "valid_to")
    )
    out = versions
    if closed_pass is not None:
        # Replay idempotence, part 2: a replayed batch with >=2 changes
        # to the SAME key re-derives the intermediate CLOSED versions
        # inside the window (only the final open one is deduped by the
        # events-level dropDuplicates above), while closed_pass also
        # carries them -- emit only window versions not already closed.
        # Exact because valid_from = lsn is unique per key, so a
        # (key, valid_from) collision is always the same version.
        versions = versions.join(
            closed_pass.select(key, "valid_from"),
            [key, "valid_from"],
            "left_anti",
        )
        out = closed_pass.select(*payload_cols, "valid_from", "valid_to").unionByName(
            versions
        )
    if open_rest is not None:
        out = out.unionByName(
            open_rest.select(*payload_cols, "valid_from", "valid_to")
        )
    return out


def scd2_prune(history: DataFrame, keep_closed_after: int) -> DataFrame:
    """Retention for the history table: drop versions that CLOSED
    before ``keep_closed_after`` (open versions always survive).  The
    warehouse retention knob -- history grows with change volume, and
    regulatory windows are finite; one codegen filter, no shuffle.
    Note the as-of join loses matches for positions older than the
    horizon -- that is the point of retention, and exactly how
    time-travel retention behaves on the table store."""
    return history.filter(
        F.col("valid_to").isNull() | (F.col("valid_to") >= F.lit(keep_closed_after))
    )


class SCD2Tracker:
    """Managed per-table history: seeds ``<table>__history`` from the
    bootstrap snapshot and folds every applied batch's typed delta via
    the pipeline's ``on_batch_applied`` hook -- history maintenance as
    a product feature riding the existing apply, not a second feed.

    Usage::

        p = CDCPipeline(spark, store)
        tracker = SCD2Tracker(p, tables=["customers"])
        p.bootstrap(seed, snapshot_lsn=0); tracker.seed(seed, 0)
        ... apply batches ...
        tracker.history("customers")  # version intervals
    """

    def __init__(self, pipeline, tables: list[str]) -> None:
        from ..sources.cdc_schemas import PRIMARY_KEYS

        self.pipeline = pipeline
        self.tables = list(tables)
        self._keys = {t: PRIMARY_KEYS[t] for t in tables}
        pipeline.on_batch_applied(self._on_batch)

    @staticmethod
    def _hname(table: str) -> str:
        return f"{table}__history"

    def seed(self, snapshot: dict[str, DataFrame], snapshot_lsn: int) -> None:
        for t in self.tables:
            if t in snapshot:
                self.pipeline.store.overwrite(
                    self._hname(t),
                    scd2_init(snapshot[t], snapshot_lsn),
                    partition_key=self._keys[t],
                )

    def _on_batch(self, batch_id, deltas: dict[str, DataFrame]) -> None:
        """Fold one applied batch into each table's history.

        Scale contract: the history is the biggest table a CDC user
        owns, so per-batch I/O must be O(touched buckets), never
        O(history).  The history is PK-bucketed at ``seed`` time; here
        we read ONLY the buckets the delta's keys hash into, fold the
        touched keys' versions, and ``store.merge`` the folded set
        back keyed on the PK -- merge deletes every version of a
        touched key from its (rewritten-anyway) bucket and inserts the
        replacement; untouched bucket directories carry over verbatim.
        """
        store, spark = self.pipeline.store, self.pipeline.spark
        for t in self.tables:
            if t not in deltas:
                continue
            key, h = self._keys[t], self._hname(t)
            delta = deltas[t]
            if not store.exists(h):
                store.overwrite(
                    h, scd2_apply(None, delta, key), partition_key=key
                )
                continue
            if store.partition_spec(h) is None:
                # pre-r8 unpartitioned history: one last full rewrite,
                # re-seeding the bucketed layout so every later batch
                # takes the merge path
                store.overwrite(
                    h,
                    scd2_apply(store.read(spark, h), delta, key),
                    partition_key=key,
                )
                continue
            touched_keys = delta.select(key).distinct()
            hist = store.read_key_buckets(spark, h, touched_keys)
            if hist is None:
                continue
            hist_touched = hist.join(touched_keys, key, "left_semi")
            folded = scd2_apply(hist_touched, delta, key)
            store.merge(spark, h, upserts=folded, touched_keys=touched_keys)

    def history(self, table: str) -> DataFrame:
        return self.pipeline.store.read(self.pipeline.spark, self._hname(table))


def scd2_asof(
    facts: DataFrame,
    history: DataFrame,
    key: str,
    fact_order_col: str,
    how: str = "left",
) -> DataFrame:
    """Join each fact to the dimension version valid AT the fact's own
    position: ``valid_from <= fact_pos < valid_to`` (open versions
    unbounded above).  Facts during a deletion gap (or before the
    first version) get NULL dimension columns under the default left
    join.

    Plan: an equi-join on the key carrying the interval predicate as
    its join condition -- shuffles on the key like every other keyed
    op; per-key version counts bound the match fan-out (each fact
    matches at most one version)."""
    dim_cols = [c for c in history.columns if c not in ("valid_from", "valid_to")]
    h = history.select(
        *[F.col(c).alias(f"__dim_{c}") for c in dim_cols], "valid_from", "valid_to"
    )
    pos = F.col(fact_order_col).cast("long")
    cond = (
        (facts[key] == h[f"__dim_{key}"])
        & (F.col("valid_from") <= pos)
        & (F.col("valid_to").isNull() | (pos < F.col("valid_to")))
    )
    out = facts.join(h, cond, how)
    keep = [facts[c] for c in facts.columns] + [
        F.col(f"__dim_{c}").alias(f"dim_{c}") for c in dim_cols if c != key
    ]
    return out.select(*keep)
