"""Incremental leakage-safe split maintenance (VERDICT r11 item 6).

The risk being pinned: when a corpus grows by increments, a new dup
edge can MERGE two clusters already assigned to different splits --
silently re-introducing train/test leakage on increments.  The policy
under test (``corpus.leakage_safe_split_increment``):

1. no near-dup pair ever straddles two real splits, after ANY
   increment sequence;
2. an already-assigned doc never flips between real splits -- it can
   only move to 'quarantine' (sticky);
3. non-quarantined docs always agree with the full
   ``leakage_safe_split`` recompute over (all docs, all pairs);
4. increments that never merge across splits quarantine nothing, and
   the state then equals the full recompute exactly.
"""

from __future__ import annotations

import itertools
import random

import pytest

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.corpus import (
    QUARANTINE,
    assign_split,
    leakage_safe_split_increment,
    leakage_safe_split_state,
)

REAL = {"train", "val", "test"}


def _families(rng: random.Random, n_docs: int = 48):
    """Docs 0..n-1 partitioned into families of size 1..5; ground-truth
    near-dup pairs = all pairs within a family."""
    ids = list(range(n_docs))
    rng.shuffle(ids)
    fams, i = [], 0
    while i < len(ids):
        size = rng.randint(1, 5)
        fams.append(sorted(ids[i : i + size]))
        i += size
    fam_of = {d: tuple(f) for f in fams for d in f}
    pairs = [
        (a, b) for f in fams for a, b in itertools.combinations(f, 2)
    ]
    return fams, fam_of, pairs


def _batches(rng: random.Random, docs: list[int], n_batches: int):
    order = docs[:]
    rng.shuffle(order)
    cuts = sorted(rng.sample(range(1, len(order)), n_batches - 1))
    return [
        order[a:b]
        for a, b in zip([0] + cuts, cuts + [len(order)])
    ]


def _drive(spark, seed: int, n_batches: int = 4):
    """Run a randomized increment sequence; yield (state_dict, ingested,
    delivered_pairs) after every increment."""
    rng = random.Random(seed)
    fams, fam_of, all_pairs = _families(rng)
    batches = _batches(rng, list(fam_of), n_batches)

    ingested: set[int] = set(batches[0])
    delivered = [
        (a, b) for a, b in all_pairs if a in ingested and b in ingested
    ]
    state = leakage_safe_split_state(
        spark.createDataFrame([(d,) for d in sorted(ingested)], ["doc_id"]),
        spark.createDataFrame(
            delivered or [(None, None)], "doc_a long, doc_b long"
        ).filter("doc_a IS NOT NULL"),
    )
    yield {r["doc_id"]: (r["anchor"], r["split"]) for r in state.collect()}, set(
        ingested
    ), list(delivered)

    for batch in batches[1:]:
        new_pairs = [
            (a, b)
            for a, b in all_pairs
            if (a in batch or b in batch)
            and a in ingested | set(batch)
            and b in ingested | set(batch)
        ]
        state = leakage_safe_split_increment(
            state,
            spark.createDataFrame([(d,) for d in batch], ["doc_id"]),
            spark.createDataFrame(
                new_pairs or [(None, None)], "doc_a long, doc_b long"
            ).filter("doc_a IS NOT NULL"),
        )
        ingested |= set(batch)
        delivered += new_pairs
        yield {
            r["doc_id"]: (r["anchor"], r["split"]) for r in state.collect()
        }, set(ingested), list(delivered)


@pytest.mark.parametrize("seed", [11, 23, 47])
@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_invariants_under_randomized_increments(spark, seed):
    prev: dict[int, tuple[int, str]] = {}
    for got, ingested, delivered in _drive(spark, seed):
        assert set(got) == ingested, "state covers exactly the ingested docs"
        # 1. no delivered near-dup pair straddles two real splits
        for a, b in delivered:
            sa, sb = got[a][1], got[b][1]
            if sa in REAL and sb in REAL:
                assert sa == sb, f"pair ({a},{b}) straddles {sa}/{sb}"
        # 2. stability: real -> (same real | quarantine); sticky quarantine
        for d, (_, s_prev) in prev.items():
            s_now = got[d][1]
            if s_prev == QUARANTINE:
                assert s_now == QUARANTINE, f"{d} left quarantine"
            else:
                assert s_now in (s_prev, QUARANTINE), (
                    f"{d} flipped {s_prev} -> {s_now}"
                )
        prev = got

    # 3. final differential vs the full batch recompute
    all_docs = spark.createDataFrame(
        [(d,) for d in sorted(ingested)], ["doc_id"]
    )
    all_pairs_df = spark.createDataFrame(
        delivered or [(None, None)], "doc_a long, doc_b long"
    ).filter("doc_a IS NOT NULL")
    full = {
        r["doc_id"]: (r["anchor"], r["split"])
        for r in leakage_safe_split_state(all_docs, all_pairs_df).collect()
    }
    assert set(full) == set(got)
    for d, (anchor, split) in got.items():
        assert anchor == full[d][0], f"{d}: anchor diverged from recompute"
        if split != QUARANTINE:
            assert split == full[d][1], (
                f"{d}: non-quarantined split diverged from recompute"
            )


def test_family_batched_increments_quarantine_nothing(spark):
    """When every cluster arrives whole in one increment, no assigned
    doc ever flips -- the incremental state must equal the full
    recompute with zero quarantine."""
    rng = random.Random(5)
    fams, fam_of, all_pairs = _families(rng, n_docs=36)
    rng.shuffle(fams)
    third = max(1, len(fams) // 3)
    groups = [fams[:third], fams[third : 2 * third], fams[2 * third :]]

    state = None
    seen_pairs: list[tuple[int, int]] = []
    seen_docs: list[int] = []
    for g in groups:
        docs = sorted(d for f in g for d in f)
        pairs = [
            (a, b)
            for f in g
            for a, b in itertools.combinations(sorted(f), 2)
        ]
        docs_df = spark.createDataFrame([(d,) for d in docs], ["doc_id"])
        pairs_df = spark.createDataFrame(
            pairs or [(None, None)], "doc_a long, doc_b long"
        ).filter("doc_a IS NOT NULL")
        if state is None:
            state = leakage_safe_split_state(docs_df, pairs_df)
        else:
            state = leakage_safe_split_increment(state, docs_df, pairs_df)
        seen_docs += docs
        seen_pairs += pairs

    got = {r["doc_id"]: (r["anchor"], r["split"]) for r in state.collect()}
    assert all(s != QUARANTINE for _, s in got.values())
    full_df = leakage_safe_split_state(
        spark.createDataFrame([(d,) for d in sorted(seen_docs)], ["doc_id"]),
        spark.createDataFrame(seen_pairs, "doc_a long, doc_b long"),
    )
    full = {
        r["doc_id"]: (r["anchor"], r["split"]) for r in full_df.collect()
    }
    assert got == full


def test_singletons_match_assign_split(spark):
    docs = spark.createDataFrame([(d,) for d in range(20)], ["doc_id"])
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    state = leakage_safe_split_state(docs, empty)
    state = leakage_safe_split_increment(
        state,
        spark.createDataFrame([(d,) for d in range(20, 40)], ["doc_id"]),
        empty,
    )
    got = {r["doc_id"]: r["split"] for r in state.collect()}
    want = {
        r["doc_id"]: r["split"]
        for r in assign_split(
            spark.createDataFrame([(d,) for d in range(40)], ["doc_id"])
        ).collect()
    }
    assert got == want


def test_split_health_audit(spark):
    """The invariant auditor: 0 straddling pairs on a policy-compliant
    state (with quarantine counted), and a corrupted assignment (one
    doc hand-flipped across the wall) is detected."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.corpus import (
        split_health,
    )

    # drive one randomized sequence to a final state with quarantines
    for got, ingested, delivered in _drive(spark, seed=11):
        pass
    state = spark.createDataFrame(
        [(d, a, s) for d, (a, s) in got.items()], ["doc_id", "anchor", "split"]
    )
    pairs = spark.createDataFrame(delivered, "doc_a long, doc_b long")
    h = split_health(state, pairs)
    assert h["straddling_pairs"] == 0
    assert h["docs"] == len(got)
    assert h["quarantined"] == sum(
        1 for _, s in got.values() if s == QUARANTINE
    )

    # corrupt: move one non-quarantined member of a real pair to the
    # opposite real split -- the audit must catch it
    paired = [
        (a, b)
        for a, b in delivered
        if got[a][1] in REAL and got[b][1] in REAL
    ]
    if paired:
        victim = paired[0][0]
        flipped = {
            d: (a, ("test" if s == "train" else "train") if d == victim else s)
            for d, (a, s) in got.items()
        }
        bad = spark.createDataFrame(
            [(d, a, s) for d, (a, s) in flipped.items()],
            ["doc_id", "anchor", "split"],
        )
        assert split_health(bad, pairs)["straddling_pairs"] > 0


@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_quarantine_drains_on_epoch_resplit(spark):
    """The r13 drain policy end-to-end: a randomized increment soak
    accumulates sticky quarantine, ``split_health`` flips its
    ``resplit_recommended`` flag once the fraction crosses the
    threshold, and ``resplit_epoch`` (full recompute under a fresh
    salt) drains quarantine to ZERO while the cross-split-pair=0
    invariant holds in the new epoch."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.corpus import (
        resplit_epoch,
        split_health,
    )

    got, ingested, delivered = None, None, None
    for got, ingested, delivered in _drive(spark, seed=23, n_batches=6):
        pass
    state = spark.createDataFrame(
        [(d, a, s) for d, (a, s) in got.items()],
        ["doc_id", "anchor", "split"],
    )
    pairs = spark.createDataFrame(delivered, "doc_a long, doc_b long")
    n_quarantined = sum(1 for _, s in got.values() if s == QUARANTINE)
    assert n_quarantined > 0, "soak seed must actually accumulate quarantine"

    h = split_health(state, pairs, resplit_threshold=n_quarantined / len(got))
    assert h["quarantined"] == n_quarantined
    assert h["resplit_recommended"] is True
    # below the threshold the same state does NOT trigger
    lax = split_health(
        state, pairs, resplit_threshold=n_quarantined / len(got) + 0.5
    )
    assert lax["resplit_recommended"] is False

    docs = spark.createDataFrame([(d,) for d in sorted(ingested)], ["doc_id"])
    fresh = resplit_epoch(docs, pairs, salt="epoch-2")
    h2 = split_health(fresh, pairs)
    assert h2["quarantined"] == 0
    assert h2["quarantine_frac"] == 0.0
    assert h2["straddling_pairs"] == 0
    assert h2["resplit_recommended"] is False
    assert h2["docs"] == len(got)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        resplit_epoch(docs, pairs, salt="")


@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_increments_continue_under_new_epoch_after_drain(spark):
    """The full epoch lifecycle: soak -> drain (resplit_epoch) ->
    KEEP INCREMENTING under the new salt.  Post-drain increments must
    (a) classify by the new epoch's split (agree with a full salted
    recompute on non-quarantined docs), (b) keep the straddling
    invariant, and (c) re-accumulate quarantine only from NEW merges,
    never resurrect pre-drain exposure."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.corpus import (
        leakage_safe_split_increment,
        resplit_epoch,
        split_health,
    )

    salt = "epoch-2"
    got, ingested, delivered = None, None, None
    for got, ingested, delivered in _drive(spark, seed=23, n_batches=4):
        pass
    docs = spark.createDataFrame([(d,) for d in sorted(ingested)], ["doc_id"])
    pairs = spark.createDataFrame(delivered, "doc_a long, doc_b long")
    state = resplit_epoch(docs, pairs, salt=salt)

    # continue: new docs 10_000.. with fresh families, one of which
    # merges into an existing cluster (same-epoch merge -- quarantine
    # may legitimately re-accumulate from HERE, not from history)
    anchor_doc = min(ingested)
    new_docs = [(10_000 + i,) for i in range(8)]
    new_pairs = [
        (10_000, 10_001), (10_002, 10_003),
        (anchor_doc, 10_004),  # merge into an existing cluster
    ]
    state = leakage_safe_split_increment(
        state,
        spark.createDataFrame(new_docs, ["doc_id"]),
        spark.createDataFrame(new_pairs, "doc_a long, doc_b long"),
        salt=salt,
    )
    all_docs = spark.createDataFrame(
        [(d,) for d in sorted(ingested)] + new_docs, ["doc_id"]
    )
    all_pairs_rows = delivered + new_pairs
    all_pairs = spark.createDataFrame(all_pairs_rows, "doc_a long, doc_b long")

    h = split_health(state, all_pairs)
    assert h["straddling_pairs"] == 0
    got2 = {r["doc_id"]: (r["anchor"], r["split"]) for r in state.collect()}
    assert set(got2) == set(ingested) | {d for d, in new_docs}
    full = {
        r["doc_id"]: (r["anchor"], r["split"])
        for r in resplit_epoch(all_docs, all_pairs, salt=salt).collect()
    }
    for d, (anchor, split) in got2.items():
        assert anchor == full[d][0], f"{d}: anchor diverged under new epoch"
        if split != QUARANTINE:
            assert split == full[d][1], f"{d}: split diverged under new epoch"
    # pre-drain quarantine is NOT resurrected: any quarantine now present
    # can only come from the post-drain merge batch
    q_now = {d for d, (_, s) in got2.items() if s == QUARANTINE}
    # members of anchor_doc's cluster may flip-quarantine from the merge;
    # docs outside the merged cluster must not be quarantined at all
    merged_anchor = got2[anchor_doc][0]
    for d in q_now:
        assert got2[d][0] == merged_anchor, (
            f"{d} quarantined without being in the merged cluster"
        )


def test_chained_increments_have_cut_lineage(spark):
    """ADVICE r12: each increment's output plan must not compose over
    the whole increment history -- 12 chained increments would
    otherwise re-execute every past union + connectivity loop per
    action.  The returned state is lineage-cut (checkpointed), so its
    analyzed plan is a scan, not a 12-deep union tree."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    state = leakage_safe_split_state(
        spark.createDataFrame([(0,)], ["doc_id"]), empty
    )
    for k in range(1, 13):
        state = leakage_safe_split_increment(
            state,
            spark.createDataFrame([(k,)], ["doc_id"]),
            empty,
        )
    plan = state._jdf.queryExecution().analyzed().toString()
    assert "Union" not in plan, plan[:500]
    assert state.count() == 13


def test_resplit_epoch_salt(spark):
    """The quarantine-release remedy: a new epoch salt re-draws every
    assignment (fresh state has zero quarantine by construction), is
    deterministic per salt, keeps the leakage guarantee, and the
    default empty salt is byte-identical to the unsalted split."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.corpus import (
        leakage_safe_split_state,
    )

    rng = random.Random(9)
    fams, fam_of, all_pairs = _families(rng, n_docs=40)
    docs = spark.createDataFrame([(d,) for d in sorted(fam_of)], ["doc_id"])
    pairs = spark.createDataFrame(all_pairs, "doc_a long, doc_b long")

    base = {r["doc_id"]: r["split"] for r in leakage_safe_split_state(docs, pairs).collect()}
    e1 = {r["doc_id"]: r["split"] for r in leakage_safe_split_state(docs, pairs, salt="epoch-1").collect()}
    e1b = {r["doc_id"]: r["split"] for r in leakage_safe_split_state(docs, pairs, salt="epoch-1").collect()}
    unsalted = {r["doc_id"]: r["split"] for r in leakage_safe_split_state(docs, pairs, salt="").collect()}

    assert e1 == e1b                      # deterministic per salt
    assert unsalted == base               # empty salt is the identity
    assert e1 != base                     # the epoch actually re-draws
    assert all(s != QUARANTINE for s in e1.values())
    # leakage guarantee holds under any salt: clusters stay whole
    for a, b in all_pairs:
        assert e1[a] == e1[b], (a, b)
