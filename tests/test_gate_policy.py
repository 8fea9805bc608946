"""Gate-rotation policy invariants (``__spark_entry__.gate_order``).

The correctness gate hashes only the first 50 ``queries()``
entries; the rotation must never be able to hide work from it.
Enforced here so a bad rotation fails CI instead of surfacing only
once the next record lands:

1. every tail entry earned a green gate row in one of the two most
   recent recorded rounds (sat out at most two rounds);
2. any entry absent from BOTH recent rounds' records (i.e. newly
   added), or red in the latest one, must be inside the gated window;
3. the window is exactly 50 when the catalog exceeds 50.

The policy is a pure function of the catalog names and the records,
so most tests feed it synthetic records; the repo-level tests read the
committed ``CORRECTNESS_r*.json`` through ``recorded_rounds()``.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

from __spark_entry__ import (
    GATE_WINDOW,
    gate_order,
    oracle_sql,
    queries,
    recorded_rounds,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog import (
    CATALOG,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _green(rnd: int, names) -> tuple[int, dict]:
    return rnd, {n: {"hash_match": True} for n in names}


def _last_green(records) -> dict[str, int]:
    out: dict[str, int] = {}
    for rnd, rec in records:
        for k, v in rec.items():
            if v.get("hash_match"):
                out[k] = rnd
    return out


def _assert_tail_policy(ordered: list[str], records) -> None:
    """Invariants 1-3 of the module docstring against the two most
    recent records."""
    recents = [rec for _rnd, rec in records[-2:]]
    recent_green = {
        k for d in recents for k, v in d.items() if v.get("hash_match")
    }
    recorded = {k for d in recents for k in d}
    # an entry whose MOST RECENT record is red just regressed: it must
    # stay in-window until it re-earns green, even if an older round
    # once recorded it green
    recent_red = {k for k, v in recents[-1].items() if not v.get("hash_match")}
    window = set(ordered[:GATE_WINDOW])
    tail = ordered[GATE_WINDOW:]

    stale = [k for k in tail if k not in recent_green or k in recent_red]
    assert stale == [], f"tail entries without a recent green gate row: {stale}"
    must_stay = [k for k in ordered if k not in recorded or k in recent_red]
    outside = [k for k in must_stay if k not in window]
    assert outside == [], f"unverified/red entries rotated out of the gate: {outside}"
    if len(ordered) > GATE_WINDOW:
        assert len(window) == GATE_WINDOW


def test_gate_tail_policy():
    """The order ``queries()`` returns in this repo obeys the policy."""
    records = recorded_rounds()
    assert records, "no CORRECTNESS_r*.json recorded yet"
    _assert_tail_policy(list(queries()), records)


def test_gate_order_tail_policy_on_synthetic_history():
    """Never-recorded and latest-red entries seat first (by name), then
    the stalest green; a red entry cannot rotate out on older credit."""
    names = [f"e{i:03d}" for i in range(120)]
    records = [
        _green(1, names[:100]),
        _green(2, names[:60]),
        (3, {**_green(3, names[60:100])[1], "e005": {"hash_match": False}}),
    ]
    ordered, overflow = gate_order(names, records)
    assert overflow == ()
    # hard-forced: 20 never recorded + e005 red in the latest record
    assert ordered[:21] == sorted(names[100:] + ["e005"])
    # then stalest green first: round-2 greens before round-3 greens
    assert ordered[21:80] == [n for n in names[:60] if n != "e005"]
    assert ordered[80:] == names[60:100]
    _assert_tail_policy(ordered, records)


def test_rotation_self_heals_when_next_record_lands():
    """Regression guard: a hand-rotated tail once went stale the
    instant the next CORRECTNESS record was committed.  The
    rotation must stay policy-compliant when synthetic next-round
    records (current window all green) land.

    The policy is a TWO-round sit-out maximum.  With a catalog of
    ceil(n/50) = 3 windows the steady state is a 3-round rotation
    cycle, so we drive THREE synthetic rounds (one full cycle) and
    assert the <=2-round sit-out bound after every one of them, from
    the committed history and from a synthetic steady-state one."""
    names = list(CATALOG)
    by_name = sorted(names)
    histories = {
        "repo": recorded_rounds(),
        "synthetic": [
            _green(1, names),
            _green(2, by_name[:GATE_WINDOW]),
            _green(3, by_name[GATE_WINDOW : 2 * GATE_WINDOW]),
        ],
    }
    for label, records in histories.items():
        assert records, label
        ordered, _ = gate_order(names, records)
        for step in (1, 2, 3):
            new_round = records[-1][0] + 1
            records = records + [_green(new_round, ordered[:GATE_WINDOW])]
            ordered, overflow = gate_order(names, records)
            assert overflow == (), (label, step, overflow)
            last_green = _last_green(records)
            for n in ordered[GATE_WINDOW:]:
                assert last_green.get(n, -1) >= new_round - 2, (label, step, n)
            for n in names:
                if n not in last_green:
                    assert n in ordered[:GATE_WINDOW], (label, step, n)
        # one full rotation cycle later, NO entry anywhere (window or
        # tail) is older than the two most recent records
        for n in names:
            assert last_green.get(n, -1) >= new_round - 2, (label, n)


def test_no_forced_overflow_in_this_repo():
    """>50 never-recorded/red/stale-at-limit entries would silently
    fall out of the gated window.  ``gate_order`` never raises on
    overflow (a checkout without the CORRECTNESS artifacts sees every
    entry as never recorded), so the overflow surfaces here instead --
    and in THIS repo, with the artifacts committed, it must be empty."""
    _, overflow = gate_order(list(CATALOG), recorded_rounds())
    assert overflow == (), (
        "forced gate entries (new/red/stale) exceed the "
        f"{GATE_WINDOW}-entry gated window: {overflow}"
    )


def test_rotation_records_overflow_without_raising():
    """With no CORRECTNESS records every entry is forced; the order
    stays canonical (sorted) and the overflow is returned, not
    raised."""
    names = list(CATALOG)
    ordered, overflow = gate_order(names, [], window=10)
    assert ordered == sorted(names)
    assert list(overflow) == sorted(names)[10:]


def test_gate_order_ignores_input_order():
    """The order depends only on the name set and the records."""
    names = list(CATALOG)
    records = recorded_rounds()
    shuffled = random.Random(7).sample(names, len(names))
    assert gate_order(shuffled, records) == gate_order(names, records)


def test_queries_and_oracle_sql_share_the_gate_order():
    q = list(queries())
    sql = oracle_sql()
    assert q == gate_order(list(CATALOG), recorded_rounds())[0]
    assert list(sql) == [n for n in q if n in sql]
    assert all(sql[n] == CATALOG[n][1] for n in sql)


def test_catalog_import_reads_no_records():
    """Importing the library reads no repo bookkeeping: no open() of a
    CORRECTNESS record and no glob at all (audit events, fresh
    interpreter so no earlier import has already run the module)."""
    code = (
        "import json, sys\n"
        "events = []\n"
        "def hook(ev, args):\n"
        "    if ev == 'glob.glob' or (ev == 'open' and 'CORRECTNESS_r' in str(args[0])):\n"
        "        events.append([ev, str(args[0])])\n"
        "sys.addaudithook(hook)\n"
        "import sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog\n"
        "print(json.dumps(events))\n"
    )
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == []


def test_catalog_keeps_registration_order():
    """``CATALOG`` is the base entries followed by each extension
    catalog in registration order; only ``queries()`` reorders."""
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans import (
        catalog as cat,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_cdc import (
        CDC_CATALOG,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_ext import (
        EXT_CATALOG,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_more import (
        MORE_CATALOG,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_pipeline import (
        PIPELINE_CATALOG,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_train import (
        TRAIN_CATALOG,
    )

    names = list(CATALOG)
    base = names[: len(cat._BASE_KEYS)]
    assert set(base) == cat._BASE_KEYS
    assert names[len(base) :] == [
        k
        for d in (EXT_CATALOG, MORE_CATALOG, PIPELINE_CATALOG, TRAIN_CATALOG, CDC_CATALOG)
        for k in d
    ]


def test_catalog_keys_pairwise_disjoint():
    """The five catalog source dicts must have pairwise-disjoint keys.

    ``_register_extensions`` merges them with ``dict.update``; a
    duplicate key silently shadows the earlier entry (the shadowed
    query never executes while its name stays green in the gate --
    this happened twice in round 9: ``sequence_pack`` and
    ``q12_priority_lines``).  Registration now raises ImportError on a
    collision; this pin re-checks the source dicts directly so the
    invariant survives refactors of the merge itself.
    """
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans import (
        catalog as cat,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_ext import (
        EXT_CATALOG,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_more import (
        MORE_CATALOG,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_pipeline import (
        PIPELINE_CATALOG,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog_train import (
        TRAIN_CATALOG,
    )

    dicts = {
        "ext": EXT_CATALOG,
        "more": MORE_CATALOG,
        "pipeline": PIPELINE_CATALOG,
        "train": TRAIN_CATALOG,
    }
    # base CATALOG already contains the merged keys; recover the base-only
    # keys by subtracting the extension dicts.
    ext_keys = set().union(*(d.keys() for d in dicts.values()))
    base_keys = set(cat.CATALOG) - ext_keys
    dicts["base"] = {k: None for k in base_keys}

    names = sorted(dicts)
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            overlap = set(dicts[a]) & set(dicts[b])
            assert not overlap, f"catalog key collision between {a} and {b}: {overlap}"

    # merged catalog size must equal the sum of the parts
    assert len(cat.CATALOG) == sum(len(d) for d in dicts.values())


def test_register_extensions_raises_on_collision(monkeypatch):
    """A duplicate key across source dicts must be a hard ImportError."""
    import pytest

    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans import (
        catalog as cat,
    )
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans import (
        catalog_train as train_mod,
    )

    victim = next(iter(cat.CATALOG))
    monkeypatch.setitem(train_mod.TRAIN_CATALOG, victim, train_mod.TRAIN_CATALOG[next(iter(train_mod.TRAIN_CATALOG))])
    with pytest.raises(ImportError, match="collision"):
        cat._register_extensions()
