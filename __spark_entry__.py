"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship Dynamic-Table-shaped join on
sf0.001; ``queries()``/``oracle_sql()`` expose the full operator
catalog (see
``sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog``).

The correctness gate hashes only the first ``GATE_WINDOW`` entries of
``queries()``.  Both functions therefore return the catalog
in :func:`gate_order`, computed from the ``CORRECTNESS_r*.json``
records committed next to this file; the library's ``CATALOG`` stays
in registration order and reads no files.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.catalog import (
    CATALOG,
)

GATE_WINDOW = 50

_REPO = os.path.dirname(os.path.abspath(__file__))


def gate_order(
    names: list[str],
    records: list[tuple[int, dict]],
    window: int = GATE_WINDOW,
) -> tuple[list[str], tuple[str, ...]]:
    """Order ``names`` so the first ``window`` entries, the ones the
    correctness gate hashes, are those that most need a gate row.

    ``records`` is ``[(round, {name: {"hash_match": bool, ...}})]`` in
    ascending round order.  Every entry must earn a green gate row at
    least every third round (two-round sit-out at most).  The order is:

    1. entries never recorded green, or red in the latest record, by
       name (there is no green row to rotate them out on);
    2. every other entry, stalest green first (then by name).  The
       prefix of these whose last green is two or more rounds old must
       seat now: the next record would put them past the sit-out limit.

    Returns ``(ordered, overflow)``; ``overflow`` lists the entries of
    both must-seat groups that fell outside the window.  Never raises:
    a checkout without records sees every entry as never recorded.
    The sort keys ignore the order of ``names``, so the result is a
    pure function of the name set and the records.
    """
    last_green: dict[str, int] = {}
    for rnd, rec in records:
        for name, row in rec.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last_green[name] = rnd
    latest_round, latest = records[-1] if records else (0, {})
    red = {
        name
        for name, row in latest.items()
        if isinstance(row, dict) and not row.get("hash_match")
    }
    hard = sorted(n for n in names if n not in last_green or n in red)
    hard_set = set(hard)
    rest = sorted(
        (n for n in names if n not in hard_set),
        key=lambda n: (last_green[n], n),
    )
    ordered = hard + rest
    overflow = tuple(
        n
        for n in ordered[window:]
        if n in hard_set or last_green[n] <= latest_round - 2
    )
    return ordered, overflow


def recorded_rounds() -> list[tuple[int, dict]]:
    """(round, record) for every committed CORRECTNESS_r*.json,
    ascending; unreadable files are skipped."""
    out: list[tuple[int, dict]] = []
    for p in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", os.path.basename(p))
        if not m:
            continue
        try:
            with open(p) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(rec, dict):
            out.append((int(m.group(1)), rec))
    out.sort(key=lambda t: t[0])
    return out


def _gated_names() -> list[str]:
    return gate_order(list(CATALOG), recorded_rounds())[0]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn, _ = CATALOG["purchase_summary"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in gate
    order."""
    return {name: CATALOG[name][0] for name in _gated_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query, in gate order; rows-only ops
    are omitted."""
    return {
        name: CATALOG[name][1]
        for name in _gated_names()
        if CATALOG[name][1] is not None
    }
