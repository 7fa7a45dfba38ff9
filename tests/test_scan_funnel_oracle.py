"""The DuckDB oracle of ``pql_scan_funnel`` equals a Python automaton.

DuckDB 1.0's ``list_reduce`` inside the grouped query mis-folded a few
users' event lists, so the earlier twin read one funnel off on these
generated sf0.1 datasets (seed 4: 6176 where the automaton reads 6175).
No Spark session: the tables come from ``perfbench.datagen`` and the
oracle runs in DuckDB.
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from perfbench import datagen  # noqa: E402

_STEP = {"view": 0, "click": 1, "purchase": 2}


def _reference(events) -> tuple[float, int]:
    """(funnels, users with a funnel): per user, in (ts, event_id)
    order, an event advances iff its step index equals the position;
    a step-2 hit counts one funnel and resets the position to 0."""
    per_user = defaultdict(list)
    for r in events.to_pylist():
        if r["event_type"] in _STEP:
            per_user[r["user_id"]].append(
                (r["ts"], r["event_id"], _STEP[r["event_type"]])
            )
    total = users = 0
    for evs in per_user.values():
        pos = n = 0
        for _, _, s in sorted(evs):
            if s == pos:
                n, pos = (n + 1, 0) if pos == 2 else (n, pos + 1)
        total += n
        users += n > 0
    return float(total), users


@pytest.fixture(scope="module")
def oracle():
    return entrymod.oracle_sql()["pql_scan_funnel"]


@pytest.mark.parametrize("seed", [4, 6, 7, 8, 10])
def test_funnel_oracle_equals_python_automaton(oracle, seed):
    events = datagen.tables(0.1, seed)["events"]
    con = duckdb.connect()
    con.register("events", events)
    got = con.execute(oracle).fetchall()
    assert got == [_reference(events)]
