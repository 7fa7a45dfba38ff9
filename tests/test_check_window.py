"""Invariants of the driver-correctness check window (`_CHECK_FIRST`).

The round driver hash-checks exactly the FIRST 50 ``queries()``
entries, so the window is load-bearing evidence infrastructure: a
typo'd name silently drops a gate from the round's correctness record,
and a mis-sized list shifts which gates get checked.  No Spark session
needed."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402


def test_window_is_exactly_the_first_fifty_queries():
    q = entrymod.queries()
    assert len(entrymod._CHECK_FIRST) == 50
    assert len(set(entrymod._CHECK_FIRST)) == 50
    assert list(q)[:50] == entrymod._CHECK_FIRST


def test_every_window_gate_has_an_oracle_or_documented_exception():
    # a windowed gate without an oracle burns a slot on a weaker
    # rows-only check; every r15 window entry carries a full oracle
    oracles = entrymod.oracle_sql()
    missing = [g for g in entrymod._CHECK_FIRST if g not in oracles]
    assert missing == [], missing


def test_gates_without_driver_evidence_sit_inside_the_window():
    # the op_gif_dups lesson (r14): a gate registered OUTSIDE the
    # frozen window spends a round evidence-pending.  So every gate
    # with no hash-green driver row yet (per the CORRECTNESS_r*.json
    # records) must sit in the window, where its first row lands on
    # the next driver run.
    from tools.evidence_freshness import collect

    green = collect()["latest_green_by_gate"]
    window = set(entrymod._CHECK_FIRST)
    outside = [
        g for g in entrymod.queries() if g not in green and g not in window
    ]
    assert outside == [], outside
