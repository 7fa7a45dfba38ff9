"""Replay tests for the bench stdout digest (VERDICT r15 item 1).

BENCH_r15.json's long prose ``headline_comparable_reason`` silently
evicted 5 per-query watch rows from the 1900-char stdout digest, which
cost the round-over-round diff on those queries.  Reasons are now
short codes, written once by ``evaluate_record``.  These tests replay
a worst-case record — every reason code, retry metadata, all 191
gates — and assert every watch row survives.  Synthetic/committed
records only; no Spark session.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import (  # noqa: E402
    build_digest,
    build_record,
    evaluate_record,
    load_batch_floors,
    select_watch_rows,
)


def _committed_full_record() -> dict:
    path = Path(__file__).resolve().parent.parent / "BENCH_FULL.json"
    return json.loads(path.read_text())


def _worst_case_record() -> dict:
    """The committed sweep's gates, run 1.6× slower on a host whose
    launch load read 14.04 (BENCH_r15.json's): both reason codes at
    once, plus a discarded retry attempt."""
    times = {
        q: round(t * 1.6, 3)
        for q, t in _committed_full_record()["queries"].items()
    }
    rec = build_record(times, times, 0.1, (14.044921875, 7.54, 4.94))
    rec["bench_attempt"] = 2
    rec["bench_attempts"] = 2
    rec["discarded_attempts"] = [
        {
            "attempt": 1,
            "batch_floor_ratio_median": 1.734,
            "reason": "load1m=14.04;floor=1.734/191",
        }
    ]
    return rec


def test_worst_case_record_keeps_every_watch_row():
    rec = _worst_case_record()
    assert not rec["headline_comparable"]
    digest_q, env_keys = select_watch_rows(rec["queries"])
    n_watch = len(digest_q)
    assert n_watch >= 18, "watch list unexpectedly shrank"
    line = build_digest(rec, digest_q, env_keys)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert len(parsed["queries"]) == n_watch
    # the rows the r15 driver lost must all be present
    for q in (
        "op_dedup_clusters",
        "op_embedding_dups",
        "op_lsh_topk_bare",
        "op_semantic_dedup",
        "op_semantic_dedup_bare",
    ):
        assert q in parsed["queries"], q
    # headline fields the driver parses survive any eviction
    for k in ("metric", "value", "unit", "sf", "headline_comparable"):
        assert k in parsed, k


def test_env_watch_rows_survive_worst_case(monkeypatch):
    rec = _worst_case_record()
    extra = sorted(rec["queries"])[:5]
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WATCH", ",".join(extra))
    digest_q, env_keys = select_watch_rows(rec["queries"])
    line = build_digest(rec, digest_q, env_keys)
    parsed = json.loads(line)
    assert len(line) <= 1900
    for q in extra:
        assert q in parsed["queries"], q


def test_reason_is_compact_codes_not_prose():
    rec = _worst_case_record()
    digest_q, env_keys = select_watch_rows(rec["queries"])
    parsed = json.loads(build_digest(rec, digest_q, env_keys))
    # the digest carries the record's own codes, not a second text
    assert parsed["headline_comparable_reason"] == (
        rec["headline_comparable_reason"]
    )
    assert rec["headline_comparable_reason"] == (
        "load1m=14.04;floor=1.667/191"
    )


def test_compact_reasons_codes():
    floors = load_batch_floors(0.1)

    def reason(times, sf=0.1, **rec):
        return evaluate_record(
            {"sf": sf, "queries": times, "cpus": 32, **rec}
        )["headline_comparable_reason"]

    quiet = {"loadavg_at_launch": [0.5, 9.0, 9.0]}
    assert reason(floors, **quiet) is None
    assert reason(floors, loadavg_at_launch=[9.214, 0.1]) == "load1m=9.21"
    slow = {q: round(f * 1.43, 3) for q, f in floors.items()}
    assert reason(slow, **quiet) == f"floor=1.43/{len(floors)}"
    assert reason(floors, sf=0.01, **quiet) == "nofloor=sf0.01"
    few = dict(list(floors.items())[:16])
    assert reason(few, **quiet) == "fewgates=16"
    assert reason(floors) == "noload"
    # an old record without loadavg_at_launch reads loadavg_start
    assert reason(floors, loadavg_start=[5.77, 1.0]) == "load1m=5.77"


def test_fields_evict_before_rows():
    """Under an artificially tight budget the digest sheds
    informational fields, not watch rows."""
    rec = _worst_case_record()
    digest_q, env_keys = select_watch_rows(rec["queries"])
    n_watch = len(digest_q)
    line = build_digest(rec, digest_q, env_keys, limit=1500)
    parsed = json.loads(line)
    assert len(parsed["queries"]) == n_watch
    assert "methodology" not in parsed or len(line) <= 1500


def test_full_record_fields_not_in_digest():
    rec = _worst_case_record()
    digest_q, env_keys = select_watch_rows(rec["queries"])
    parsed = json.loads(build_digest(rec, digest_q, env_keys))
    assert "discarded_attempts" not in parsed
    assert parsed["full_record"] == "BENCH_FULL.json"
