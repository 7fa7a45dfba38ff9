#!/usr/bin/env python
"""Generate BATCH_FLOORS.json — the per-gate quiet-session floor table
(VERDICT r14 item 2).

For every gate, the floor is the MINIMUM best-of-2 time across the
committed same-code-era full sweep records (r13+ — earlier rounds ran
materially different code).  ``bench.evaluate_record`` reads a sweep's
``batch_floor_ratio_median`` (median over common gates of time /
floor) against it: a sweep that runs uniformly slow against the best
committed evidence is not comparable, whatever its launch load read.
BENCH_LOCAL_r14.json is the case that motivated the table: a quiet
launch, yet a uniform median 1.43× the r13-AM record across 186 common
gates, pure-batch TPC-H gates no r14 diff touched included.  The ratio
is a sweep-level reading only, never a per-gate flag: per-gate sub-2×
deltas are below the single-session measurement floor.

Regenerate after a round that commits a new clean record:

    python tools/make_batch_floors.py          # default source set
    python tools/make_batch_floors.py A.json B.json ...

The floor is a ratchet: min() only moves down as cleaner records are
committed, so a genuinely faster code round should regenerate the table
(and say so in PERF_NOTES) rather than enjoy an easy bar.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

DEFAULT_SOURCES = [
    # pre-r15 era: kept for gates the r15 optimizations did not touch
    # (min() only keeps them where they are genuinely lower)
    "archive/BENCH_LOCAL_r13.json",
    "archive/BENCH_LOCAL_r13_pm.json",
    "archive/BENCH_LOCAL_r14.json",
    "archive/BENCH_LOCAL_r14_pm.json",
    # r15 optimization era (re-baselined per the ratchet contract —
    # a faster code round must regenerate rather than enjoy an easy
    # bar): round-start baselines, the mid-round record, the fastest
    # (digest) session, and the final comparable record
    "archive/BENCH_LOCAL_r15_am_before.json",
    "archive/BENCH_LOCAL_r15_before.json",
    "archive/BENCH_LOCAL_r15_midround.json",
    "archive/BENCH_LOCAL_r15_fastest.json",
    "BENCH_FULL.json",
]


def build(sources: list[str]) -> dict:
    floors: dict[str, float] = {}
    sf = None
    used = []
    for name in sources:
        path = REPO / name
        if not path.exists():
            print(f"make_batch_floors: skipping missing {name}",
                  file=sys.stderr)
            continue
        rec = json.loads(path.read_text())
        if sf is None:
            sf = rec.get("sf")
        elif rec.get("sf") != sf:
            raise SystemExit(
                f"{name}: sf {rec.get('sf')} != {sf} — floors are only"
                " meaningful at one scale factor"
            )
        used.append(name)
        for gate, t in rec.get("queries", {}).items():
            if isinstance(t, (int, float)) and t == t and t > 0:
                floors[gate] = min(floors.get(gate, float("inf")), t)
    return {
        "sf": sf,
        "source_records": used,
        "estimator": "per-gate min of best-of-2 across source records",
        "floors": {k: round(v, 3) for k, v in sorted(floors.items())},
    }


def main() -> int:
    sources = sys.argv[1:] or DEFAULT_SOURCES
    table = build(sources)
    out = REPO / "BATCH_FLOORS.json"
    out.write_text(json.dumps(table, indent=1) + "\n")
    print(
        f"wrote {out.name}: {len(table['floors'])} gates at sf"
        f"{table['sf']} from {len(table['source_records'])} records"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
