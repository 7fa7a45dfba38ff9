"""Benchmark harness: runs the headline queries from ``__spark_entry__``
on one scale-factor directory and prints ONE JSON line.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default all cores).

Each query is timed end-to-end (plan build + execute + collect to the
driver).  The session is warmed with one trivial action first so JVM
startup is not attributed to the first query.

Comparability is one rule, ``evaluate_record``: a sweep is comparable
when its gates run a median of at most ``_BATCH_FLOOR_BAR`` times the
committed per-gate floors (BATCH_FLOORS.json) and the host was quiet at
launch.  The sweep that was just timed and any committed record are
labelled by the same function.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from pql_spark.sources import build_session  # noqa: E402


# Streaming per-gate startup floors (PERF_NOTES_r10.md, revised r13):
# a JVM-only transient micro-batch gate floors at ~0.9 s, a
# Python-stateful one at ~1.4 s; op_stream_near_dup adds its 64-perm
# minhash Arrow kernel (~1.2 s); op_stream_sink_upsert pays a merge-write
# job + directory swap + parquet read-back (PERF_NOTES_r13 §1).  No gate
# may exceed 2× its floor and the 8-gate family must stay within
# _STREAM8_FAMILY_MAX; both bars scale by the sweep's floor ratio.
# Sub-2× per-gate deltas sit inside same-code quiet-session spread
# (op_stream_dedup 1.21-1.89 s over a 0.9 s floor), so no tighter bar.
_STREAM_FLOORS = {
    "op_stream_windowed": 0.9,
    "op_stream_sink_upsert": 1.1,
    "op_stream_dedup": 0.9,
    "op_stream_stateful": 1.4,
    "op_stream_sequence_detect": 1.4,
    "op_stream_interval_join": 1.4,
    "op_stream_sessionize": 1.4,
    "op_stream_near_dup": 2.6,
}
_STREAM8_FAMILY_MAX = 14.0
# A sweep whose gates run a median above 1.25× the committed per-gate
# floors is uniformly slow, whatever else the host reports:
# BENCH_LOCAL_r14.json ran 1.43× over 186 gates, untouched TPC-H code
# included, with a quiet launch load.  1.25 leaves headroom over a
# quiet session's ~1.0-1.15 spread.  A genuine uniform code slowdown
# also lands here and reads "not comparable"; the floor table is
# regenerated each round (tools/make_batch_floors.py).
_BATCH_FLOOR_BAR = 1.25
# below this many common gates the median is not a uniformity reading
_BATCH_FLOOR_MIN_COMMON = 30
# the 1-min loadavg at launch, before this process has done any work,
# is the neighbours' load; above this share of the cpus it inflates the
# early gates even when the sweep's median recovers
_LAUNCH_LOAD_SHARE = 0.15
# a retry first waits (at most this long) for the 1-min loadavg to shed
# the previous attempt, so its launch reading is again the neighbours'
_RETRY_WAIT_SEC = 300


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def load_batch_floors(sf) -> dict | None:
    """BATCH_FLOORS.json floors for this scale factor, else None."""
    path = Path(__file__).resolve().parent / "BATCH_FLOORS.json"
    try:
        table = json.loads(path.read_text())
    except Exception:  # noqa: BLE001 — table not committed yet
        return None
    if table.get("sf") != sf:
        return None
    return table.get("floors") or None


def compute_batch_floor_ratio(
    times: dict[str, float], floors: dict[str, float] | None
) -> tuple[float | None, int]:
    """→ (median of time/floor over common gates, n_common).

    None when no floor table applies or the overlap is too small to
    read as a uniformity instrument (new gates simply aren't in the
    table yet; they join when the next round's table regenerates)."""
    if not floors:
        return None, 0
    ratios = [
        t / floors[q]
        for q, t in times.items()
        if q in floors and isinstance(t, (int, float)) and t == t
        and floors[q] > 0
    ]
    if len(ratios) < _BATCH_FLOOR_MIN_COMMON:
        return None, len(ratios)
    return round(_median(ratios), 3), len(ratios)


def compute_stream_flag(
    times: dict[str, float], scale: float = 1.0
) -> tuple[dict[str, float], float, bool]:
    """Streaming bars → (per-gate floor deltas, 8-gate family sum,
    bars exceeded).  Each gate's bar is 2× its floor and the family's
    is ``_STREAM8_FAMILY_MAX``, both times ``scale``; missing and NaN
    gates are skipped."""
    deltas = {
        q: round(times[q] - f, 3)
        for q, f in _STREAM_FLOORS.items()
        if q in times and times[q] == times[q]
    }
    family = round(sum(times[q] for q in deltas), 3)
    exceeded = family > _STREAM8_FAMILY_MAX * scale or any(
        times[q] > 2.0 * _STREAM_FLOORS[q] * scale for q in deltas
    )
    return deltas, family, exceeded


def compute_stream_verdict(bars_exceeded: bool, comparable: bool) -> str:
    """``ok`` when the bars clear; an exceedance is a ``regression``
    only on a comparable sweep, else ``not_comparable``."""
    if not bars_exceeded:
        return "ok"
    return "regression" if comparable else "not_comparable"


def evaluate_record(record: dict) -> dict:
    """The comparability rule → the record's label fields.

    Comparable = the median time/floor ratio over at least
    ``_BATCH_FLOOR_MIN_COMMON`` common gates is ≤ ``_BATCH_FLOOR_BAR``
    AND the 1-min launch loadavg is ≤ ``_LAUNCH_LOAD_SHARE``×cpus.  No
    floor table, too few common gates or no launch reading is not
    comparable.  The streaming bars scale by max(1, floor ratio).
    Each failed condition is one short reason code (``load1m=9.21``,
    ``floor=1.43/189``, ``fewgates=16``, ``nofloor=sf0.01``,
    ``noload``), the same text in the record and in the digest.

    ``run_sweep`` calls this on the record it just built; a replay
    calls it on a committed record.  Old records fall back to 32 cpus
    and to ``loadavg_start`` when they lack ``cpus`` and
    ``loadavg_at_launch``."""
    times = record.get("queries", {})
    floors = load_batch_floors(record.get("sf"))
    ratio, n = compute_batch_floor_ratio(times, floors)
    launch = record.get("loadavg_at_launch") or record.get("loadavg_start")
    reasons = []
    if not launch:
        reasons.append("noload")
    elif launch[0] > _LAUNCH_LOAD_SHARE * record.get("cpus", 32):
        reasons.append(f"load1m={launch[0]:.2f}")
    if floors is None:
        reasons.append(f"nofloor=sf{record.get('sf')}")
    elif ratio is None:
        reasons.append(f"fewgates={n}")
    elif ratio > _BATCH_FLOOR_BAR:
        reasons.append(f"floor={ratio}/{n}")
    comparable = not reasons
    deltas, family, exceeded = compute_stream_flag(
        times, max(1.0, ratio or 1.0)
    )
    verdict = compute_stream_verdict(exceeded, comparable)
    return {
        "batch_floor_ratio_median": ratio,
        "batch_floor_gates": n,
        "stream8_family_sec": family,
        "stream_floor_deltas": deltas,
        "stream_bars_exceeded": exceeded,
        "stream_verdict": verdict,
        "stream_perf_flag": verdict == "regression",
        "headline_comparable": comparable,
        "headline_comparable_reason": ";".join(reasons) or None,
    }


def _stream_family(times: dict[str, float]) -> list[str]:
    """The WIDER 10-row streaming family: the 8 op_stream_* gates plus
    op_near_dup_incremental and op_curate_stream."""
    return [q for q in times if q.startswith("op_stream_")] + [
        "op_near_dup_incremental",
        "op_curate_stream",
    ]


def select_watch_rows(times: dict[str, float]) -> tuple[dict, set]:
    """→ (digest watch rows, env-requested keys).  The static watch
    list is the round-over-round diff surface; env-requested rows
    (SPARK_GRAFT_BENCH_WATCH) are evicted last under overflow."""
    watch = _stream_family(times) + [
        "op_curate_corpus",
        "op_minhash_dups",
        "op_ngram_jaccard",
        "op_dedup_clusters",
        "op_embedding_dups",
        "op_semantic_dedup",
        # bare rows: the operator-only regression surface (the
        # instrumented gates above also pay their in-query oracles)
        "op_semantic_dedup_bare",
        "op_lsh_topk_bare",
        "op_ivf_topk_bare",
        "op_knn_skew",
        "op_langid",
        "op_bm25",
        "op_line_dedup",
        "pql_sequence_detect",
        "pql_session_count",
        "pql_scan_funnel",
        "pql_scan_var_window",
        "pql_q1_pricing",
        "pql_count",
    ]
    digest_q = {q: times[q] for q in watch if q in times}
    env_keys = {
        q
        for q in os.environ.get("SPARK_GRAFT_BENCH_WATCH", "").split(",")
        if q in times
    }
    for q in env_keys:
        digest_q[q] = times[q]
    return digest_q, env_keys


# digest fields evicted under overflow BEFORE any watch row, least
# essential first: all are either reconstructable from BENCH_FULL.json
# or purely informational.  The watch rows are the round-over-round
# diff surface the driver actually reads (VERDICT r15 item 1).
_DIGEST_FIELD_EVICTION = (
    "evidence_freshness",
    "methodology",
    "stream_floor_deltas",
    "loadavg_at_launch",
    "headline_comparable_reason",
)


def build_digest(
    full_record: dict,
    digest_q: dict,
    env_keys: set,
    limit: int = 1900,
) -> str:
    """ONE stdout JSON line that fits the driver's 2000-char capture
    window WITH every watch row (VERDICT r15 item 1).

    Overflow handling, in order: (1) ``discarded_attempts`` never
    enters the digest (it lives in BENCH_FULL.json); (2) informational
    scalar fields are evicted, least essential first; (3) only if the
    line STILL overflows are watch rows evicted (env-requested rows
    last)."""
    digest = dict(full_record)
    digest.pop("discarded_attempts", None)
    digest["queries"] = digest_q
    digest["full_record"] = "BENCH_FULL.json"
    line = json.dumps(digest, separators=(",", ":"))
    for field in _DIGEST_FIELD_EVICTION:
        if len(line) <= limit:
            break
        digest.pop(field, None)
        line = json.dumps(digest, separators=(",", ":"))
    while len(line) > limit and digest_q:
        # last resort only; env-requested rows go last of all
        evictable = [q for q in digest_q if q not in env_keys] or list(
            digest_q
        )
        digest_q.pop(evictable[-1])
        line = json.dumps(digest, separators=(",", ":"))
    return line


def run_sweep(spark, sf_dir: str, sf: float, load_at_launch) -> dict:
    """One full bench sweep over every declared query → the full
    record (``build_record``).  ``main`` retries a non-comparable
    sweep (VERDICT r15 item 8)."""
    # Warm fixed machinery once (JIT/codegen infra, parquet reader
    # classes, shuffle system, Python/Arrow workers) so per-query
    # timings measure the queries, not class loading.  The Python-worker
    # warmup runs one task per core: each executor thread forks its own
    # python daemon that imports pandas/numpy (~1 s each, all at once
    # when cold — this used to land on the first wide mapInPandas query).
    warm = spark.read.parquet(str(Path(sf_dir) / "region.parquet"))
    warm.groupBy("r_name").count().collect()
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, 1, cores).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # Steady-state methodology (JMH-style): each query runs twice and
    # the BEST time is reported.  Run 1 pays one-time costs that are
    # irrelevant to sustained throughput at scale — whole-stage-codegen
    # compilation of the query's generated classes, JIT warmup, and
    # stop-the-world GC noise from neighboring queries (observed ±10×
    # swings on sub-second queries).  Run 2 measures the plan itself:
    # scan + shuffle + compute.  Cold totals are reported alongside.
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, fn in entrymod.queries().items():
        runs: list[float] = []
        n = 0
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                n = len(df.collect())
            except Exception as e:  # noqa: BLE001
                print(f"bench: {name} failed: {e}", file=sys.stderr)
                break
            runs.append(time.perf_counter() - t0)
            # the library persists nothing (an operator's checkpoints
            # belong to the frame it returns); clearing the session's
            # cache still keeps each run independent of anything cached
            # before it
            spark.catalog.clearCache()
        if not runs or len(runs) < 2:
            times[name] = float("nan")
            cold[name] = float("nan")
            continue
        times[name] = round(min(runs), 3)
        cold[name] = round(runs[0], 3)
        print(
            f"bench: {name}: {times[name]}s best / {cold[name]}s cold"
            f" ({n} rows)",
            file=sys.stderr,
        )
    return build_record(times, cold, sf, load_at_launch)


def build_record(
    times: dict[str, float], cold: dict[str, float], sf: float,
    load_at_launch,
) -> dict:
    """A sweep's full record from its best and cold times, labelled
    by ``evaluate_record``."""
    full_record = {
        "metric": "e2e_all_queries",
        "value": round(sum(t for t in times.values() if t == t), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "methodology": "best-of-2 per query (steady-state);"
        " cold run 1 totals in cold_sec",
        "cold_sec": round(sum(t for t in cold.values() if t == t), 3),
        "loadavg_at_launch": [round(x, 2) for x in load_at_launch],
        # the recording machine's core count: the launch-load bar
        "cpus": os.cpu_count() or 1,
        "n_queries": len(times),
        # the bars apply to stream8_family_sec, not to this sum
        "stream_family_sec": round(
            sum(times[q] for q in _stream_family(times) if q in times
                and times[q] == times[q]),
            3,
        ),
    }
    full_record.update(evaluate_record(full_record))
    # evidence-freshness summary (VERDICT r11 item 7): the bench record
    # itself reproduces the "no evidence older than rN" claim from the
    # committed CORRECTNESS files — tools/evidence_freshness.py has the
    # full per-gate view
    try:
        sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))
        from evidence_freshness import collect as _ef_collect

        _ef = _ef_collect()
        full_record["evidence_freshness"] = {
            "oldest_green_round": _ef["oldest_green_round"],
            "latest_green_histogram": _ef["latest_green_histogram"],
            "gates_hash_green_ever": _ef["gates_hash_green_ever"],
        }
    except Exception:  # noqa: BLE001 — no CORRECTNESS files yet
        full_record["evidence_freshness"] = None
    return full_record


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")

    # loadavg at LAUNCH, before this process has done any work: the
    # only reading that is purely the neighbors'.
    load_at_launch = os.getloadavg()

    # Comparable-by-construction (VERDICT r15 item 8): a sweep that
    # labels itself non-comparable is retried after a bounded idle
    # wait, up to SPARK_GRAFT_BENCH_ATTEMPTS total attempts (default
    # 2).  Each attempt is the complete, methodology-identical sweep;
    # nothing is reused across attempts except the warm JVM.  A sweep
    # without a floor ratio is not retried: a second attempt runs the
    # same gates against the same table and cannot change that label.
    # The committed record is the first comparable attempt, else the
    # lowest-floor one; every discarded attempt's floor and reason stay
    # in ``discarded_attempts``.
    attempts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "2")))

    spark = build_session("pql_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    records: list[dict] = []
    for attempt in range(1, attempts + 1):
        if attempt > 1:
            bar = _LAUNCH_LOAD_SHARE * (os.cpu_count() or 1)
            deadline = time.monotonic() + _RETRY_WAIT_SEC
            while (
                os.getloadavg()[0] > bar and time.monotonic() < deadline
            ):
                time.sleep(10)
            load_at_launch = os.getloadavg()
        rec = run_sweep(spark, sf_dir, sf, load_at_launch)
        rec["bench_attempt"] = attempt
        records.append(rec)
        if rec["headline_comparable"] or rec["batch_floor_ratio_median"] is None:
            break
        print(
            f"bench: attempt {attempt} non-comparable"
            f" ({rec['headline_comparable_reason']}); "
            + ("retrying" if attempt < attempts else "keeping best"),
            file=sys.stderr,
        )

    def _floor(r: dict) -> float:
        v = r["batch_floor_ratio_median"]
        return float("inf") if v is None else v

    full_record = next(
        (r for r in records if r["headline_comparable"]), None
    ) or min(records, key=_floor)
    full_record["bench_attempts"] = len(records)
    full_record["discarded_attempts"] = [
        {
            "attempt": r["bench_attempt"],
            "batch_floor_ratio_median": r["batch_floor_ratio_median"],
            "reason": r["headline_comparable_reason"],
        }
        for r in records
        if r is not full_record
    ]
    full_path = Path(__file__).resolve().parent / "BENCH_FULL.json"
    full_path.write_text(json.dumps(full_record) + "\n")
    digest_q, env_keys = select_watch_rows(full_record["queries"])
    print(build_digest(full_record, digest_q, env_keys))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
