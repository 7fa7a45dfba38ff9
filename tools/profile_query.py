"""Per-query micro-profiler: where does a bench gate's time go?

Usage: python tools/profile_query.py <query> [query ...]

For each query, runs bench.py's exact methodology (2 runs, best
reported) but splits the timing into:

* build_s   — the ``fn(spark, sf_dir)`` call (eager builders pay their
              decision/centroid jobs here);
* collect_s — ``df.collect()``;
* jobs      — Spark jobs launched during the run (statusTracker);
* stages    — total stages those jobs ran;
* shuffle   — shuffle bytes written by the stages the run completed
              (the application status store, eager build jobs
              included).

Same session shape as bench.py (warm parquet + python workers first).
:func:`start_session` and :func:`profile_once` are importable, so an
A/B of two code paths can alternate inside one session.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from pql_spark.sources import build_session  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("PROFILE_RUNS", "2"))
    spark = start_session(sf_dir)
    qs = entrymod.queries()
    for name in names:
        best = None
        for run in range(n_runs):
            rec = profile_once(spark, qs[name], sf_dir)
            if best is None or rec["total"] < best["total"]:
                best = rec
            print(f"{name} run{run}: {_fmt(rec)}", file=sys.stderr)
        print(f"{name}: best {_fmt(best)}")
    spark.stop()
    return 0


def start_session(sf_dir: str):
    """A warmed profiling session: parquet read path and a pre-forked
    Python worker pool."""
    spark = build_session("query-profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm = spark.read.parquet(str(Path(sf_dir) / "region.parquet"))
    warm.groupBy("r_name").count().collect()
    cores = spark.sparkContext.defaultParallelism
    # Python daemon pool warmup sized for PEAK demand, not one stage:
    # AQE runs independent mapInPandas stages concurrently, so a cold
    # session can demand 2-3x cores of python workers at once.  On this
    # sandbox a fork+numpy-import storm runs at ~40% kernel time and
    # inflated isolated first-runs of the curation pipeline 3-10x
    # (measured 16.9/14.0/7.2/6.2 s across 4 identical runs).  Two
    # concurrent wide jobs pre-fork ~2x cores workers.
    from concurrent.futures import ThreadPoolExecutor

    def _warm_py(_):
        spark.range(0, cores, 1, cores).mapInPandas(
            lambda it: it, "id long"
        ).count()

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(_warm_py, range(2)))
    return spark


def _shuffle_bytes_written(spark) -> int:
    """Shuffle bytes written by every stage the application ran so far,
    read once the listener bus has delivered all pending events."""
    ctx = spark.sparkContext
    sc = ctx._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    every = ctx._jvm.java.util.ArrayList()  # empty filter: all statuses
    no_quantiles = ctx._gateway.new_array(ctx._jvm.double, 0)
    stages = sc.statusStore().stageList(
        every, False, False, no_quantiles, every
    )
    return sum(
        stages.apply(i).shuffleWriteBytes() for i in range(stages.size())
    )


def profile_once(spark, fn, sf_dir: str) -> dict:
    """Build and collect one gate, then clear the session's cache.
    Returns total/build/collect seconds, jobs, stages, shuffle bytes
    and rows."""
    tracker = spark.sparkContext.statusTracker()
    jobs0 = set(tracker.getJobIdsForGroup(None) or [])
    shuffle0 = _shuffle_bytes_written(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    n = len(df.collect())
    t2 = time.perf_counter()
    new_jobs = sorted(set(tracker.getJobIdsForGroup(None) or []) - jobs0)
    stages = 0
    for j in new_jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    rec = {
        "total": t2 - t0, "build": t1 - t0, "collect": t2 - t1,
        "jobs": len(new_jobs), "stages": stages,
        "shuffle": _shuffle_bytes_written(spark) - shuffle0, "rows": n,
    }
    spark.catalog.clearCache()
    return rec


def _fmt(rec: dict) -> str:
    return (
        f"total={rec['total']:.3f}s build={rec['build']:.3f}s"
        f" collect={rec['collect']:.3f}s jobs={rec['jobs']}"
        f" stages={rec['stages']} shuffle={rec['shuffle']}B"
        f" rows={rec['rows']}"
    )


if __name__ == "__main__":
    raise SystemExit(main())
