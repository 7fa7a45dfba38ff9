"""Driver-side build profiler: where do a gate's py4j round trips go?

Usage: python tools/profile_build.py <query> [query ...]

Runs ``fn(spark, sf_dir)`` (the BUILD phase only — no collect) under
cProfile and reports:

* total build wall seconds (best of PROFILE_RUNS, default 2);
* py4j round trips (calls into ``GatewayConnection``/socket send);
* the top cumulative-time entries attributed to pql_spark call sites.

Build time here is pure driver work (plan construction + eager
analysis + any eager decision jobs); see tools/profile_query.py for
the build/collect split with job counts.
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from profile_query import start_session  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("PROFILE_RUNS", "2"))
    topk = int(os.environ.get("PROFILE_TOP", "25"))
    spark = start_session(sf_dir)

    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        best_t, best_prof = None, None
        for _ in range(n_runs):
            pr = cProfile.Profile()
            t0 = time.perf_counter()
            pr.enable()
            fn(spark, sf_dir)
            pr.disable()
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            if best_t is None or dt < best_t:
                best_t, best_prof = dt, pr
        st = pstats.Stats(best_prof)
        sends = 0
        for (f, _l, fname), (cc, *_rest) in st.stats.items():
            if "java_gateway" in f and fname == "send_command":
                sends = max(sends, cc)
            if "clientserver" in f and fname == "send_command":
                sends = max(sends, cc)
        print(f"== {name}: build {best_t:.3f}s, py4j send_command x{sends}")
        buf = io.StringIO()
        st.stream = buf
        st.sort_stats("cumulative").print_stats("pql_spark|__spark_entry__", topk)
        for line in buf.getvalue().splitlines():
            if "/" in line or "ncalls" in line:
                print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
