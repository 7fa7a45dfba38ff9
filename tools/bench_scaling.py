"""Scaling study: sf0.1 vs 10x (".scratch/sf1") vs 100x (".scratch/sf10").

For each selected query, times the Spark implementation AND its DuckDB
oracle at both scales (best of 2) and prints one JSON document.  The
point: Spark's fixed per-query overhead (~0.2-0.5 s of stage/codegen
floor) dominates sub-second queries at sf0.1 — as data grows 10x the
spark/duck ratio should compress toward (or past) 1x, showing the
asymptotic plans are right.

r12 (VERDICT r11 item 4): when .scratch/sf10 exists, the HEAVY tier
also runs at 100x — a second measured decade, turning the one-decade
extrapolation into a trend line.  sf10 rows are single-shot (a 2x
timing error does not change a decade trend) and the DuckDB oracle is
capped (SPARK_GRAFT_DUCK_CAP_SEC, default 600 s, via con.interrupt):
for rows where Spark's asymptotics win hard (dedup_clusters was
already 0.04x at sf1) the twin would otherwise run for an hour to
prove a ratio we only need an upper bound on.  Capped rows report
duck_sf10 = null + ratio_sf10_max = spark/cap; the per-row
spark_slope_sf1_to_sf10 (want ~10 for 10x data) is the primary trend
statistic either way.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from pql_spark.sources import build_session  # noqa: E402

QUERIES = [
    "pql_q1_pricing", "pql_scan_funnel", "op_minhash_dups",
    "op_ngram_jaccard", "op_simhash", "op_winnow_fingerprints",
    "op_embedding_dups", "op_asof_join", "op_kmv_distinct", "op_langid",
    # round-3b additions: window-chained funnel, iterative CC, cube
    "pql_sequence_detect", "op_dedup_clusters", "pql_autocluster",
    # round-3c additions: broadcast CIDR join, explode-to-bins rolling
    # metrics, rate-based corpus mixing
    "pql_ipv4_lookup", "pql_sliding_window_counts", "pql_session_count",
    "op_mix_corpora",
    # round-3d additions: vocab-broadcast LM scoring, corpus line dedup,
    # domain-aggregate water-filling
    "op_lm_score", "op_line_dedup", "op_unimax_mix",
    # round-6 additions: short-prefix-key CIDR join, retention plugins,
    # cohort-diff CUBE, greedy-chain funnel, skew-salted kNN, and the
    # composed curation pipeline (rows-only: spark timing only)
    "pql_ipv6_lookup", "pql_activity_engagement",
    "pql_active_users_count", "pql_diffpatterns",
    "pql_funnel_completion", "pql_activity_metrics", "op_knn_skew",
    "op_curate_corpus",
    # round-7 additions: var-condition scan (interpreted skeleton in
    # the automaton) and the zero-shuffle BM25 scorer
    "pql_scan_var_window", "op_bm25",
    # round-8 additions: bounded-merge-loop BPE (rows-only: spark
    # timing only) and Efraimidis-Spirakis weighted sampling
    "op_bpe", "op_weighted_sample",
    # round-10 addition: Morton cell assignment + groupBy over all
    # events (the geo join gate is constant-size by construction and
    # stays out)
    "pql_geo_cell",
    # round-11 additions (VERDICT r10 item 6): data-proportional geo
    # radius join (cell-bucketized twin, like-for-like) and the generic
    # banded-Hamming join shared by pHash/audio near-dup (banded twin;
    # the media gates themselves are constant-size — decode is narrow
    # per-row Arrow work, the join is the part that scales)
    "op_geo_join_scale", "op_hamming_dups",
]

# the tier that gets the second measured decade (sf10 = 100x sf0.1);
# ngram's 100x point lives on the Zipf corpus instead (bench_zipf.py —
# the flat synthetic corpus is the documented prefix-filter OFF case)
HEAVY = [
    "op_minhash_dups", "op_ngram_jaccard", "op_dedup_clusters",
    "op_hamming_dups", "op_geo_join_scale", "op_curate_corpus",
    # r15 (VERDICT r14 item 3): the ANN tier's scale story stopped at
    # sf1 0.46 — the blocked-matmul pair finder gets a measured second
    # decade (sf10 embeddings materialized via the sign-flip roll)
    "op_embedding_dups",
]
# floor-dominated rows (VERDICT r12 item 4): their sf1 ratios are
# sub-1.5 s absolutes over ms-scale oracles, and the "ratio compresses
# as the floor amortizes" claim was extrapolated — these get a measured
# sf10 point too (events/lineitem are materialized at sf10)
FLOOR10 = [
    "pql_sequence_detect", "op_asof_join", "pql_session_count",
    "pql_q1_pricing",
    # r15 (VERDICT r14 item 3): the one heavy-ish sf1 row over 2×
    # (2.10, floor-shaped — spark absolute 3.1 s) with no
    # second-decade evidence that the ratio crosses under the bar
    "pql_geo_cell",
]
# rows whose sf10 oracle is a cheaper-but-exact scale twin
# (entrymod.scale_oracle_sql — VERDICT r12 item 5); their values are
# compared against the Spark result in-sweep, same discipline as the
# r12 hamming pair check
SF10_ORACLES = entrymod.scale_oracle_sql()
# rows whose sf10 twin is ASYMMETRIC — an in-process shuffle-free
# algorithm whose constants don't transfer to a distributed plan
# (VERDICT r13 item 4): their ratio is emitted under a field name that
# says so (ratio_sf10_vs_inprocess_twin), so a reader scanning the
# table never mistakes it for a like-for-like throughput breach; the
# values are still verified exact (sf10_values_match).
ASYMMETRIC_SF10 = {"op_ngram_jaccard"}
VALUE_CHECK_SF10 = set(SF10_ORACLES) | {"op_hamming_dups"}
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Asymmetric-twin annotations, emitted per row so the JSON can't be
# misread: these oracles verify VALUES but skip work the Spark side
# does, so their ratios are NOT like-for-like throughput comparisons.
NOTES = {
    "pql_ipv4_lookup": (
        "asymmetric twin: the DuckDB oracle does arithmetic membership"
        " on pre-parsed integers and never parses the dotted address"
        " string; the ratio measures parse cost the oracle never pays."
        " Compare absolute spark_sf1 instead."
    ),
    "pql_ipv6_lookup": (
        "asymmetric twin: the DuckDB oracle matches on pre-parsed"
        " (hi,lo) BIGINT pairs and never parses the hex/:: address"
        " string; the ratio measures parse cost the oracle never pays."
        " Compare absolute spark_sf1 instead."
    ),
    "op_ngram_jaccard": (
        "sf10 oracle is the PPJoin scale twin — an IN-PROCESS"
        " algorithm whose 85.8 M-candidate exact verify pays no"
        " shuffle; Spark's like-for-like naive twin needs >2400 s"
        " (r12 follow-up cap).  Spark's own prefix-ON plan was"
        " measured at sf10 and rejected: the rows-based verify"
        " shuffles ~4.5 B narrow rows (~100 GB) and fills the disk"
        " on local[32], so the count-only naive plan IS the right"
        " distributed plan here and prefix_filter='auto' (mass-ratio"
        " rule, PERF_NOTES_r13 §5) correctly keeps it.  The sf10"
        " ratio therefore compares a distributed shuffle plan to a"
        " shuffle-free single-node one; pair values are verified"
        " exact either way (sf10_values_match)."
    ),
    "op_bpe": (
        "literal twin: the oracle is a replayed VALUES table (the"
        " driver-side merge-loop replay), so duck time is a constant"
        " ~1 ms fetch and the ratio is not a throughput comparison."
        " Compare absolute spark_sf1 (the one distributed stage is a"
        " word-frequency groupBy) instead."
    ),
    "pql_session_count": (
        "constant-factor row (r13 measured, amortization language"
        " retired r14): one lag window + one groupBy — the"
        " asymptotically-right two-shuffle shape — against an"
        " in-process twin that pays no exchange or py4j collect."
        " Both engines are linear in events, so the ratio"
        " (7.54 sf1 -> 5.32 sf10) reflects a constant per-row"
        " serialization factor, not a floor that amortizes away;"
        " absolute sf10 cost is seconds for 10 M events."
    ),
    "pql_sequence_detect": (
        "constant-factor row (measured r13; amortization language"
        " retired r14; formerly PERF_NOTES_r12 decomposition, post"
        " r12 SQL fusion): the plan is the asymptotically-right"
        " one-shuffle shape (scan+pushed filter, ONE hash exchange,"
        " one sort with stacked struct-min windows, output range"
        " sort) against an in-process DuckDB twin that pays no"
        " exchange serialization, no second output exchange, and no"
        " py4j collect of the result rows.  r13 measured the second"
        " decade: both engines scale linearly (spark slope 6.54 vs"
        " duck 6.94 for 10x data), so the ratio will NOT compress to"
        " 1x - the gap is Spark's per-row serialization constant,"
        " not a plan defect or a floor.  r14 shaved the constant by"
        " packing the window structs/post-filters as BIGINT micros"
        " (bare-long min for the last step): the CONTROLLED"
        " same-session A/B (PERF_NOTES_r14.md, identical outputs"
        " asserted) reads 1.43 -> 1.10 s at sf1 (-23%)."
        " Sweep-to-sweep RATIOS cannot resolve a change this size:"
        " across same-day sessions spark_sf10 reads 5.8-8.2 s and the"
        " duck twin 0.77-1.54 s, so the ratio swings 5.3-7.5 on"
        " session state alone - read the absolutes and the slopes,"
        " which stay linear on both engines."
    ),
}


def time_best2(fn, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
        if _SPARK is not None:  # persist-heavy pipelines: no cross-run
            _SPARK.catalog.clearCache()  # cache reuse (bench.py rule)
    return round(best, 3)


def duck_timed_capped(
    con, sql: str, cap: float
) -> tuple[float, bool, list | None, list[str] | None]:
    """Run the oracle once with a wall-clock cap: a watchdog thread
    calls con.interrupt() at the cap so an asymptotically-losing twin
    (the thing the Spark plan exists to beat) cannot stall the sweep.
    Returns (seconds, capped, rows-or-None, column-names-or-None)."""
    import threading

    done = threading.Event()

    def watchdog():
        if not done.wait(cap):
            try:
                con.interrupt()
            except Exception:  # noqa: BLE001 — already finished
                pass

    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    t0 = time.perf_counter()
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        return round(time.perf_counter() - t0, 3), False, rows, cols
    except duckdb.InterruptException:
        return round(cap, 3), True, None, None
    except Exception as e:
        # a genuine oracle error (bad SQL, missing table, OOM) must
        # surface as an error, not be recorded as a fake upper bound
        # (ADVICE r12/r13) — even when it happens to arrive late in
        # the run.  Only a wrapped interrupt (some DuckDB builds
        # surface con.interrupt() as a generic Error whose message
        # says INTERRUPT) counts as a cap hit.
        if "interrupt" in str(e).lower():
            return round(cap, 3), True, None, None
        raise
    finally:
        done.set()


def values_match(
    s_cols: list[str], s_rows: list, d_cols: list[str], d_rows: list
) -> bool:
    """check_oracle-style compare: columns sorted by name, floats
    rounded to 6, rows sorted — exact otherwise."""
    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = sorted(
            (
                tuple(
                    round(r[i], 6) if isinstance(r[i], float) else r[i]
                    for i in order
                )
                for r in rows
            ),
            key=repr,
        )
        return [cols[i] for i in order], out

    return norm(s_cols, s_rows) == norm(d_cols, d_rows)


_SPARK = None


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM"
                f" read_parquet('{p}/*.parquet')"
            )
        elif p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def main() -> int:
    import os

    repo = Path(__file__).resolve().parent.parent
    dirs = {"sf0.1": "/root/testdata/sf0.1",
            "sf1": str(repo / ".scratch" / "sf1")}
    sf10_dir = repo / ".scratch" / "sf10"
    duck_cap = float(os.environ.get("SPARK_GRAFT_DUCK_CAP_SEC", "600"))
    # SPARK_GRAFT_SCALING_ONLY=a,b: focused re-measurement of a few
    # rows (e.g. after a plan change) without the full 33-query sweep
    only = os.environ.get("SPARK_GRAFT_SCALING_ONLY", "")
    queries_to_run = (
        [q for q in only.split(",") if q] if only else QUERIES
    )
    spark = build_session("pql_spark_scaling")
    global _SPARK
    _SPARK = spark
    spark.sparkContext.setLogLevel("ERROR")
    # warm as bench.py does
    spark.read.parquet(dirs["sf0.1"] + "/region.parquet").count()
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores, 1, cores).mapInPandas(
        lambda it: it, "id long"
    ).count()

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    out: dict[str, dict] = {}
    for name in queries_to_run:
        row: dict[str, float] = {}
        for sf, d in dirs.items():
            row[f"spark_{sf}"] = time_best2(
                lambda: queries[name](spark, d).collect()
            )
            if name in oracles:
                con = duck_con(d)
                row[f"duck_{sf}"] = time_best2(
                    lambda: con.execute(oracles[name]).fetchall()
                )
                con.close()
        if "duck_sf0.1" in row:
            row["ratio_sf0.1"] = round(
                row["spark_sf0.1"] / max(row["duck_sf0.1"], 1e-9), 2
            )
            row["ratio_sf1"] = round(
                row["spark_sf1"] / max(row["duck_sf1"], 1e-9), 2
            )
        # second decade: heavy + floor tiers at 100x, single-shot,
        # capped oracle; scale-twin rows also value-checked
        if (name in HEAVY or name in FLOOR10) and sf10_dir.exists():
            d10 = str(sf10_dir)
            cap10: dict = {}

            def run10():
                df = queries[name](spark, d10)
                cap10["cols"] = df.columns
                cap10["rows"] = df.collect()

            row["spark_sf10"] = time_best2(run10, runs=1)
            row["spark_slope_sf1_to_sf10"] = round(
                row["spark_sf10"] / max(row["spark_sf1"], 1e-9), 2
            )
            if name in oracles:
                sql10 = SF10_ORACLES.get(name, oracles[name])
                if name in SF10_ORACLES:
                    row["sf10_oracle"] = "scale twin"
                con = duck_con(d10)
                dt, capped, drows, dcols = duck_timed_capped(
                    con, sql10, duck_cap
                )
                con.close()
                if capped:
                    row["duck_sf10"] = None
                    row["duck_sf10_cap"] = dt
                    row["ratio_sf10_max"] = round(
                        row["spark_sf10"] / dt, 3
                    )
                else:
                    row["duck_sf10"] = dt
                    ratio_field = (
                        "ratio_sf10_vs_inprocess_twin"
                        if name in ASYMMETRIC_SF10
                        else "ratio_sf10"
                    )
                    row[ratio_field] = round(
                        row["spark_sf10"] / max(dt, 1e-9), 2
                    )
                    if name in VALUE_CHECK_SF10:
                        row["sf10_rows"] = len(drows)
                        row["sf10_values_match"] = values_match(
                            cap10["cols"], cap10["rows"], dcols, drows
                        )
        if name in NOTES:
            row["note"] = NOTES[name]
        out[name] = row
        print(name, row, flush=True)
    print(json.dumps({"queries": out}, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
