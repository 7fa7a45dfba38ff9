"""Self-test of the benchmark: small tables, a few gates, one pass.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# layers whose spans each workload must show in a traced run
LAYER_SPANS = {
    "pql_mix": ["lexer.scan_ms", "parser.parse_ms", "sql_backend.emit_ms",
                "engine.query_ms", "spark.plan_call_ms", "exec.collect_ms",
                "spark.analysis_ms", "spark.optimization_ms",
                "spark.planning_ms"],
    "pql_plan": ["lexer.scan_ms", "parser.parse_ms", "sql_backend.emit_ms",
                 "engine.query_ms", "spark.plan_call_ms"],
    "dedup_pipeline": ["operators.build_ms", "pipelines.build_ms",
                       "spark.plan_call_ms", "exec.collect_ms",
                       "exec.python_ms"],
}
# counts that must repeat exactly between two traced runs of one seed
EXACT_COUNTS = ["engine.py4j_calls", "exec.jobs", "sql_backend.sql_bytes"]


def _run(workload: str, seed: int, trace: int, max_ops: int = 3):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
         "--scale", "0.001", "--max-ops", str(max_ops)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def runs():
    return {
        ("pql_mix", 1, 1): _run("pql_mix", 1, 1, max_ops=4),
        ("pql_mix", 1, 1, "again"): _run("pql_mix", 1, 1, max_ops=4),
        ("pql_mix", 2, 0): _run("pql_mix", 2, 0, max_ops=4),
        ("pql_plan", 1, 1): _run("pql_plan", 1, 1),
        ("dedup_pipeline", 1, 1): _run("dedup_pipeline", 1, 1),
    }


def test_every_metric_prints_with_its_unit(runs):
    for key, (lines, record, result) in runs.items():
        spec = SPEC["per_layer"] if key[2] else SPEC["end_to_end"]
        assert set(result["metrics"]) == {m["name"] for m in spec}, key
        for m in spec:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"], (key, m["name"])
            assert any(
                line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                for line in lines
            ), (key, m["name"])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}


def test_no_operation_fails(runs):
    for key, (_, record, result) in runs.items():
        assert result["correct"] and result["failed"] == 0, (
            key, record["failures"])
        assert record["metrics"]["error_frac"]["value"] == 0
        assert result["attempted"] >= 1


def test_seed_fixes_the_operation_order(runs):
    a = runs[("pql_mix", 1, 1)][1]["order_first_pass"]
    b = runs[("pql_mix", 1, 1, "again")][1]["order_first_pass"]
    c = runs[("pql_mix", 2, 0)][1]["order_first_pass"]
    assert a == b
    assert a != c and sorted(a) == sorted(c)


def test_traced_run_shows_every_layer(runs):
    for (workload, *_), (_, record, result) in runs.items():
        if "trace.overhead_frac" not in result["metrics"]:
            continue
        m = result["metrics"]
        for name in LAYER_SPANS[workload]:
            assert m[name]["value"] > 0, (workload, name)
        assert m["trace.overhead_frac"]["value"] > 0
        # self times plus the remainder add up to the wall time: the
        # remainder is never negative
        assert record["min_unattributed_ms"] >= -1e-6
        assert m["engine.leaked_views"]["value"] == 0


def test_traced_counts_repeat_exactly(runs):
    a = runs[("pql_mix", 1, 1)][2]["metrics"]
    b = runs[("pql_mix", 1, 1, "again")][2]["metrics"]
    for name in EXACT_COUNTS:
        assert a[name]["value"] == b[name]["value"] > 0, name


def test_slowdown_is_the_mean_sample_of_the_window(tmp_path):
    import speed

    f = tmp_path / "speed.txt"
    n = speed.NOMINAL_S
    # the last line was cut when the sampler was stopped
    f.write_text(f"1.0 {n}\n2.0 {2 * n}\n3.0 {4 * n}\n4.0 0.0")
    s = speed.Samples(f)
    assert s.slowdown(1.5, 3.5) == pytest.approx(3.0)
    assert s.slowdown(0.0, 10.0) == pytest.approx(7 / 3)
    assert s.slowdown(2.2, 2.4) == pytest.approx(4.0)  # the next sample
    assert s.slowdown(3.2, 3.4) == pytest.approx(4.0)  # the last sample
