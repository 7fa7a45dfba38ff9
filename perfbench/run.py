"""Benchmark of pql_spark: one workload, one seed, one process.

Usage (from the repository root):

    python3 perfbench/run.py --workload pql_mix --seed 1 --seconds 6 --trace 0

Workloads (perfbench/workloads.py):

* ``pql_mix``        — a fixed cross-section of the ``pql_*`` gates,
  each operation ``query → collect``, checked row for row against its
  DuckDB oracle;
* ``pql_plan``       — every fourth ``pql_*`` gate compiled and
  physically planned but not executed, checked on the output columns;
* ``dedup_pipeline`` — n-gram near-dup detection and the curation QA
  report, build plus collect, checked row for row.

The seed generates the tables (perfbench/datagen.py) and fixes the
order of the operations.  A child process writes the tables and computes
every gate's DuckDB oracle before anything is timed.  One closed-loop
client then runs the operations on ``local[nproc]``.  Set-up is the cold
session start (JVM launch included), catalog resolution and one warm-up
pass over the gates; ``setup_s`` is its CPU time without the JIT
compiler threads over the host's slowdown, which a sampler process
measures meanwhile (perfbench/speed.py).  The warm-up pays first-call
costs (JIT, generated code, Python workers) that a repeat would not.
``ceil(seconds / pass_s)`` timed passes follow.  Every pass reads its
own copy of the tables, so per-session memos keyed on the input plan
start cold each pass, as in a batch job.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics
(perfbench/spans.py).  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the full record, stamped with host facts.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import datagen
import spans
import speed
import workloads as W

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# per-layer metrics, each a mean per traced operation
_SELF_MS = [f"{layer}_ms" for layer in spans.SELF_LAYERS]
_COUNTS = [
    "lexer.tokens", "sql_backend.sql_bytes", "sql_backend.refusals",
    "compiler.fallbacks", "engine.py4j_calls", "engine.eager_jobs",
    "operators.py4j_calls", "operators.build_jobs", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.failed_tasks", "exec.shuffle_bytes",
]
_SPARK_MS = [
    "spark.parsing_ms", "spark.analysis_ms", "spark.optimization_ms",
    "spark.planning_ms", "exec.python_ms",
]
UNITS = {
    **{m: "ms" for m in _SELF_MS},
    **{m: "count" for m in _COUNTS},
    **{m: "ms" for m in _SPARK_MS},
    "lexer.tokens": "count",
    "sql_backend.sql_bytes": "bytes",
    "exec.shuffle_bytes": "bytes",
    "engine.leaked_views": "count",
    "sources.session_s": "s",
    "sources.catalog_ms": "ms",
    "trace.unattributed_ms": "ms",
    "trace.overhead_frac": "ratio",
    "setup_s": "s",
    "warmup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "op_cpu_s": "s",
    "host_slowdown": "ratio",
    "setup_slowdown": "ratio",
    "setup_wall_s": "s",
    "error_frac": "fraction",
    "peak_rss_mb": "MB",
}
# the end-to-end metrics with a bound: the wall-clock latency figures
# (op_p50_s, ops_per_s) are in the record, but on a shared host they
# move with other tenants' load by more than any useful bound
END_TO_END = ["setup_s", "op_cpu_s", "peak_rss_mb"]
PER_LAYER = (
    _SELF_MS + _COUNTS + _SPARK_MS
    + ["engine.leaked_views", "sources.session_s", "sources.catalog_ms",
       "trace.unattributed_ms", "trace.overhead_frac"]
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="scale factor of the timed tables (default: the"
                         " workload's own)")
    ap.add_argument("--max-ops", type=int, default=None,
                    help="run only the first N gates of the workload")
    ap.add_argument("--prepare-to", type=Path, default=None,
                    help=argparse.SUPPRESS)  # the child of _prepare_in_child
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # on SIGTERM, stop the session and the sampler on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    needed = ("pql_spark/__init__.py", "__spark_entry__.py",
              "tools/check_oracle.py")
    if not all((ROOT / f).is_file() for f in needed):
        print(f"perfbench: no pql_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r};"
              f" one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.prepare_to is not None:
        result = _prepare(args, W.WORKLOADS[args.workload],
                          args.prepare_to.parent / "timed")
        args.prepare_to.write_bytes(pickle.dumps(result))
        return 0
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        record, result = Bench(args, W.WORKLOADS[args.workload], work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name in sorted(record["metrics"]):
        m = record["metrics"][name]
        print(f"{name:26s} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


def _launch_env(work: Path) -> None:
    """Process environment for the JVM and its Python workers: every
    path the run writes lies under ``work``, and the workers import
    ``pql_spark`` from this checkout."""
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_CPUS", None)


class Bench:
    def __init__(self, args, workload, work: Path) -> None:
        self.args, self.w, self.work = args, workload, work
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = self.sampler = None

    # ------------------------------------------------------------ run
    def run(self):
        """Set up, warm up, run the timed passes; returns (record, result)."""
        args, w = self.args, self.w
        load0, steal0 = os.getloadavg(), _cpu_steal_s()
        marks = [("start", time.perf_counter())]
        _launch_env(self.work)
        scale = args.scale if args.scale is not None else w.scale
        timed = self.work / "timed"

        import __spark_entry__ as E

        self.E = E
        self.queries = E.queries()
        names = W.gate_names(w, self.queries)[: args.max_ops]
        expected, oracle_s = _prepare_in_child(args, timed)
        marks.append(("datagen+oracles", time.perf_counter()))
        samples = self.work / "speed.txt"
        self.sampler = subprocess.Popen(
            [sys.executable, str(HERE / "speed.py"), str(samples)])
        try:
            skip = {self.sampler.pid}
            c0 = _tree_cpu_s(skip)
            t0, m0 = time.perf_counter(), time.monotonic()
            self._start_session()
            t1 = time.perf_counter()
            self._resolve_catalog(self._pass_dir(timed, 0))
            t2 = time.perf_counter()
            self._warm_up(names, self._pass_dir(timed, "warm"))
            t3, m3 = time.perf_counter(), time.monotonic()
            c3 = _tree_cpu_s(skip)
            marks.append(("setup+warmup", t3))
            catalogs = [(t2 - t1) * 1e3]
            passes = self._timed_passes(names, timed, expected, catalogs)
            marks.append(("timed", time.perf_counter()))
            leaked = self._leaked_views()
            rss, rss_procs = _tree_peak_rss_mb(skip)
            facts = self._host_facts(load0, steal0)
        finally:
            self._stop()
        marks.append(("stop", time.perf_counter()))

        walls, traced_ops = passes["walls"], passes["traced_ops"]
        lat = walls[False]
        host = speed.Samples(samples)
        cpu = [(name, c["total"] - c["jit"], c["jit"], host.slowdown(*w))
               for name, c, w in passes["cpu"]]
        setup_slowdown = host.slowdown(m0, m3)
        metrics = {
            "setup_s": (c3["total"] - c3["jit"] - c0["total"] + c0["jit"])
            / setup_slowdown,
            "setup_wall_s": t3 - t0,
            "warmup_s": t3 - t2,
            "op_p50_s": statistics.median(lat),
            "ops_per_s": statistics.median(
                n / wall for traced, n, wall, _ in passes["stats"]
                if not traced),
            "op_cpu_s": _op_cpu_s(cpu),
            "host_slowdown": statistics.median(s for *_, s in cpu),
            "setup_slowdown": setup_slowdown,
            "error_frac": passes["failed"] / passes["attempted"],
            "peak_rss_mb": rss,
        }
        if len(lat) >= 100:  # ten samples beyond the 90th percentile
            metrics["op_p90_s"] = statistics.quantiles(lat, n=10)[8]
        if args.trace:
            metrics.update(_layer_means(traced_ops))
            metrics["engine.leaked_views"] = leaked
            metrics["sources.session_s"] = t1 - t0
            metrics["sources.catalog_ms"] = statistics.median(catalogs)
            metrics["trace.overhead_frac"] = (
                statistics.median(walls[True])
                / statistics.median(walls[False])
            )
        record = {
            "workload": w.name,
            "seed": args.seed,
            "scale": scale,
            "gates": len(names),
            "passes": passes["n"],
            "ops": len(walls[False]) + len(walls[True]),
            "oracle_s": oracle_s,
            "catalogs_ms": catalogs,
            "pass_stats": passes["stats"],  # (traced, ops, wall s, CPU s)
            "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
            "order_first_pass": passes["orders"][0],
            "failures": passes["failures"],
            "op_log": passes["op_log"],
            # untraced: (gate, CPU s without the JIT, JIT CPU s, slowdown)
            "op_cpu": cpu,
            "leaked_views": leaked,
            "rss_mb_by_process": rss_procs,
            "host": facts,
            "metrics": {
                m: {"value": v, "unit": UNITS[m]} for m, v in metrics.items()
            },
        }
        if traced_ops:
            record["min_unattributed_ms"] = min(
                (op.wall - sum(op.self_s.values())) * 1e3 for op in traced_ops
            )
        result = {
            "correct": passes["failed"] == 0 and leaked == 0,
            "attempted": passes["attempted"],
            "failed": passes["failed"],
            "metrics": {
                m: record["metrics"][m]
                for m in (PER_LAYER if args.trace else END_TO_END)
            },
        }
        return record, result

    def _timed_passes(self, names, timed: Path, expected, catalogs) -> dict:
        """``ceil(seconds / pass_s)`` passes, each over its own copy of
        the tables in a seeded order; traced runs alternate untraced and
        traced passes, at least one of each.  Per pass: whether it was
        traced, its operations, and the wall and process-tree CPU
        seconds they took."""
        args = self.args
        rng = random.Random(args.seed)
        tracer = spans.Tracer() if args.trace else None
        n = max(1, math.ceil(args.seconds / self.w.pass_s))
        if args.trace:
            n = max(2, n)
        skip = {self.sampler.pid}  # not the program: its CPU is left out
        out = {"n": n, "walls": {False: [], True: []}, "traced_ops": [],
               "attempted": 0, "failed": 0, "failures": {}, "orders": [],
               "op_log": [], "stats": [], "cpu": []}
        for k in range(n):
            traced = bool(args.trace) and k % 2 == 1
            d = self._pass_dir(timed, k)
            if k > 0:
                t = time.perf_counter()
                self._resolve_catalog(d)
                catalogs.append((time.perf_counter() - t) * 1e3)
            order = rng.sample(names, len(names))
            out["orders"].append(order)
            if traced:
                tracer.install()
            cpu_pass, wall = 0.0, 0.0
            try:
                for name in order:
                    out["attempted"] += 1
                    c0, m0 = _tree_cpu_s(skip), time.monotonic()
                    op_wall, why, op = self._op(
                        name, d, expected[name], tracer if traced else None
                    )
                    m1 = time.monotonic()
                    cpu = {key: v - c0[key]
                           for key, v in _tree_cpu_s(skip).items()}
                    wall += op_wall
                    cpu_pass += cpu["total"]
                    out["walls"][traced].append(op_wall)
                    out["op_log"].append(
                        (k, name, round(op_wall, 4),
                         {key: round(v, 2) for key, v in cpu.items()}))
                    if not traced:
                        out["cpu"].append((name, cpu, (m0, m1)))
                    if op is not None:
                        out["traced_ops"].append(op)
                    if why is not None:
                        out["failed"] += 1
                        out["failures"].setdefault(name, why)
            finally:
                if traced:
                    tracer.uninstall()
            out["stats"].append(
                (traced, len(order), wall, cpu_pass))
        return out

    # -------------------------------------------------------- helpers
    def _start_session(self) -> None:
        from pql_spark.sources import build_session

        spark = build_session(
            "perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'}"
                    # JIT compiler threads live for the whole run, so
                    # _tree_cpu_s can tell their CPU time apart
                    " -XX:-UseDynamicNumberOfCompilerThreads",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark

    def _stop(self) -> None:
        """Stop the speed sampler, the session and its JVM, and wait
        until each has ended (the JVM exits when its standard input
        closes)."""
        if self.sampler is not None:
            self.sampler.terminate()
            self.sampler.wait(timeout=60)
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def _resolve_catalog(self, d: Path) -> None:
        """Resolve every table of ``d`` through the catalog the gates
        use (one resolver per session and directory)."""
        cat = self.E._cat(self.spark, str(d))
        for t in W.table_names(self.w):
            cat(t)

    def _pass_dir(self, timed: Path, k) -> Path:
        """The timed tables under a path of their own for pass ``k``."""
        d = self.work / f"pass{k}"
        if not d.exists():
            d.mkdir()
            for f in timed.iterdir():
                os.link(f, d / f.name)
        return d

    def _build(self, name: str, d: Path):
        """The gate's DataFrame over the tables in ``d``."""
        return self.queries[name](self.spark, str(d))

    def _execute(self, df):
        """Collect the rows, or only plan the query on ``pql_plan``."""
        if self.w.kind == "plan":
            df._jdf.queryExecution().executedPlan()
            return None
        return df.collect()

    def _warm_up(self, names: list[str], d: Path) -> None:
        """Run every gate once.  Failures show in the timed passes,
        which run the same gates."""
        for name in names:
            try:
                self._execute(self._build(name, d))
            except Exception:  # noqa: BLE001 — counted when timed
                pass
            finally:
                self._close_engine()

    def _op(self, name: str, d: Path, expected, tracer=None):
        """Run one gate on the tables in ``d`` and check it; returns
        (wall seconds, mismatch reason or None, OpTrace or None)."""
        t0 = time.perf_counter()
        op = None
        try:
            if tracer is None:
                df = self._build(name, d)
                rows = self._execute(df)
                wall = time.perf_counter() - t0
            else:
                wall, df, rows, op = self._traced_op(name, d, tracer)
            if isinstance(expected, W.OracleError):
                why = str(expected)
            else:
                why = W.check(expected, df.columns, rows)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted
            if tracer is not None:
                tracer.op, tracer.counting = None, False
            wall = time.perf_counter() - t0
            why = f"{type(e).__name__}: {str(e)[:200]}"
        finally:
            self._close_engine()
        return wall, why, op

    def _traced_op(self, name: str, d: Path, tracer):
        """One operation under the tracer: spans and py4j round trips of
        the build, then of the execution, each phase in its own job
        group; Spark-side counts are read after the wall clock stops."""
        sc = self.spark.sparkContext
        op = spans.OpTrace()
        gid = f"pb{id(op)}"
        sc.setJobGroup(gid + "b", name)
        tracer.op, tracer.py4j_calls = op, 0
        tracer.counting = True
        t0 = time.perf_counter()
        df = self._build(name, d)
        build_calls = tracer.py4j_calls
        tracer.counting = False
        sc.setJobGroup(gid + "e", name)
        # the physical plan is a lazy member of the query execution that
        # collect() reuses: planning first moves no work, it only splits
        # Spark planning from execution
        rows = None
        with tracer.span("spark.plan_call"):
            df._jdf.queryExecution().executedPlan()
        if self.w.kind == "collect":
            with tracer.span("exec.collect"):
                rows = df.collect()
        op.wall = time.perf_counter() - t0
        tracer.op = None
        layer = "engine" if name.startswith("pql_") else "operators"
        build = spans.job_counts(sc, gid + "b")
        run = spans.job_counts(sc, gid + "e")
        op.add(f"{layer}.py4j_calls", build_calls)
        op.add("engine.eager_jobs" if layer == "engine"
               else "operators.build_jobs", build["jobs"])
        for key in ("jobs", "stages", "tasks"):
            op.add(f"exec.{key}", run[key])
        op.add("exec.failed_tasks", build["failed"] + run["failed"])
        op.spark.update(spans.spark_phases_ms(df))
        if rows is not None:
            op.spark.update(spans.plan_metrics(df))
        sc.setJobGroup("", "")
        return op.wall, df, rows, op

    def _close_engine(self) -> None:
        """Release what the operation persisted, as ``PqlEngine.close``
        does at the end of a caller's query."""
        from pql_spark import PqlEngine

        PqlEngine(self.spark).close()

    def _leaked_views(self) -> int:
        """Temp views the library left in the session."""
        names = [t.name for t in self.spark.catalog.listTables()]
        return sum(n.startswith(("__pql_v", "__sq_")) for n in names)

    def _host_facts(self, load0, steal0) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": self.nproc,
            "loadavg_start": list(load0),
            "loadavg_end": list(os.getloadavg()),
            "cpu_steal_s": _cpu_steal_s() - steal0,
            "commit": _commit(),
            "spark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "seed": self.args.seed,
        }


def _prepare_in_child(args, timed: Path):
    """Run ``_prepare`` in a child process that has ended before the
    session starts, so the peak memory of table generation and of
    DuckDB stays out of ``peak_rss_mb``; returns its result."""
    out = timed.parent / "expected.pickle"
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0",
           "--prepare-to", str(out)]
    if args.scale is not None:
        cmd += ["--scale", str(args.scale)]
    if args.max_ops is not None:
        cmd += ["--max-ops", str(args.max_ops)]
    subprocess.run(cmd, check=True, timeout=170)
    return pickle.loads(out.read_bytes())


def _prepare(args, w, timed: Path):
    """Write the timed tables, then each gate's expected output from
    DuckDB (an unusable oracle is kept as its ``OracleError``); returns
    the expected outputs and the seconds the oracles took."""
    import __spark_entry__ as E

    scale = args.scale if args.scale is not None else w.scale
    datagen.write(timed, scale, args.seed)
    names = W.gate_names(w, E.queries())[: args.max_ops]
    sqls = _oracle_sql(E)
    t = time.perf_counter()
    con = W.duck_connect(timed)
    expected: dict[str, object] = {}
    try:
        for n in names:
            try:
                expected[n] = W.oracle(con, sqls[n], w.kind == "collect")
            except W.OracleError as e:
                expected[n] = e
    finally:
        con.close()
    return expected, time.perf_counter() - t


def _oracle_sql(E) -> dict[str, str]:
    """``E.oracle_sql()``, cached in the checkout per content of the
    program's sources: building it replays the media oracles in Python
    (several seconds) though no workload here uses them."""
    import hashlib

    h = hashlib.sha256()
    for f in [ROOT / "__spark_entry__.py"] + sorted(
        (ROOT / "pql_spark").rglob("*.py")
    ):
        h.update(f.read_bytes())
    cache = ROOT / ".perfbench" / f"oracle_sql-{h.hexdigest()[:16]}.json"
    try:
        return json.loads(cache.read_text())
    except (OSError, ValueError):
        pass
    sqls = E.oracle_sql()
    tmp = cache.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps(sqls))
    tmp.replace(cache)
    return sqls


def _op_cpu_s(cpu) -> float:
    """CPU seconds per operation at the host's uncontended speed: for
    each gate the least over the untraced passes of its CPU time
    without the JIT compiler threads, divided by the host's slowdown
    while it ran (``speed.py``); then the mean over the gates.

    The JIT still compiles after the warm-up, for more than half of the
    CPU time of a pass, and how much of its backlog spills into the
    timed passes follows the host's load during set-up.  The least over
    the passes leaves out a pass that other tenants slowed more than
    the samples of the host's speed show."""
    least: dict[str, float] = {}
    for name, cpu_s, _, slowdown in cpu:
        v = cpu_s / slowdown
        least[name] = min(v, least.get(name, v))
    return statistics.fmean(least.values())


def _layer_means(ops) -> dict[str, float]:
    """Per-operation means of every per-layer metric over traced ops."""
    n = len(ops)
    out = {m: 0.0 for m in _SELF_MS + _COUNTS + _SPARK_MS}
    out["trace.unattributed_ms"] = 0.0
    for op in ops:
        for layer, secs in op.self_s.items():
            out[f"{layer}_ms"] += secs * 1e3 / n
        for key, v in op.counts.items():
            out[key] += v / n
        for key, v in op.spark.items():
            out[key] += v / n
        out["trace.unattributed_ms"] += (
            op.wall - sum(op.self_s.values())) * 1e3 / n
    return out


def _cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _commit() -> str:
    """The checked-out commit, when the checkout is a git repository."""
    try:
        return subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _tree(skip=()) -> list[int]:
    """This process and every live descendant but those in ``skip``:
    the driver, its JVM, the Python worker daemon and its workers."""
    parent: dict[int, int] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                stat = (p / "stat").read_text()
            except OSError:
                continue
            parent[int(p.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(c for c, pp in parent.items()
                    if pp == pid and c not in skip)
    return sorted(tree)


# JVM thread names (``/proc/<pid>/task/<tid>/comm``, cut to 15 bytes)
_CPU_KINDS = (("jit", ("C1 CompilerThre", "C2 CompilerThre")),
              ("gc", ("GC Thread", "G1 ")))


def _tree_cpu_s(skip=()) -> dict[str, float]:
    """CPU seconds (user + system) the process tree has used, including
    the descendants that ended and were reaped inside it (``total``),
    and the share of it on the live threads of each kind in
    ``_CPU_KINDS``.  Time the hypervisor steals is not charged to a
    process, so this moves less with other tenants' load than wall
    time does."""
    tck = os.sysconf("SC_CLK_TCK")
    out = {"total": 0.0, **{k: 0.0 for k, _ in _CPU_KINDS}}
    for pid in _tree(skip):
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
            tasks = list(Path(f"/proc/{pid}/task").iterdir())
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17
        out["total"] += sum(
            int(f) for f in stat.rsplit(")", 1)[1].split()[11:15]) / tck
        for t in tasks:
            try:
                comm = (t / "comm").read_text().strip()
                kind = next((k for k, pre in _CPU_KINDS
                             if comm.startswith(pre)), None)
                if kind is not None:
                    f = (t / "stat").read_text().rsplit(")", 1)[1].split()
                    out[kind] += (int(f[11]) + int(f[12])) / tck
            except OSError:
                continue
    return out


def _tree_peak_rss_mb(skip=()) -> tuple[float, list]:
    """Summed peak resident set (VmHWM) of the process tree, and the
    per-process peaks in MB."""
    procs = []
    for pid in _tree(skip):
        try:
            status = Path(f"/proc/{pid}/status").read_text().splitlines()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status if ":" in line)
        if "VmHWM" in fields:
            mb = int(fields["VmHWM"].split()[0]) / 1024
            procs.append((fields["Name"].strip(), round(mb, 1)))
    return sum(mb for _, mb in procs), procs


if __name__ == "__main__":
    sys.exit(main())
