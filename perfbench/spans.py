"""Spans and counters recorded from outside the program.

``Tracer.install()`` wraps the public entry point of each layer (the
module attributes and methods listed in ``_LAYER_FUNCS``, every public
operator and pipeline function) with a span recorder, and counts py4j
round trips at the client socket.  Nothing inside ``pql_spark`` is
edited: the wrappers replace module attributes for the life of the
traced passes and ``uninstall()`` puts the originals back.

A span records its layer and start time; the span open below it on the
stack is its parent.  Spans nest as calls do, in one thread, so a
layer's self time is its duration minus the durations of its direct
children, and the self times of one operation's spans plus an
unattributed remainder add up to the operation's wall time.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from dataclasses import dataclass, field

# (module, attribute, layer): plain functions, wrapped wherever a
# module holds a reference to them (``from x import f`` copies too)
_LAYER_FUNCS = [
    ("pql_spark.lexer", "scan", "lexer.scan"),
    ("pql_spark.parser", "parse", "parser.parse"),
    ("pql_spark.sql_backend", "compile_to_sql", "sql_backend.emit"),
    ("pql_spark.sql_backend", "compile_to_sql_multi", "sql_backend.emit"),
]
# (module, class, method, layer)
_LAYER_METHODS = [
    ("pql_spark.compiler", "Compiler", "compile_statements", "compiler.build"),
    ("pql_spark.engine", "PqlEngine", "query", "engine.query"),
]
# every public function of these modules is a span of the given layer
_LAYER_MODULES = [
    ("pql_spark.operators", "operators.build"),
    ("pql_spark.pipelines", "pipelines.build"),
]

_PY4J_DELETE = "m\nd\n"  # py4j protocol: memory command, delete

# self-time layers, in report order; "unattributed" is the remainder
SELF_LAYERS = [
    "lexer.scan", "parser.parse", "sql_backend.emit", "compiler.build",
    "engine.query", "operators.build", "pipelines.build",
    "spark.plan_call", "exec.collect",
]


@dataclass
class Span:
    layer: str
    start: float
    children: float = 0.0  # summed duration of direct children


@dataclass
class OpTrace:
    """Everything recorded for one traced operation."""

    wall: float = 0.0
    self_s: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    spark: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, n: int = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n


class Tracer:
    """Span stack plus counters for the operation in progress."""

    def __init__(self) -> None:
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        self.op: OpTrace | None = None
        self.py4j_calls = 0
        self.counting = False

    # ------------------------------------------------------------ spans
    def span(self, layer: str):
        return _SpanCtx(self, layer)

    def _open(self, layer: str) -> Span:
        s = Span(layer, time.perf_counter())
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        dur = time.perf_counter() - s.start
        popped = self._stack.pop()
        assert popped is s, "spans must nest"
        if self._stack:
            self._stack[-1].children += dur
        if self.op is not None:
            own = dur - s.children
            self.op.self_s[s.layer] = self.op.self_s.get(s.layer, 0.0) + own

    # ---------------------------------------------------------- install
    def install(self) -> None:
        """Wrap every layer entry point and the py4j client sockets."""
        for mod_name, attr, layer in _LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            self._wrap_everywhere(getattr(mod, attr), layer)
        for mod_name, cls_name, meth, layer in _LAYER_METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._patch(cls, meth, self._wrapper(getattr(cls, meth), layer))
        for pkg_name, layer in _LAYER_MODULES:
            for fn in _public_functions(pkg_name):
                self._wrap_everywhere(fn, layer)
        engine = importlib.import_module("pql_spark.engine")
        self._patch(engine, "compile_pql",
                    self._counted(engine.compile_pql, "compiler.fallbacks"))
        for mod_name, cls_name in (
            ("py4j.clientserver", "ClientServerConnection"),
            ("py4j.java_gateway", "GatewayConnection"),
        ):
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._patch(cls, "send_command",
                        self._py4j_counter(cls.send_command))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap_everywhere(self, fn, layer: str) -> None:
        wrapped = self._wrapper(fn, layer)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("pql_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patch(mod, attr, wrapped)

    def _wrapper(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer._open(layer)
            try:
                out = fn(*args, **kwargs)
            except Exception as e:
                if layer == "sql_backend.emit" and tracer.op is not None:
                    if type(e).__name__ == "QueryError":
                        tracer.op.add("sql_backend.refusals")
                raise
            finally:
                tracer._close(s)
            if tracer.op is not None:
                if layer == "lexer.scan":
                    tracer.op.add("lexer.tokens", len(out))
                elif layer == "sql_backend.emit":
                    text = out if isinstance(out, str) else "".join(out.values())
                    tracer.op.add("sql_backend.sql_bytes", len(text.encode()))
            return out

        return traced

    def _counted(self, fn, key: str):
        tracer = self

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if tracer.op is not None:
                tracer.op.add(key)
            return fn(*args, **kwargs)

        return counted

    def _py4j_counter(self, fn):
        """Count round trips the program makes; the deletes Python's
        garbage collector sends for dead proxies are left out, since
        when they fall depends on collection timing."""
        tracer = self

        @functools.wraps(fn)
        def send_command(conn, command, *args, **kwargs):
            if tracer.counting and not command.startswith(_PY4J_DELETE):
                tracer.py4j_calls += 1
            return fn(conn, command, *args, **kwargs)

        return send_command


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str) -> None:
        self.tracer, self.layer = tracer, layer

    def __enter__(self):
        self.s = self.tracer._open(self.layer)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s)


def _public_functions(pkg_name: str) -> list:
    """Public functions defined in ``pkg_name`` and its submodules."""
    pkg = importlib.import_module(pkg_name)
    mods = [pkg] + [
        m for n, m in list(sys.modules.items())
        if n.startswith(pkg_name + ".") and m is not None
    ]
    seen: dict[int, object] = {}
    for mod in mods:
        for attr, val in vars(mod).items():
            if (
                not attr.startswith("_")
                and inspect.isfunction(val)
                and val.__module__.startswith(pkg_name)
            ):
                seen[id(val)] = val
    return list(seen.values())


# ------------------------------------------------------ Spark-side reads


def spark_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations (parsing, analysis, optimization,
    planning) from the query's ``QueryPlanningTracker``."""
    out: dict[str, float] = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[f"spark.{kv._1()}_ms"] = float(kv._2().durationMs())
    return out


def plan_metrics(df) -> dict[str, float]:
    """Shuffle bytes written and Python-worker time, summed over the
    final (adaptive) physical plan, descending into query stages and
    into the plans that materialized cached relations."""
    identity = df.sparkSession.sparkContext._jvm.System.identityHashCode
    shuffle = python_ms = 0.0
    seen: set[int] = set()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        key = identity(node)
        if key in seen:
            continue
        seen.add(key)
        name = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "shuffleBytesWritten":
                shuffle += kv._2().value()
            elif kv._1() == "pythonTotalTime":
                python_ms += kv._2().value()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif name == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        ch = node.children().iterator()
        while ch.hasNext():
            todo.append(ch.next())
    return {"exec.shuffle_bytes": shuffle, "exec.python_ms": python_ms}


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, tasks and failed tasks of a job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for j in st.getJobIdsForGroup(group) or []:
        info = st.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            if si.numCompletedTasks:
                stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed": failed}
