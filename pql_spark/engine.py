"""Public API: compile and run PQL on Spark.

Mirrors the reference's two entry points (``pql.Compile`` / ``parser.Parse``,
pql.go:18-30) with a Spark-native result: ``PqlEngine.query(text)`` returns
a lazy DataFrame — Catalyst plans it, nothing executes until an action.
"""

from __future__ import annotations

import itertools
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

from .compiler import Compiler, Resolver
from .parser import parse
from .sql_backend import MultiResult

__all__ = ["MultiResult", "PqlEngine", "compile_pql", "parse"]

# collision-proof temp-view names for the SQL backend (process-wide
# counter: two engines in one session never reuse a name)
_VIEW_IDS = itertools.count()


class PqlEngine:
    """Compile PQL pipelines to Spark DataFrames.

    ``resolver`` maps table names to DataFrames: a dict, a callable, or
    None (falls back to ``spark.table`` — temp views / catalog tables).
    ``params`` mirrors the reference's ``CompileOptions.Parameters``
    (pql.go:25-30): identifiers substituted at compile time, bound here as
    typed literal values.

    :meth:`query` has one compile path: PQL to Spark SQL, one
    ``spark.sql`` call per output (~1 ms of Python compile where a
    DataFrame-API build pays one py4j round trip per Column op).  Each
    referenced table is a temp view under a collision-proof
    ``__pql_v<N>_<name>`` name for each call, then only the name is
    removed again; the caller's caches and same-named temp views are
    untouched.  Forms that need the data or a frame (a data-dependent
    output schema, ``scan``, ``return_unmatched``, csv/json
    ``externaldata``) run inside that compile over the same views; a
    frame they build is one more view.  A ``facet``/``fork`` query
    returns a :class:`MultiResult`.  Every error — a user error, or
    emitted SQL that fails Spark analysis — propagates from that one
    compile.  :func:`compile_pql` stays public: the DataFrame compiler
    on its own, with zero catalog side effects.
    """

    def __init__(
        self,
        spark: SparkSession,
        resolver: Resolver | Mapping[str, DataFrame] | None = None,
        params: Mapping[str, object] | None = None,
    ):
        self.spark = spark
        self._resolver = _as_resolver(spark, resolver)
        self._params = dict(params or {})

    def close(self) -> None:
        """Release nothing: the library persists nothing and keeps no
        cached state.  Queries leave no temp views behind, and the
        checkpoints some operators take belong to the frames they
        return (Spark's ContextCleaner frees those blocks once the
        frames are garbage-collected), so closing one engine never
        touches another engine's or the caller's cached data.  Kept for
        ``with PqlEngine(...)`` blocks and explicit callers; safe to
        call repeatedly."""

    def __enter__(self) -> "PqlEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def query(
        self, text: str, params: Mapping[str, object] | None = None
    ) -> DataFrame | MultiResult:
        """Parse + compile one PQL query; returns a lazy DataFrame, or a
        :class:`MultiResult` for a ``facet``/``fork`` query."""
        return self._query_via_sql(text, {**self._params, **(params or {})})

    def _query_via_sql(
        self, text: str, params: dict
    ) -> DataFrame | MultiResult:
        """PQL → SQL → ONE ``spark.sql`` call per output, over the
        tables' ``__pql_v<N>_<name>`` views and the emitter's frames'
        ``__pql_v<N>f<i>`` views, registered for each call only (never
        under a bare table name; see ``operators._util.sql_with_views``).
        A discovery or work statement has the same lifecycle."""
        from .operators._util import sql_with_views
        from .sql_backend import compile_to_sql

        uid = next(_VIEW_IDS)
        views: dict[str, DataFrame] = {}
        frame_ids = itertools.count()

        def view_name(name: str) -> str:
            v = f"__pql_v{uid}_{name}"
            if v not in views:
                views[v] = self._resolver(name)
            return v

        def view_of(build) -> str:
            v = f"__pql_v{uid}f{next(frame_ids)}"
            views[v] = build(self.spark)
            return v

        def run(sql: str) -> DataFrame:
            return sql_with_views(self.spark, sql, views)

        out = compile_to_sql(
            text, lambda name: self._resolver(name).schema, params,
            width=self.spark.sparkContext.defaultParallelism,
            view_name_of=view_name, view_of=view_of, frame_of=run,
        )
        if isinstance(out, MultiResult):
            return MultiResult((k, run(sql)) for k, sql in out.items())
        return run(out)

    def to_sql(
        self, text: str, params: Mapping[str, object] | None = None
    ) -> str:
        """Compile to a Spark SQL string (the reference's Compile API
        shape, pql.go:18-30); run it with ``spark.sql`` against the same
        tables registered as views.  A string holds no frame, so the
        forms that need one (a data-dependent schema, ``scan``,
        ``return_unmatched``, csv/json ``externaldata``) raise
        ``sql_backend.Unsupported`` here; :meth:`query` runs them."""
        from .sql_backend import compile_to_sql

        return compile_to_sql(
            text, lambda n: self._resolver(n).schema,
            {**self._params, **(params or {})},
            width=self.spark.sparkContext.defaultParallelism,
        )

    def to_sql_multi(
        self, text: str, params: Mapping[str, object] | None = None
    ) -> dict[str, str]:
        """Compile a multi-output (``facet``/``fork``) query to one
        Spark SQL string per output table; single-output queries come
        back as ``{"main": sql}``."""
        from .sql_backend import compile_to_sql_multi

        return compile_to_sql_multi(
            text, lambda n: self._resolver(n).schema,
            {**self._params, **(params or {})},
        )


def _as_resolver(
    spark: SparkSession,
    resolver: Resolver | Mapping[str, DataFrame] | None,
) -> Resolver:
    if resolver is None:
        return spark.table
    if callable(resolver):
        return resolver
    mapping = dict(resolver)

    def lookup(name: str) -> DataFrame:
        if name not in mapping:
            raise KeyError(name)
        return mapping[name]

    return lookup


def compile_pql(
    text: str,
    resolver: Resolver,
    params: Mapping[str, object] | None = None,
) -> DataFrame:
    """Compile PQL with the DataFrame compiler alone.
    :meth:`PqlEngine.query` never calls it; it is the reference the
    SQL path's equivalence tests compare against.  The ``evaluate``
    plugins and ``scan``, which the SQL emitter implements, run through
    it: each registers its input as one collision-proof temp view for
    its statements and drops it at once, so compiling leaves no catalog
    entries."""
    statements = parse(text)
    compiler = Compiler(
        source=text, resolver=resolver, params=dict(params or {})
    )
    return compiler.compile_statements(statements)
