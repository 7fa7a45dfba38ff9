"""Public API: compile and run PQL on Spark.

Mirrors the reference's two entry points (``pql.Compile`` / ``parser.Parse``,
pql.go:18-30) with a Spark-native result: ``PqlEngine.query(text)`` returns
a lazy DataFrame — Catalyst plans it, nothing executes until an action.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from .compiler import Compiler, MultiResult, Resolver
from .parser import QueryError, parse
from .sql_backend import Unsupported

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

    :meth:`query` compiles to one Spark SQL string and submits it with a
    single ``spark.sql`` call: ~1 ms of Python compile where the
    DataFrame compiler pays one py4j round trip per Column op.  Each
    referenced table is registered as a temp view under a
    collision-proof ``__pql_v<N>_<name>`` name for that one call, then
    only the name is removed again; the caller's caches and same-named
    temp views are untouched.

    A data-dependent output schema (schema-less ``evaluate pivot``/
    ``bag_unpack``, ``diffpatterns``/``autocluster`` without a column
    list) is discovered inside the one compile: the emitter runs one
    discovery statement over the same transient views, then emits the
    final statement with the discovered columns.

    Only the SQL backend decides when a query needs the DataFrame
    compiler: when it raises its refusal (``sql_backend.Unsupported`` —
    ``scan``, multi-output ``facet``/``fork``, ``ipv*_lookup
    return_unmatched``, ``mv-expand``/``mv-apply`` over a known map),
    :meth:`query` compiles once more with :func:`compile_pql` and counts
    it on :attr:`sql_fallbacks`.
    Every other error — a user error, or emitted SQL that fails Spark
    analysis — propagates from the one SQL compile.  :func:`compile_pql`
    stays public: the DataFrame compiler on its own, with zero catalog
    side effects.
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
        #: number of queries the SQL backend refused and
        #: :func:`compile_pql` built instead
        self.sql_fallbacks = 0

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
    ) -> DataFrame:
        """Parse + compile one PQL query; returns a lazy DataFrame."""
        merged = dict(self._params)
        if params:
            merged.update(params)
        try:
            return self._query_via_sql(text, merged)
        except QueryError as e:
            if not any(isinstance(x, Unsupported) for x in e.errors):
                raise
            self.sql_fallbacks += 1
            return compile_pql(text, self._resolver, merged)

    def _query_via_sql(self, text: str, params: dict) -> DataFrame:
        """The batched compile path: PQL → one SQL string → ONE
        ``spark.sql`` call.  Each referenced table is registered as a
        temp view under a fresh ``__pql_v<N>_<name>`` name (never the
        bare table name — a user's own temp view of that name survives
        untouched) for that one call only; see
        ``operators._util.sql_with_views``.  A schema-discovery statement
        runs over the views named so far with the same lifecycle."""
        from .compiler import externaldata_df
        from .operators._util import sql_with_views
        from .sql_backend import compile_to_sql

        uid = next(_VIEW_IDS)
        views: dict[str, DataFrame] = {}

        def view_name(name: str) -> str:
            v = f"__pql_v{uid}_{name}"
            if v not in views:
                views[v] = self._resolver(name)
            return v

        # option-bearing externaldata (csv/json): the reader-backed
        # DataFrame (declared schema + options) rides along as one more
        # view, named ``__pql_v<N>ed<i>`` so no table view's name can
        # equal it
        ext_ids = itertools.count()

        def ext_view(src) -> str:
            v = f"__pql_v{uid}ed{next(ext_ids)}"
            views[v] = externaldata_df(self.spark, src)
            return v

        sql = compile_to_sql(
            text, lambda name: self._resolver(name).schema, params,
            width=self.spark.sparkContext.defaultParallelism,
            view_name_of=view_name,
            externaldata_view_of=ext_view,
            frame_of=lambda q: sql_with_views(self.spark, q, views),
        )
        return sql_with_views(self.spark, sql, views)

    def to_sql(
        self, text: str, params: Mapping[str, object] | None = None
    ) -> str:
        """Compile to a Spark SQL string (the reference's Compile API
        shape, pql.go:18-30); run it with ``spark.sql`` against the same
        tables registered as views.  A string cannot discover a
        data-dependent schema, so schema-less ``pivot``/``bag_unpack``
        and ``diffpatterns``/``autocluster`` without columns raise
        ``sql_backend.Unsupported`` here; :meth:`query` runs them."""
        from .sql_backend import compile_to_sql

        merged = dict(self._params)
        if params:
            merged.update(params)
        return compile_to_sql(
            text, lambda n: self._resolver(n).schema, merged,
            width=self.spark.sparkContext.defaultParallelism,
        )

    def to_sql_multi(
        self, text: str, params: Mapping[str, object] | None = None
    ) -> dict[str, str]:
        """Compile a multi-output (``facet``/``fork``) query to one
        Spark SQL string per output table; single-output queries come
        back as ``{"main": sql}``."""
        from .sql_backend import compile_to_sql_multi

        merged = dict(self._params)
        if params:
            merged.update(params)
        return compile_to_sql_multi(
            text, lambda n: self._resolver(n).schema, merged
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
    """Compile PQL with the DataFrame compiler alone (the path
    :meth:`PqlEngine.query` takes on a refusal).  The ``evaluate``
    plugins the SQL emitter implements run through it: each registers
    its input as one collision-proof temp view for its statements and
    drops it at once, so compiling leaves no catalog entries."""
    statements = parse(text)
    compiler = Compiler(
        source=text, resolver=resolver, params=dict(params or {})
    )
    return compiler.compile_statements(statements)
