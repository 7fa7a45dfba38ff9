"""PQL AST → PySpark DataFrame compiler.

This is where our design diverges from the reference on purpose: the
reference compiles PQL to a SQL *string* with WITH-CTE plumbing
(``splitQueries``, pql.go:129-267) because its execution engine is a
separate SQL database.  Ours compiles each pipeline operator directly to a
DataFrame transformation and lets Catalyst analyze/optimize/plan — the CTE
machinery disappears entirely, and predicate pushdown, column pruning,
join-strategy selection (broadcast vs sort-merge via AQE) and top-k
(``TakeOrderedAndProject``) come from the optimizer.

Semantics parity notes (file:line into /root/reference):
  - column naming rules: count → ``count()`` (pql.go:466); unnamed
    extend/summarize columns named by expression source text
    (pql.go:404-406, 424-426, 438-441); join duplicates → ``$right.<col>``
    (JoinInner golden output header).
  - join flavors inner/innerunique/leftouter only (parser.go:742-746);
    innerunique dedups the whole left relation (pql.go:201-214).
  - join equi-conditions emit raw ``==`` (no null-coalesce) when both
    sides are referenced, mirroring pql.go:673-691 — this is also what
    keeps Catalyst's equi-join detection working (a coalesce() wrapper
    would force a nested-loop join).
  - ``let`` bindings are scalar-only and resolved by substitution
    (pql.go:57-72, 604-610); compile-time ``params`` substitute
    identifiers (pql.go:25-30).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import functions as pf
from .ast_nodes import (
    BagUnpackOp,
    ToScalarExpr,
    SampleDistinctOp,
    ScanOp,
    ExternalDataSource,
    PartitionOp,
    BetweenExpr,
    AsOp,
    BinaryExpr,
    CallExpr,
    ColSpec,
    CountOp,
    DatatableSource,
    DistinctOp,
    Expr,
    ExtendOp,
    FacetOp,
    NarrowOp,
    ForkOp,
    GetSchemaOp,
    Ident,
    IndexExpr,
    InExpr,
    JoinOp,
    LetStatement,
    Ipv4LookupOp,
    LookupOp,
    RowsNearOp,
    SlidingWindowCountsOp,
    RollingPercentileOp,
    ActivityCountsMetricsOp,
    SessionCountOp,
    NewActivityMetricsOp,
    MakeGraphOp,
    GraphEdge,
    GraphMatchOp,
    ActiveUsersCountOp,
    ActivityEngagementOp,
    FunnelCompletionOp,
    FunnelSequenceOp,
    MakeSeriesOp,
    MvApplyOp,
    MvExpandOp,
    NumberLit,
    Op,
    ParseOp,
    ParseKvOp,
    PivotOp,
    ProjectAwayOp,
    ProjectKeepOp,
    ProjectOp,
    ProjectRenameOp,
    ProjectReorderOp,
    RangeSource,
    SampleOp,
    AutoclusterOp,
    DiffPatternsOp,
    DiffPatternsTextOp,
    InvokeOp,
    ConsumeOp,
    ReduceOp,
    SequenceDetectOp,
    SearchOp,
    SerializeOp,
    TopHittersOp,
    UnionOp,
    RenderOp,
    SortOp,
    SortTerm,
    TopNestedOp,
    Statement,
    StringLit,
    TimespanLit,
    DatetimeLit,
    SummarizeOp,
    TableRef,
    TabularExpr,
    TakeOp,
    TopOp,
    UnaryExpr,
    WhereOp,
)
from .lexer import Span
from .parser import ParseError, QueryError
from .sql_backend import MultiResult, externaldata_df

Resolver = Callable[[str], DataFrame]

_BUILTIN_IDENTS = {"true": True, "false": False}  # pql.go:557-561

# `evaluate` plugins and ``scan``, whose one implementation is the SQL
# emitter's (``Compiler._via_sql``)
_EMITTED_PLUGINS = (
    ScanOp, PivotOp, BagUnpackOp, SequenceDetectOp, AutoclusterOp,
    DiffPatternsOp, DiffPatternsTextOp, SlidingWindowCountsOp,
    ActivityCountsMetricsOp, NewActivityMetricsOp, FunnelSequenceOp,
    FunnelCompletionOp, ActiveUsersCountOp, ActivityEngagementOp,
    SessionCountOp, RollingPercentileOp,
)


def _expand_col_patterns(
    names: list[str], columns: list[str], what: str, span
) -> list[str]:
    """Expand ``tmp*``-style glob patterns against the current schema
    (KQL wildcard column specs).  Exact names must exist; a pattern
    matching nothing is silently empty."""
    import fnmatch

    out: list[str] = []
    missing: list[str] = []
    for n in names:
        if "*" in n:
            out.extend(
                c
                for c in columns
                if fnmatch.fnmatchcase(c, n) and c not in out
            )
        elif n not in columns:
            missing.append(n)
        elif n not in out:
            out.append(n)
    if missing:
        raise ParseError(f"{what}: unknown column(s) {missing}", span)
    return out


def _q(name: str) -> str:
    """Backtick-escape a column/alias name for F.col()."""
    return "`" + name.replace("`", "``") + "`"


def literal_lookup_prefixes(
    right: "TabularExpr", rname: str, v6: bool
) -> list[int] | None:
    """Distinct prefix lengths of a LITERAL-datatable ipv4/ipv6 lookup,
    computed at compile time with no Spark job — None when the lookup
    is not a bare string-literal datatable.  Mirrors the SQL prefix
    math (`/p` suffix via try_cast-or-default, v4-notation at bit
    offset 96 in v6 mode) and returns a SUPERSET of the engine-side
    valid set: prefixes of base-unparsable CIDRs are included (their
    fact-side keys join nothing), out-of-range prefixes are dropped
    (their lookup rows are filtered).  Shared by the DataFrame
    compiler and the SQL backend's Generate-shape emission."""
    import re

    from .ast_nodes import DatatableSource, StringLit

    if right.operators or not isinstance(
        right.source, DatatableSource
    ):
        return None
    schema = right.source.schema
    names = [n for n, _ in schema]
    if rname not in names:
        return None  # unknown column: let the engine path error
    idx, stride = names.index(rname), len(schema)
    out: set[int] = set()
    hi = 128 if v6 else 32
    for i in range(idx, len(right.source.values), stride):
        v = right.source.values[i]
        if not isinstance(v, StringLit):
            return None
        parts = v.value.split("/")
        suf: int | None = None
        if len(parts) > 1 and re.fullmatch(
            # try_cast semantics: trimmed signed digits only
            # (python int() also takes "8_0" etc — reject those,
            # they are NULL → default-prefix in the engine)
            r"[+-]?[0-9]+", parts[1].strip()
        ):
            suf = int(parts[1].strip())
            if not (-(2**63) <= suf < 2**63):
                # try_cast("long") overflows to NULL → engine falls
                # back to the default prefix; mirror that, else this
                # set is a strict subset and Generate paths miss rows
                suf = None
        # NO strip/lower here: _range_prefix6's is4 regex sees the
        # raw address text, and a mismatch must fall through to
        # the v6 branch exactly like the engine does
        if v6 and re.fullmatch(
            r"[0-9]{1,3}(\.[0-9]{1,3}){3}", parts[0]
        ):
            p = 96 + min(suf if suf is not None else 32, 32)
        else:
            p = suf if suf is not None else hi
        if 0 <= p <= hi:
            out.add(p)
    return sorted(out)


@dataclass
class _JoinEnv:
    """Scope inside a join's ON conditions: ``$left``/``$right``
    qualifiers plus bare-name resolution against either input."""

    left_alias: str
    right_alias: str
    left_cols: list[str]
    right_cols: list[str]

    def resolve(self, parts: list[str], span: Span) -> tuple[Column, str | None]:
        """Returns (column, side) where side ∈ {'left','right',None}."""
        if parts[0] == "$left":
            return F.col(f"{_q(self.left_alias)}.{_q('.'.join(parts[1:]))}"), "left"
        if parts[0] == "$right":
            return (
                F.col(f"{_q(self.right_alias)}.{_q('.'.join(parts[1:]))}"),
                "right",
            )
        name = ".".join(parts)
        if name in self.left_cols:
            return F.col(f"{_q(self.left_alias)}.{_q(name)}"), "left"
        if name in self.right_cols:
            return F.col(f"{_q(self.right_alias)}.{_q(name)}"), "right"
        raise ParseError(
            f"column {name!r} not found on either side of join", span
        )


@dataclass
class _Env:
    df: DataFrame | None
    join: _JoinEnv | None = None
    # let-function parameter bindings (innermost call inlining scope)
    locals: "dict[str, Column] | None" = None


@dataclass
class Compiler:
    source: str
    resolver: Resolver
    params: dict[str, object] = field(default_factory=dict)
    lets: dict[str, Expr] = field(default_factory=dict)
    let_funcs: dict = field(default_factory=dict)  # name -> FuncDef
    _inlining: set = field(default_factory=set)  # recursion guard
    bindings: dict[str, DataFrame] = field(default_factory=dict)
    _alias_counter: int = 0
    # window state for serialize/row_number/prev/next (per pipeline)
    _last_sort: list[SortTerm] | None = None
    _window: tuple[list[str], list[SortTerm]] | None = None
    # make-graph binding for graph-match: (edges_df, src, dst,
    # nodes_df | None, node_id | None)
    _graph: tuple | None = None
    # toscalar(...) memo: source span → evaluated value; repeated
    # references (e.g. a let bound to toscalar) trigger ONE Spark action
    _toscalar_cache: dict = field(default_factory=dict)

    # ------------------------------------------------------------ statements

    def compile_statements(self, statements: list[Statement]) -> DataFrame:
        tabular: TabularExpr | None = None
        for stmt in statements:
            if isinstance(stmt, LetStatement):
                if tabular is None:  # lets after the query are skipped
                    if stmt.func is not None:
                        # EXTENSION stored function: inlined at call sites
                        self.let_funcs[stmt.name] = stmt.func
                    elif stmt.tabular is not None:
                        # EXTENSION tabular let: bind the compiled
                        # DataFrame under the name (shadows the catalog,
                        # same scope as `as` bindings).  materialize()
                        # binds the same way, as on the SQL backend:
                        # nothing is cached
                        try:
                            self.bindings[stmt.name] = self.compile_tabular(
                                stmt.tabular
                            )
                        except ParseError as e:
                            raise QueryError(self.source, [e]) from None
                    else:
                        self.lets[stmt.name] = stmt.expr  # (pql.go:58-62)
            elif tabular is not None:
                raise QueryError(
                    self.source,
                    [ParseError("batch queries not supported", stmt.span)],
                )  # pql.go:48-55
            else:
                tabular = stmt
        if tabular is None:
            raise QueryError(
                self.source,
                [ParseError("expected a tabular expression", Span(0, 0))],
            )
        try:
            return self.compile_tabular(tabular, allow_multi=True)
        except ParseError as e:
            raise QueryError(self.source, [e]) from None

    def compile_tabular(
        self, expr: TabularExpr, allow_multi: bool = False
    ) -> DataFrame:
        saved = (self._last_sort, self._window, self._graph)
        self._last_sort, self._window, self._graph = None, None, None
        try:
            if isinstance(expr.source, DatatableSource):
                df = self._datatable(expr.source)
            elif isinstance(expr.source, ExternalDataSource):
                df = self._externaldata(expr.source)
            elif isinstance(expr.source, RangeSource):
                df = self._range_source(expr.source)
            else:
                df = self._resolve_table(expr.source.name, expr.source.span)
            for i, op in enumerate(expr.operators):
                if isinstance(op, (FacetOp, ForkOp)):
                    name = "facet" if isinstance(op, FacetOp) else "fork"
                    if not allow_multi:
                        raise ParseError(
                            f"{name} is only allowed at the top level of"
                            " the query (not in subqueries/join sides)",
                            op.span,
                        )
                    if i != len(expr.operators) - 1:
                        raise ParseError(
                            f"{name} must be the final operator", op.span
                        )
                    if isinstance(op, FacetOp):
                        return self._facet(df, op)
                    return self._fork(df, op)
                df = self._apply(df, op)
        finally:
            self._last_sort, self._window, self._graph = saved
        return df

    def _facet(self, df: DataFrame, op: FacetOp) -> "MultiResult":
        """``facet by``: one count-by table per faceted column — each a
        plain partial+final hash aggregate over the shared input plan —
        plus the ``with`` pipe's result as the ``main`` table."""
        out = MultiResult()
        if op.with_ops:
            cur = df
            for iop in op.with_ops:
                cur = self._apply(cur, iop)
            out["main"] = cur
        for ident in op.by:
            c = ident.parts[0]
            if c not in df.columns:
                raise ParseError(
                    f"facet by: unknown column {c!r}", ident.span
                )
            if c in out:
                raise ParseError(
                    f"facet by: duplicate output table {c!r}", ident.span
                )
            out[c] = df.groupBy(F.col(_q(c))).agg(
                F.count(F.lit(1)).alias("count_")
            )
        return out

    def _fork(self, df: DataFrame, op: ForkOp) -> "MultiResult":
        """``fork``: each branch's operator chain applied to the same
        input plan, one output table per branch."""
        out = MultiResult()
        for i, br in enumerate(op.branches):
            name = br.name or f"fork_{i}"
            if name in out:
                raise ParseError(
                    f"fork: duplicate branch name {name!r}", br.span
                )
            saved = (self._last_sort, self._window)
            self._last_sort, self._window = None, None
            try:
                cur = df
                for iop in br.ops:
                    cur = self._apply(cur, iop)
            finally:
                self._last_sort, self._window = saved
            out[name] = cur
        return out

    def _datatable(self, src: DatatableSource) -> DataFrame:
        """Inline literal table (``datatable``/``print``): rows built
        driver-side from literal expressions — inherently tiny, so a
        local relation (Catalyst folds it; broadcast-join fodder)."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ParseError(
                "datatable/print requires an active SparkSession", src.span
            )
        if not src.schema:  # print: one empty row to project over
            return spark.range(1).select()
        # emit a VALUES SQL literal and let Catalyst build a
        # LocalRelation: `createDataFrame(rows)` would round-trip
        # through a Python RDD (`applySchemaToPythonRDD`) — a real
        # distributed scan with Python-worker startup on every run —
        # while a LocalRelation constant-folds, prunes, and feeds
        # broadcast joins for free
        from .sql_backend import _SqlEmitter

        emitter = _SqlEmitter(self.source, lambda name: [], {})
        sql, _ = emitter.emit_datatable(src)
        return spark.sql(sql)

    def _externaldata(self, src: ExternalDataSource) -> DataFrame:
        """``externaldata``: a real distributed file scan with an
        explicit schema (no inference pass); format/options pass through
        to the Spark reader, so pushdown/pruning behave like any other
        ``spark.read`` source."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ParseError(
                "externaldata requires an active SparkSession", src.span
            )
        return externaldata_df(spark, src)

    def _range_source(self, src: RangeSource) -> DataFrame:
        """``range x from a to b step s`` → ``spark.range`` — a
        distributed sequence (parallelized over the cluster), not an
        in-memory array; bounds inclusive like KQL."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ParseError(
                "range requires an active SparkSession", src.span
            )
        start = self._const_int(src.start)
        stop = self._const_int(src.stop)
        step = self._const_int(src.step)
        if step == 0:
            raise ParseError("range step must be non-zero", src.step.span)
        end = stop + (1 if step > 0 else -1)
        return spark.range(start, end, step).select(
            F.col("id").alias(src.name)
        )

    def _py_literal(self, expr: Expr, ty: str) -> object:
        if isinstance(expr, NumberLit):
            v = float(expr.text) if expr.is_float else int(expr.text)
            return float(v) if ty in ("real", "double") else v
        if isinstance(expr, StringLit):
            if ty in ("datetime", "timestamp"):
                from datetime import datetime

                return datetime.fromisoformat(expr.value)
            return expr.value
        if isinstance(expr, UnaryExpr):
            v = self._py_literal(expr.operand, ty)
            return -v if expr.op == "-" else v  # type: ignore[operator]
        if isinstance(expr, Ident) and expr.simple and not expr.quoted[0]:
            name = expr.parts[0]
            if name in _BUILTIN_IDENTS:
                return _BUILTIN_IDENTS[name]
            if name == "null":
                return None
        raise ParseError(
            "datatable values must be literals", expr.span
        )

    def _resolve_table(self, name: str, span: Span) -> DataFrame:
        if name in self.bindings:  # `as` bindings shadow the catalog
            return self.bindings[name]
        try:
            return self.resolver(name)
        except Exception as e:  # noqa: BLE001 — surface as compile error
            raise ParseError(f"unknown table {name!r}: {e}", span) from None

    # ------------------------------------------------------------- operators

    def _apply(self, df: DataFrame, op: Op) -> DataFrame:
        env = _Env(df=df)
        if isinstance(op, CountOp):
            # stays a DataFrame (not .count()) so the pipe can continue;
            # output column literally named "count()" (pql.go:465-467)
            return df.agg(F.count(F.lit(1)).alias("count()"))
        if isinstance(op, WhereOp):
            return df.filter(self.compile_expr(op.predicate, env))
        if isinstance(op, SortOp):
            self._last_sort = op.terms
            return df.orderBy(*[self._sort_col(t, env) for t in op.terms])
        if isinstance(op, TakeOp):
            return df.limit(self._const_int(op.count))
        if isinstance(op, TopOp):
            # sort+limit desugar (pql.go:167-185); Catalyst plans
            # TakeOrderedAndProject — top-k without a total sort
            self._last_sort = [op.term]
            return df.orderBy(self._sort_col(op.term, env)).limit(
                self._const_int(op.count)
            )
        if isinstance(op, ProjectOp):
            return df.select(*self._compile_cols(op.cols, env))
        if isinstance(op, ExtendOp):
            # keeps all existing columns and appends; a column whose name
            # already exists is REPLACED in place (KQL extend semantics —
            # the reference's `SELECT *, expr AS name` relies on the
            # engine tolerating duplicate names, which Spark does not:
            # any later reference would be AMBIGUOUS_REFERENCE)
            existing = list(df.columns)
            items = {c: F.col(_q(c)) for c in existing}
            order = list(existing)
            for spec in op.cols:
                name = self._col_name(spec)
                items[name] = self.compile_expr(spec.expr, env).alias(name)
                if name not in order:
                    order.append(name)
            return df.select(*[items[c] for c in order])
        if isinstance(op, SummarizeOp):
            return self._summarize(df, op, env)
        if isinstance(op, JoinOp):
            return self._join(df, op)
        if isinstance(op, AsOp):
            self.bindings[op.name] = df
            return df
        if isinstance(op, RenderOp):
            cols = [F.lit(op.chart).alias("render_type")]
            for key, value in op.props:
                cols.append(
                    self.compile_expr(value, env).alias(f"render_prop_{key}")
                )
            return df.select("*", *cols)
        # ---- extension operators (rejected by the reference parser)
        if isinstance(op, DistinctOp):
            if not op.cols:  # distinct *
                return df.distinct()
            return df.select(*self._compile_cols(op.cols, env)).distinct()
        if isinstance(op, UnionOp):
            # bag union by column name; kind=outer (default) null-fills
            # missing columns, kind=inner keeps only the columns every
            # branch shares (KQL union kinds)
            ws = op.withsource
            if ws is not None:  # provenance column per branch
                df = df.withColumn(ws, F.lit(""))
            branches = []
            for other in op.others:
                if op.isfuzzy and isinstance(other.source, TableRef):
                    # isfuzzy forgives UNRESOLVED source tables only —
                    # errors inside a resolvable branch still raise
                    try:
                        self._resolve_table(
                            other.source.name, other.source.span
                        )
                    except ParseError:
                        continue
                branch = self.compile_tabular(other)
                if ws is not None:
                    name = (
                        other.source.name
                        if isinstance(other.source, TableRef)
                        else ""
                    )
                    branch = branch.withColumn(ws, F.lit(name))
                branches.append(branch)
            if op.kind == "inner":
                common = [
                    c
                    for c in df.columns
                    if all(c in b.columns for b in branches)
                ]
                if not common:
                    raise ParseError(
                        "union kind=inner: no common columns", op.span
                    )
                df = df.select(*[F.col(_q(c)) for c in common])
                branches = [
                    b.select(*[F.col(_q(c)) for c in common])
                    for b in branches
                ]
            for branch in branches:
                df = df.unionByName(branch, allowMissingColumns=True)
            return df
        if isinstance(op, ProjectAwayOp):
            drop = _expand_col_patterns(
                op.names, df.columns, "project-away", op.span
            )
            return df.drop(*drop)
        if isinstance(op, MvApplyOp):
            return self._mv_apply(df, op, env)
        if isinstance(op, TopNestedOp):
            return self._top_nested(df, op, env)
        if isinstance(op, MvExpandOp):
            out = self._mv_expand(df, op, env)
            # EXTENSION: `to typeof(T)` element casts (try_cast — bad
            # elements become NULL, KQL-style)
            if op.types and any(op.types):
                casts = {
                    self._col_name(c): ty
                    for c, ty in zip(op.cols, op.types)
                    if ty
                }
                out = out.select(
                    *[
                        F.col(_q(c)).try_cast(casts[c]).alias(c)
                        if c in casts
                        else F.col(_q(c))
                        for c in out.columns
                    ]
                )
            return out
        if isinstance(op, MakeSeriesOp):
            return self._make_series(df, op, env)
        return self._apply_tail(df, op, env)

    def _mv_expand(self, df: DataFrame, op: MvExpandOp, env: _Env):
        if True:
            idx = op.itemindex
            if idx is not None and idx in df.columns:
                raise ParseError(
                    f"mv-expand with_itemindex: column {idx!r} already"
                    " exists",
                    op.span,
                )
            if len(op.cols) > 1:
                return self._mv_expand_zip(df, op, env)
            # explode drops null/empty collections (KQL default);
            # with_itemindex → posexplode (0-based element position)
            from pyspark.sql import types as T

            name = self._col_name(op.col)
            expr = self.compile_expr(op.col.expr, env)
            dtype = df.select(expr.alias("__p")).schema[0].dataType
            if isinstance(dtype, T.MapType):
                # KQL bag semantics: one row per property, the cell is a
                # single-entry bag (explode(map) alone yields two
                # columns, which can't replace the source column)
                E = "__mv_entry"
                gen = (
                    F.explode(F.map_entries(expr)).alias(E)
                    if idx is None
                    else F.posexplode(F.map_entries(expr)).alias(idx, E)
                )
                mid = df.select("*", gen)
                single = F.create_map(
                    F.col(f"{E}.key"), F.col(f"{E}.value")
                )
                order = list(df.columns) + ([idx] if idx else [])
                if op.col.name is not None and op.col.name in df.columns:
                    return mid.select(
                        *[
                            single.alias(name) if c == name else F.col(_q(c))
                            for c in order
                        ]
                    )
                return mid.select(
                    *[F.col(_q(c)) for c in order],
                    single.alias(name),
                )
            if idx is not None:
                V = "__mv_val"
                mid = df.select(
                    "*", F.posexplode(expr).alias(idx, V)
                )
                if op.col.name is not None and op.col.name in df.columns:
                    order = list(df.columns) + [idx]
                    return mid.select(
                        *[
                            F.col(V).alias(name) if c == name
                            else F.col(_q(c))
                            for c in order
                        ]
                    )
                return mid.select(
                    *[F.col(_q(c)) for c in df.columns],
                    idx,
                    F.col(V).alias(name),
                )
            exploded = F.explode(expr)
            if op.col.name is not None and op.col.name in df.columns:
                # bare column form: replace in place, keep position
                return df.select(
                    *[
                        exploded.alias(name) if c == name else F.col(_q(c))
                        for c in df.columns
                    ]
                )
            return df.select("*", exploded.alias(name))

    def _apply_tail(self, df: DataFrame, op: Op, env: _Env) -> DataFrame:
        if isinstance(op, _EMITTED_PLUGINS):
            return self._via_sql(df, op)
        if isinstance(op, SampleDistinctOp):
            from .operators.sampling import _bucket

            col = op.col.parts[0]
            if col not in df.columns:
                raise ParseError(
                    f"sample-distinct: unknown column {col!r}", op.span
                )
            n = self._const_int(op.count)
            # distinct → md5-rank top-N (TakeOrdered over the tiny
            # distinct set) → broadcast semi-join back; deterministic on
            # any cluster, no full-table shuffle
            vals = (
                df.select(F.col(_q(col)))
                .distinct()
                .orderBy(_bucket(F.col(_q(col))), F.col(_q(col)))
                .limit(n)
            )
            return df.join(F.broadcast(vals), col, "left_semi")
        if isinstance(op, SampleOp):
            from .operators.sampling import _SPACE, _bucket

            key = op.key.parts[0]
            if key not in df.columns:
                raise ParseError(f"sample by: unknown column {key!r}", op.span)
            # deterministic md5-bucket membership — narrow, pushdown-able,
            # identical row set on any cluster/engine
            return df.filter(
                _bucket(F.col(_q(key))) < int(op.rate * _SPACE)
            )
        if isinstance(op, TopHittersOp):
            key = F.col(_q(op.col.parts[0]))
            measure = (
                F.sum(self.compile_expr(op.by, env))
                if op.by is not None
                else F.count(F.lit(1))
            )
            return (
                df.groupBy(key.alias(op.col.parts[0]))
                .agg(measure.alias("hitters"))
                .orderBy(
                    F.col("hitters").desc(),
                    F.col(_q(op.col.parts[0])).asc(),
                )
                .limit(self._const_int(op.count))
            )
        if isinstance(op, ProjectRenameOp):
            mapping = {}
            for new, old in op.renames:
                if old not in df.columns:
                    raise ParseError(
                        f"project-rename: unknown column {old!r}", op.span
                    )
                mapping[old] = new
            return df.select(
                *[
                    F.col(_q(c)).alias(mapping.get(c, c))
                    for c in df.columns
                ]
            )
        if isinstance(op, ProjectKeepOp):
            keep = set(
                _expand_col_patterns(
                    op.names, df.columns, "project-keep", op.span
                )
            )
            return df.select(
                *[F.col(_q(c)) for c in df.columns if c in keep]
            )
        if isinstance(op, ProjectReorderOp):
            missing = [n for n in op.names if n not in df.columns]
            if missing:
                raise ParseError(
                    f"project-reorder: unknown column(s) {missing}", op.span
                )
            first = list(op.names)
            rest = [c for c in df.columns if c not in set(first)]
            return df.select(*[F.col(_q(c)) for c in first + rest])
        if isinstance(op, InvokeOp):
            fd = self.let_funcs.get(op.name)
            if fd is None or fd.tab_body is None:
                raise ParseError(
                    f"invoke: {op.name!r} is not a tabular-bodied"
                    " let-function (declare its first parameter as"
                    " '(*)')",
                    op.span,
                )
            if op.name in self._inlining:
                raise ParseError(
                    f"recursive let-function {op.name!r} is not"
                    " supported",
                    op.span,
                )
            if len(op.args) != len(fd.params) - 1:
                raise ParseError(
                    f"invoke {op.name}() takes {len(fd.params) - 1}"
                    f" argument(s), got {len(op.args)}",
                    op.span,
                )
            tab_name = fd.params[0][0]
            saved_bind = self.bindings.get(tab_name)
            saved_lets: dict[str, Expr | None] = {}
            self.bindings[tab_name] = df
            for (pname, _ty), arg in zip(fd.params[1:], op.args):
                saved_lets[pname] = self.lets.get(pname)
                self.lets[pname] = arg  # textual substitution, like let
            self._inlining.add(op.name)
            try:
                return self.compile_tabular(fd.tab_body)
            finally:
                self._inlining.discard(op.name)
                if saved_bind is None:
                    self.bindings.pop(tab_name, None)
                else:
                    self.bindings[tab_name] = saved_bind
                for pname, prev in saved_lets.items():
                    if prev is None:
                        self.lets.pop(pname, None)
                    else:
                        self.lets[pname] = prev
        if isinstance(op, PartitionOp):
            return self._partition(df, op)
        if isinstance(op, GetSchemaOp):
            rows = [
                (f.name, i, f.dataType.simpleString())
                for i, f in enumerate(df.schema.fields)
            ]
            return df.sparkSession.createDataFrame(
                rows, "ColumnName string, ColumnOrdinal long, DataType string"
            )
        if isinstance(op, NarrowOp):
            from pyspark.sql import Window

            if self._last_sort is None:
                raise ParseError(
                    "evaluate narrow() requires a preceding sort — a"
                    " distributed engine has no inherent row order for"
                    " the Row index",
                    op.span,
                )
            order_cols = [
                self._sort_col(t, env) for t in self._last_sort
            ]
            # global row numbering = ONE task; narrow is a presentation
            # operator for small results (see NarrowOp docstring)
            numbered = df.withColumn(
                "Row",
                F.row_number().over(Window.orderBy(*order_cols))
                - F.lit(1),
            )
            pairs = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("Column"),
                            F.col(_q(c)).cast("string").alias("Value"),
                        )
                        for c in df.columns
                    ]
                )
            ).alias("__nw")
            return numbered.select(
                F.col("Row").cast("long").alias("Row"), pairs
            ).select("Row", "__nw.Column", "__nw.Value")
        if isinstance(op, MakeGraphOp):
            src, dst = op.src.parts[0], op.dst.parts[0]
            for name, ident in ((src, op.src), (dst, op.dst)):
                if name not in df.columns:
                    raise ParseError(
                        f"make-graph: unknown column {name!r}",
                        ident.span,
                    )
            nodes_df, node_id = None, None
            if op.nodes is not None:
                nodes_df = self.compile_tabular(op.nodes)
                node_id = op.node_id.parts[0]
                if node_id not in nodes_df.columns:
                    raise ParseError(
                        f"make-graph: node id column {node_id!r} not"
                        " in the nodes table",
                        op.node_id.span,
                    )
            self._graph = (df, src, dst, nodes_df, node_id)
            return df
        if isinstance(op, GraphMatchOp):
            return self._graph_match(op, env)
        if isinstance(op, RowsNearOp):
            from pyspark.sql import Window

            if self._window is None and self._last_sort is None:
                raise ParseError(
                    "rows_near requires a preceding 'sort' or"
                    " 'serialize' (context rows need a defined order)",
                    op.span,
                )
            part, terms = (
                self._window if self._window else ([], self._last_sort)
            )
            base = (
                Window.partitionBy(*[F.col(_q(p)) for p in part])
                if part
                else Window.partitionBy()
            )
            # keep row R iff any row matching cond lies in
            # [R-after, R+before] ⇔ R within NumRows before / after a
            # match — one bounded-frame boolean max, no self-join
            w = base.orderBy(
                *[self._sort_col(t, env) for t in terms]
            ).rowsBetween(-op.after, op.before)
            cond = F.coalesce(
                self.compile_expr(op.cond, env).cast("boolean"),
                F.lit(False),
            )
            keep = F.max(cond.cast("int")).over(w)
            marked = df.withColumn("__pql_rn_keep", keep)
            return marked.filter(F.col("__pql_rn_keep") == 1).drop(
                "__pql_rn_keep"
            )
        if isinstance(op, SerializeOp):
            if self._last_sort is None:
                raise ParseError(
                    "serialize requires a preceding sort (a distributed "
                    "engine has no inherent row order to serialize)",
                    op.span,
                )
            for ident in op.by:
                if ident.parts[0] not in df.columns:
                    raise ParseError(
                        f"serialize by: unknown column {ident.parts[0]!r}",
                        ident.span,
                    )
            self._window = ([i.parts[0] for i in op.by], self._last_sort)
            return df
        if isinstance(op, LookupOp):
            return self._lookup(df, op)
        if isinstance(op, Ipv4LookupOp):
            return self._ipv4_lookup(df, op)
        if isinstance(op, ParseOp):
            regex, names = pf.build_parse_regex(op.segments, op.kind)
            src = self.compile_expr(op.source_expr, env)
            if op.where_mode:
                # parse-where: non-matching rows are dropped (NULL
                # sources too — rlike is NULL there, filter removes)
                df = df.filter(src.rlike(regex))
            items = {c: F.col(_q(c)) for c in df.columns}
            order = list(df.columns)
            for gi, name in enumerate(names, start=1):
                items[name] = F.regexp_extract(src, regex, gi).alias(name)
                if name not in order:
                    order.append(name)
            return df.select(*[items[c] for c in order])
        if isinstance(op, ParseKvOp):
            src = self.compile_expr(op.source_expr, env)
            items = {c: F.col(_q(c)) for c in df.columns}
            order = list(df.columns)
            M = "__pkv_map"
            # str_to_map delimiters are regexes — escape the literals
            mapped = F.str_to_map(
                src,
                F.lit(pf.escape_regex(op.pair_delim)),
                F.lit(pf.escape_regex(op.kv_delim)),
            )
            mid = df.select("*", mapped.alias(M))
            for name, ty in zip(op.keys, op.types):
                val = F.element_at(F.col(M), F.lit(name))
                if ty is not None and ty != "string":
                    val = val.try_cast(ty)
                items[name] = val.alias(name)
                if name not in order:
                    order.append(name)
            return mid.select(*[items[c] for c in order])
        if isinstance(op, ConsumeOp):
            return df.limit(0)
        if isinstance(op, ReduceOp):
            # wildcard-collapse then a plain partial/final hash agg —
            # one shuffle on the (low-cardinality) pattern key
            val = self.compile_expr(op.expr, env).cast("string")
            pat = F.regexp_replace(
                F.regexp_replace(val, "[0-9A-Fa-f]{8,}", "*"),
                "[0-9]+", "*",
            )
            return (
                df.select(pat.alias("Pattern"), val.alias("__rv"))
                .groupBy("Pattern")
                .agg(
                    F.count(F.lit(1)).alias("Count"),
                    F.min("__rv").alias("Representative"),
                )
            )
        if isinstance(op, SearchOp):
            term = op.term.lower()
            pred = None
            for c in df.columns:
                hit = F.lower(F.col(_q(c)).cast("string")).contains(
                    F.lit(term)
                )
                pred = hit if pred is None else (pred | hit)
            return df.filter(F.coalesce(pred, F.lit(False)))
        raise ParseError(f"unsupported operator {type(op).__name__}", op.span)

    def _via_sql(self, df: DataFrame, op: Op) -> DataFrame:
        """Run one ``evaluate`` plugin or ``scan`` through the SQL
        emitter, its one implementation.  ``df`` becomes one
        collision-proof view (a table the plugin's expressions name,
        e.g. in a ``toscalar``, one more; a frame the emitter builds,
        such as scan's kernel output, one more); the emitter sees the
        compiler's params, lets, let-functions and last sort; the
        operator's statement — and a discovery or work statement before
        it, if it needs one — runs over those views, which are dropped
        right after each statement (``operators._util.sql_with_views``)."""
        from uuid import uuid4

        from .operators._util import sql_with_views
        from .sql_backend import _SqlEmitter, _lit

        spark = df.sparkSession
        uid = f"__pql_vc{uuid4().hex[:12]}"
        views: dict[str, DataFrame] = {uid: df}

        def table_view(name: str) -> str:
            views[f"{uid}_{name}"] = self._resolve_table(name, op.span)
            return f"{uid}_{name}"

        def frame_of(sql: str) -> DataFrame:
            return sql_with_views(spark, sql, views)

        def view_of(build) -> str:
            name = f"{uid}f{len(views)}"
            views[name] = build(spark)
            return name

        emitter = _SqlEmitter(
            self.source,
            lambda name: self._resolve_table(name, op.span).schema,
            self.params,
            width=spark.sparkContext.defaultParallelism,
            view_name_of=table_view,
            view_of=view_of,
            frame_of=frame_of,
        )
        emitter.let_funcs = dict(self.let_funcs)
        emitter.last_sort = self._last_sort
        for name, e in self.lets.items():
            if name in self.params:  # params shadow lets (_ident)
                continue
            if isinstance(e, ToScalarExpr):
                # the value this compiler memoised: one action per let
                self.compile_expr(e, _Env(df=None))
                emitter.scope[name] = _lit(
                    self._toscalar_cache[(e.span.start, e.span.end)]
                )
            else:
                emitter.scope[name] = emitter.expr(e)
        sql, _ = emitter.emit_op(op, f"SELECT * FROM {_q(uid)}", df.columns)
        return frame_of(sql)

    def _make_series(
        self, df: DataFrame, op: MakeSeriesOp, env: _Env
    ) -> DataFrame:
        """``make-series``: bin → grouped aggregate → per-key dense
        arrays.  Two shuffles (bin-level agg with map-side combine, then
        key-level assembly); series length is (to-from)/step regardless
        of input size, so the arrays are bounded by the query, not the
        data.  Empty bins fill with each series' default (null if
        omitted).  from/to/step must be constant expressions."""
        from .functions import _duration_usec

        on = F.col(_q(op.on.parts[0]))
        if isinstance(op.step, (StringLit, TimespanLit)):
            # timespan step → time axis
            usec = (
                op.step.microseconds
                if isinstance(op.step, TimespanLit)
                else _duration_usec(op.step.value, op.step.span)
            )
            fr_ts = self.compile_expr(op.start, env).cast("timestamp")
            to_ts = self.compile_expr(op.stop, env).cast("timestamp")
            fr_us = F.unix_micros(fr_ts)
            bin_i = F.floor((F.unix_micros(on) - fr_us) / usec).cast("long")
            nbins = F.ceil(
                (F.unix_micros(to_ts) - fr_us) / F.lit(usec)
            ).cast("int")

            def axis(j: Column) -> Column:
                return F.timestamp_micros(
                    (fr_us + j * F.lit(usec)).cast("long")
                )

            lo, hi = fr_ts, to_ts
        else:
            step = self.compile_expr(op.step, env)
            fr = self.compile_expr(op.start, env)
            to = self.compile_expr(op.stop, env)
            bin_i = F.floor((on - fr) / step).cast("long")
            nbins = F.ceil((to - fr) / step).cast("int")

            def axis(j: Column) -> Column:
                return fr + j * step

            lo, hi = fr, to

        filt = df.filter((on >= lo) & (on < hi))
        keys = self._compile_cols(op.keys, env)
        key_names = [self._col_name(c) for c in op.keys]
        aggs = [
            self.compile_expr(s.col.expr, env).alias(f"__v{i}")
            for i, s in enumerate(op.series)
        ]
        grouped = filt.groupBy(*keys, bin_i.alias("__bin")).agg(*aggs)
        maps = [
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__bin"), F.col(f"__v{i}")))
            ).alias(f"__m{i}")
            for i in range(len(op.series))
        ]
        if key_names:
            assembled = grouped.groupBy(
                *[F.col(_q(k)) for k in key_names]
            ).agg(*maps)
        else:
            assembled = grouped.agg(*maps)
        seq = F.sequence(F.lit(0), nbins.cast("long") - 1)

        def fill(m_name: str, default: Column):
            return lambda j: F.coalesce(
                F.element_at(F.col(m_name), j), default
            )

        out = [F.col(_q(k)) for k in key_names]
        for i, s in enumerate(op.series):
            default = (
                self.compile_expr(s.default, env)
                if s.default is not None
                else F.lit(None)
            )
            out.append(
                F.transform(seq, fill(f"__m{i}", default)).alias(
                    self._col_name(s.col)
                )
            )
        out.append(F.transform(seq, axis).alias(op.on.parts[0]))
        return assembled.select(*out)

    def _lookup(self, left: DataFrame, op: LookupOp) -> DataFrame:
        """Broadcast dimension join (KQL lookup): right side is small by
        contract, so it ships to every executor and the probe is a
        narrow map over the fact table — no shuffle of the left side at
        any scale.  Shared key columns appear once (from the left)."""
        right = self.compile_tabular(op.right)
        keys = [k.parts[0] for k in op.keys]
        for ident, k in zip(op.keys, keys):
            if k not in left.columns:
                raise ParseError(
                    f"lookup key {k!r} not found on left side", ident.span
                )
            if k not in right.columns:
                raise ParseError(
                    f"lookup key {k!r} not found in lookup table", ident.span
                )
        how = "left" if op.flavor == "leftouter" else "inner"
        n = self._alias_counter
        self._alias_counter += 1
        la, ra = f"__pql_l{n}", f"__pql_r{n}"
        cond = None
        for k in keys:
            eq = F.col(f"{_q(la)}.{_q(k)}") == F.col(f"{_q(ra)}.{_q(k)}")
            cond = eq if cond is None else (cond & eq)
        joined = left.alias(la).join(
            F.broadcast(right.alias(ra)), cond, how
        )
        left_set = set(left.columns)
        out = [F.col(f"{_q(la)}.{_q(c)}").alias(c) for c in left.columns]
        for c in right.columns:
            if c in keys:
                continue  # key appears once, from the left
            name = f"$right.{c}" if c in left_set else c
            out.append(F.col(f"{_q(ra)}.{_q(c)}").alias(name))
        return joined.select(*out)

    def _graph_match(self, op: GraphMatchOp, env: _Env) -> DataFrame:
        """``graph-match``: path patterns as hash equi-joins on node
        ids — never an iterative traversal.  Each edge var is one
        aliased copy of the edge relation with columns flat-named
        ``e.col``; node vars get ``n.id`` plus (left-)broadcast-joined
        node attributes; repeated node vars become extra
        equi-conditions (cycle constraints).  A bounded var-length
        edge ``-[e*1..k]->`` expands into a UNION of fixed-length
        chains (intermediate nodes and the edge var get synthetic,
        unreferenceable names).  At 100 TB each hop is a shuffled hash
        join on the node id — the same plan a distributed graph
        engine's pattern matcher lowers to."""
        from itertools import product

        if self._graph is None:
            raise ParseError(
                "graph-match requires a preceding 'make-graph'", op.span
            )
        ranges = [
            range(e.min_hops, e.max_hops + 1) for e in op.edges
        ]
        total = 1
        for r in ranges:
            total *= len(r)
        if total > 64:
            raise ParseError(
                "graph-match: pattern expands to more than 64"
                " fixed-length chains — tighten the hop ranges",
                op.span,
            )
        frames = []
        for combo in product(*ranges):
            nodes2: list[str] = [op.nodes[0]]
            edges2: list[GraphEdge] = []
            anon = 0
            for e, hops, right_node in zip(
                op.edges, combo, op.nodes[1:]
            ):
                varlen = e.min_hops != 1 or e.max_hops != 1
                for h in range(hops):
                    last = h == hops - 1
                    anon += 1
                    evar = (
                        f"__ge_{e.var}_{anon}" if varlen else e.var
                    )
                    nvar = right_node if last else f"__gn_{anon}"
                    edges2.append(
                        GraphEdge(
                            var=evar, reverse=e.reverse, span=e.span
                        )
                    )
                    nodes2.append(nvar)
            frames.append(
                self._graph_match_fixed(nodes2, edges2, op, env)
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _graph_match_fixed(
        self,
        pat_nodes: list[str],
        pat_edges: "list[GraphEdge]",
        op: GraphMatchOp,
        env: _Env,
    ) -> DataFrame:
        edges_df, src, dst, nodes_df, node_id = self._graph

        def edge_frame(var: str) -> DataFrame:
            return edges_df.select(
                *[
                    F.col(_q(c)).alias(f"{var}.{c}")
                    for c in edges_df.columns
                ]
            )

        seen: dict[str, str] = {}  # node var -> endpoint column name
        joined: DataFrame | None = None
        for i, e in enumerate(pat_edges):
            ef = edge_frame(e.var)
            left_ep = f"{e.var}.{dst if e.reverse else src}"
            right_ep = f"{e.var}.{src if e.reverse else dst}"
            if joined is None:
                joined = ef
            else:
                cond = None
                for var, ep in (
                    (pat_nodes[i], left_ep),
                    (pat_nodes[i + 1], right_ep),
                ):
                    if var in seen:
                        c = F.col(_q(seen[var])) == F.col(_q(ep))
                        cond = c if cond is None else (cond & c)
                if cond is None:  # unreachable for a linear pattern
                    raise ParseError(
                        "graph-match: pattern must be connected",
                        op.span,
                    )
                joined = joined.join(ef, cond, "inner")
            seen.setdefault(pat_nodes[i], left_ep)
            seen.setdefault(pat_nodes[i + 1], right_ep)
        # node id aliases + broadcast node attributes (synthetic
        # intermediate nodes of a var-length expansion get neither)
        seen = {
            v: ep for v, ep in seen.items()
            if not v.startswith("__gn_")
        }
        for var, ep in seen.items():
            if f"{var}.id" not in joined.columns:
                joined = joined.withColumn(f"{var}.id", F.col(_q(ep)))
            if nodes_df is not None:
                nf = nodes_df.select(
                    *[
                        F.col(_q(c)).alias(f"{var}.{c}")
                        for c in nodes_df.columns
                    ]
                )
                joined = joined.join(
                    F.broadcast(nf),
                    F.col(_q(ep))
                    == F.col(_q(f"{var}.{node_id}")),
                    "left",
                )
        env2 = _Env(df=joined)
        if op.where is not None:
            joined = joined.filter(
                self.compile_expr(op.where, env2)
            )
            env2 = _Env(df=joined)
        return joined.select(*self._compile_cols(op.project, env2))

    def _ipv4_lookup(self, left: DataFrame, op: Ipv4LookupOp) -> DataFrame:
        """``evaluate ipv4_lookup / ipv6_lookup(Lookup, IpCol, RangeCol
        [, return_unmatched])`` (KQL ipv4_lookup/ipv6_lookup plugins):
        CIDR-network membership join.

        Scale shape: the lookup table (threat-intel / geo CIDR lists)
        is BROADCAST; each fact row is expanded once per DISTINCT
        prefix length present in the lookup (≤ 33 for v4, ≤ 129 for
        v6, typically a handful) and matched with a hash equi-join on
        (prefix-length, masked ip) — no nested-loop range probe, no
        shuffle of the fact table.  Invalid CIDRs in the lookup and
        unparsable ips match nothing; rows matching several networks
        return one row per match.  The v6 key is the (hi, lo)
        two-BIGINT pair (``functions._ipv6_pair``) — addresses parse
        once per row, per-prefix keys are literal bitwise masks;
        mixed v4-notation ranges map at bit offset 96 like
        ``ipv6_is_in_range``.  Warm-plan compute is ~0.07 s for 1 M
        rows × 5 prefixes on local[32]; the measured per-query cost
        is dominated by fresh-plan codegen/broadcast overhead."""
        from .functions import (
            _ipv6_pair,
            _ipv6_pair_masked,
            _mask64,
            _range_prefix6,
            _slash_addr,
            ipv4_long,
            ipv4_masked,
        )
        from .operators._util import rebalance

        pname = "ipv6_lookup" if op.v6 else "ipv4_lookup"
        right = self.compile_tabular(op.right)
        ip_name = op.ip_col.parts[0]
        if ip_name not in left.columns:
            raise ParseError(
                f"{pname}: unknown source ip column {ip_name!r}",
                op.ip_col.span,
            )
        range_name = op.range_col.parts[0]
        if range_name not in right.columns:
            raise ParseError(
                f"{pname}: unknown ip-range column {range_name!r}"
                " in the lookup table",
                op.range_col.span,
            )
        P, RKEY, LKEY = "__pql_ip_pfx", "__pql_ip_rkey", "__pql_ip_lkey"
        LID = "__pql_ip_lid"
        if op.v6:
            rc = F.col(_q(range_name))
            base = _ipv6_pair(_slash_addr(rc))
            prefix = _range_prefix6(rc)
            # (hi, lo) two-BIGINT representation: addresses parse ONCE
            # per row to a pair of signed longs; each per-prefix key is
            # then two bitwise ANDs against literal masks — no
            # per-(row, prefix) substring/conv on the hex canon
            parse_ip, mask_ip = _ipv6_pair, _ipv6_pair_masked
        else:
            rng = F.split(F.col(_q(range_name)), "/")
            base = ipv4_long(F.try_element_at(rng, F.lit(1)))
            prefix = F.coalesce(
                F.try_element_at(rng, F.lit(2)).try_cast("long"),
                F.lit(32),
            )
            parse_ip, mask_ip = ipv4_long, ipv4_masked
        parsed = (
            right.withColumn(P, prefix)
            .withColumn(RKEY, mask_ip(base, F.col(P)))
            .filter(F.col(RKEY).isNotNull())
        )
        # the explode + broadcast join below run in the FACT side's
        # stage; with no shuffle anywhere, a single-file fact scan
        # would serialize all per-row key work onto its 1-2 input
        # splits — rebalance() is a no-op exactly when a real
        # multi-split dataset already provides the width
        src = rebalance(left)
        if op.return_unmatched:
            # stable row identity for the unmatched pass — lineage is
            # truncated so the matched and anti-join branches see the
            # SAME generated ids
            src = src.withColumn(
                LID, F.monotonically_increasing_id()
            ).localCheckpoint()
        # distinct prefix lengths live in 0..32 (v4) / 0..128 (v6) by
        # the validity filter — a BOUNDED driver collect (same
        # compile-time-action shape as pivot key discovery), which lets
        # the fact side build all its (prefix, masked-key) pairs in ONE
        # pass instead of once per (row × prefix) through a cross-join
        # (measured 2.6× at sf1).  For a literal-datatable lookup (the
        # typical threat-intel/geo list) the prefixes come straight
        # from the literals — no Spark job at all; a SUPERSET of the
        # valid prefixes is safe (extra fact-side keys join nothing),
        # so invalid CIDRs may contribute a phantom prefix harmlessly.
        pfx_vals = self._literal_prefixes(op)
        if pfx_vals is None:
            pfx_vals = sorted(
                r[0] for r in parsed.select(P).distinct().collect()
            )
        n = self._alias_counter
        self._alias_counter += 1
        la, ra = f"__pql_l{n}", f"__pql_r{n}"
        PAIR = "__pql_ip_pair"
        # The fact side's address parse is PROJECTED as a column below
        # the Generate (explode): generator expressions get no
        # common-subexpression elimination, so referencing the parse
        # inside the per-prefix key array would re-run it per struct
        # FIELD (~17 regex splits per (row × prefix) for v4 — the
        # dominant cost of the whole lookup at sf1).  Projects are not
        # collapsed into generators, and the rebalance Exchange keeps
        # upstream extends from being substituted back in, so the
        # parse runs exactly once per row in whole-stage codegen
        # (v4) / one interpreted HOF pass (the v6 canon).
        IPP = "__pql_ip_parsed"
        if pfx_vals:
            src = src.withColumn(IPP, parse_ip(F.col(_q(ip_name))))
        if op.v6 and pfx_vals:
            # compile-time prefixes → each key is TWO bitwise ANDs of
            # the (hi, lo) pair against literal masks; the old
            # hex-canon keys cost a substring + conv + pmod per
            # (row, prefix) instead
            def _static_pair_key(pr: Column, p: int) -> Column:
                mh = _mask64(min(int(p), 64))
                ml = _mask64(int(p) - 64)
                return F.struct(
                    pr.getField("h")
                    .bitwiseAND(F.lit(mh).cast("long"))
                    .alias("h"),
                    pr.getField("l")
                    .bitwiseAND(F.lit(ml).cast("long"))
                    .alias("l"),
                )

            pr = F.col(IPP)
            pairs = F.when(
                pr.isNotNull(),
                F.array(
                    *[
                        F.struct(
                            F.lit(int(p)).cast("long").alias("p"),
                            _static_pair_key(pr, int(p)).alias("k"),
                        )
                        for p in pfx_vals
                    ]
                ),
            )
        elif pfx_vals:
            # static-per-prefix keys for v4: the prefixes are
            # compile-time ints (all in 0..32 — out-of-range CIDRs were
            # filtered by the RKEY notNull gate), so each key is ONE
            # `shiftrightunsigned` with a literal bit count;
            # `v >>> (32-p)` on a uint32-as-long is equality-identical
            def _static_key4(ipl: Column, p: int) -> Column:
                if p >= 32:
                    return ipl
                return F.shiftrightunsigned(ipl, 32 - int(p))

            ipl4 = F.col(IPP)
            pairs = F.when(
                ipl4.isNotNull(),
                F.array(
                    *[
                        F.struct(
                            F.lit(int(p)).cast("long").alias("p"),
                            _static_key4(ipl4, int(p)).alias("k"),
                        )
                        for p in pfx_vals
                    ]
                ),
            )
        else:  # no valid CIDR in the lookup → nothing can match
            ktype = (
                "struct<h:bigint,l:bigint>" if op.v6 else "bigint"
            )
            pairs = F.array().cast(
                f"array<struct<p:bigint,k:{ktype}>>"
            )
        cand = (
            src.select("*", F.explode(pairs).alias(PAIR))
            .withColumn(P, F.col(f"{_q(PAIR)}.p"))
            .withColumn(LKEY, F.col(f"{_q(PAIR)}.k"))
            .drop(PAIR)
            .alias(la)
        )
        rt = parsed.alias(ra)
        cond = (
            F.col(f"{_q(la)}.{_q(P)}") == F.col(f"{_q(ra)}.{_q(P)}")
        ) & (F.col(f"{_q(la)}.{_q(LKEY)}") == F.col(f"{_q(ra)}.{_q(RKEY)}"))
        joined = cand.join(F.broadcast(rt), cond, "inner")
        left_set = set(left.columns)
        out = [F.col(f"{_q(la)}.{_q(c)}").alias(c) for c in left.columns]
        right_names: list[tuple[str, str]] = []  # (src col, out name)
        for c in right.columns:
            name = f"$right.{c}" if c in left_set else c
            out.append(F.col(f"{_q(ra)}.{_q(c)}").alias(name))
            right_names.append((c, name))
        if not op.return_unmatched:
            return joined.select(*out)
        matched = joined.select(F.col(f"{_q(la)}.{_q(LID)}"), *out)
        rtypes = {f.name: f.dataType for f in right.schema.fields}
        un = src.join(matched.select(LID).distinct(), LID, "left_anti")
        un_out = un.select(
            *[F.col(_q(c)).alias(c) for c in left.columns],
            *[
                F.lit(None).cast(rtypes[c]).alias(name)
                for c, name in right_names
            ],
        )
        return matched.drop(LID).unionByName(un_out)

    def _literal_prefixes(self, op: Ipv4LookupOp) -> list[int] | None:
        return literal_lookup_prefixes(
            op.right, op.range_col.parts[0], op.v6
        )

    def _compile_cols(self, cols: list[ColSpec], env: _Env) -> list[Column]:
        return [
            self.compile_expr(c.expr, env).alias(self._col_name(c)) for c in cols
        ]

    def _col_name(self, spec: ColSpec) -> str:
        if spec.name is not None:
            return spec.name
        # unnamed column is named by its expression source text
        # (pql.go:404-406, 424-426, 438-441)
        return spec.expr.span.text(self.source)

    def _sort_col(self, term: SortTerm, env: _Env) -> Column:
        c = self.compile_expr(term.expr, env)
        if term.asc:
            return c.asc_nulls_first() if term.nulls_first else c.asc_nulls_last()
        return c.desc_nulls_first() if term.nulls_first else c.desc_nulls_last()

    def _summarize(self, df: DataFrame, op: SummarizeOp, env: _Env) -> DataFrame:
        # group keys are projected first, then aggregates (pql.go:410-457)
        keys = self._compile_cols(op.keys, env)
        aggs = self._compile_cols(op.aggs, env)
        if op.shufflekey or op.num_partitions:
            # KQL hint.shufflekey / hint.num_partitions → explicit
            # repartition before the aggregate (skew control or reuse
            # of a downstream partitioning); without hints AQE chooses
            for c in op.shufflekey:
                if c not in df.columns:
                    raise ParseError(
                        f"hint.shufflekey: unknown column {c!r}",
                        op.span,
                    )
            pcols = [F.col(_q(c)) for c in op.shufflekey]
            if op.num_partitions and pcols:
                df = df.repartition(op.num_partitions, *pcols)
            elif pcols:
                df = df.repartition(*pcols)
            else:
                df = df.repartition(op.num_partitions)
        if not aggs:
            # `summarize by K` ⇒ distinct over the keys
            # (SummarizeBy golden: SELECT K ... GROUP BY K)
            return df.select(*keys).distinct()
        if not keys:
            return df.agg(*aggs)
        return df.groupBy(*keys).agg(*aggs)

    def _top_nested(self, df: DataFrame, op: TopNestedOp, env: _Env) -> DataFrame:
        """KQL top-nested: level i ranks Ki values by aggregate Ai within
        each surviving K1…K(i-1) combination.

        Scale plan: each level is ONE shuffled groupBy over the source
        (partial aggregation map-side), then a join against the previous
        level's survivors — which is at most prod(N1…N(i-1)) rows, so it
        is always broadcast.  Level 1's top-k is orderBy+limit
        (TakeOrderedAndProject); deeper levels use a rank window over the
        small joined frame.  Ties break by key ascending → deterministic."""
        from pyspark.sql import Window

        key_names: list[str] = []
        out_names: list[str] = []
        sel: DataFrame | None = None
        has_others = any(lvl.others is not None for lvl in op.levels)
        # with-others levels bucket NON-surviving keys into one label
        # row per parent, so the source rows must carry the (possibly
        # relabeled) key columns — a row-level frame `cur`; without
        # others the cheaper aggregate-only flow below is used
        cur = df

        def topk(grouped: DataFrame, lvl, kname, aname) -> DataFrame:
            order = [
                F.col(_q(aname)).asc()
                if lvl.asc
                else F.col(_q(aname)).desc(),
                F.col(_q(kname)).asc(),
            ]
            if lvl.count is None:
                return grouped
            n = self._const_int(lvl.count)
            if key_names:
                w = Window.partitionBy(
                    *[F.col(_q(p)) for p in key_names]
                ).orderBy(*order)
                return (
                    grouped.withColumn(
                        "__tn_rn", F.row_number().over(w)
                    )
                    .filter(F.col("__tn_rn") <= n)
                    .drop("__tn_rn")
                )
            return grouped.orderBy(*order).limit(n)

        for lvl in op.levels:
            kname = self._col_name(lvl.key)
            aname = self._col_name(lvl.agg)
            for name in (kname, aname):
                if name in out_names:
                    raise ParseError(
                        f"top-nested: duplicate output column {name!r} — "
                        "name the key/aggregate (Name = expr)",
                        lvl.span,
                    )
            acol = self.compile_expr(lvl.agg.expr, _Env(df=cur)).alias(
                aname
            )
            prev_keys = [F.col(_q(n)) for n in key_names]
            if not has_others:
                kcol = self.compile_expr(lvl.key.expr, env).alias(kname)
                grouped = df.groupBy(*prev_keys, kcol).agg(acol)
                if sel is not None:
                    grouped = grouped.join(
                        F.broadcast(sel), on=key_names, how="inner"
                    )
                sel = topk(grouped, lvl, kname, aname)
            else:
                # materialize this level's key on the row frame (extend
                # semantics: replace in place if the name exists)
                kcol = self.compile_expr(
                    lvl.key.expr, _Env(df=cur)
                ).alias(kname)
                if kname in cur.columns:
                    cur = cur.select(
                        *[
                            kcol if c == kname else F.col(_q(c))
                            for c in cur.columns
                        ]
                    )
                else:
                    cur = cur.select("*", kcol)
                grouped = cur.groupBy(
                    *prev_keys, F.col(_q(kname))
                ).agg(acol)
                if sel is not None:
                    grouped = grouped.join(
                        F.broadcast(sel), on=key_names, how="inner"
                    )
                survivors = topk(grouped, lvl, kname, aname)
                if lvl.others is None:
                    sel = survivors
                else:
                    # relabel non-surviving keys, then re-aggregate so
                    # the label row carries the aggregate of the rest;
                    # deeper levels nest inside the label bucket too
                    marks = F.broadcast(
                        survivors.select(
                            *[F.col(_q(n)) for n in key_names],
                            F.col(_q(kname)),
                        ).withColumn("__tn_m", F.lit(True))
                    )
                    cur = cur.join(
                        marks, on=[*key_names, kname], how="left"
                    )
                    cur = cur.withColumn(
                        kname,
                        F.when(
                            F.col("__tn_m"), F.col(_q(kname))
                        ).otherwise(F.lit(lvl.others)),
                    ).drop("__tn_m")
                    regrouped = cur.groupBy(
                        *prev_keys, F.col(_q(kname))
                    ).agg(
                        self.compile_expr(
                            lvl.agg.expr, _Env(df=cur)
                        ).alias(aname)
                    )
                    if sel is not None:
                        regrouped = regrouped.join(
                            F.broadcast(sel),
                            on=key_names,
                            how="inner",
                        )
                    sel = regrouped
            key_names.append(kname)
            out_names.extend((kname, aname))
        return sel.select(*[F.col(_q(n)) for n in out_names])

    def _partition(self, df: DataFrame, op: PartitionOp) -> DataFrame:
        """KQL ``partition by Col (…)`` with no per-partition iteration:
        the subtable-scoped operators become key-partitioned windows /
        key-prefixed groupBys — ONE shuffle on the partition key at
        most, skew handled by AQE like any keyed shuffle."""
        from pyspark.sql import Window

        pcol = op.col.parts[0]
        if pcol not in df.columns:
            raise ParseError(
                f"partition by: unknown column {pcol!r}", op.col.span
            )
        cur = df
        pend_sort: list[SortTerm] | None = None
        for iop in op.ops:
            ienv = _Env(df=cur)
            if isinstance(iop, (WhereOp, ExtendOp)):
                cur = self._apply(cur, iop)
            elif isinstance(iop, ProjectOp):
                cols = self._compile_cols(iop.cols, ienv)
                names = [self._col_name(s) for s in iop.cols]
                keep = [F.col(_q(pcol))] if pcol not in names else []
                cur = cur.select(*keep, *cols)
            elif isinstance(iop, SortOp):
                pend_sort = iop.terms
            elif isinstance(iop, (TakeOp, TopOp)):
                terms = (
                    [iop.term] if isinstance(iop, TopOp) else pend_sort
                )
                if not terms:
                    raise ParseError(
                        "partition: take needs a preceding sort"
                        " (or use top)",
                        iop.span,
                    )
                order_cols = [self._sort_col(t, ienv) for t in terms]
                w = Window.partitionBy(F.col(_q(pcol))).orderBy(*order_cols)
                cur = (
                    cur.withColumn("__pt_rn", F.row_number().over(w))
                    .filter(F.col("__pt_rn") <= self._const_int(iop.count))
                    .drop("__pt_rn")
                )
                pend_sort = None
            elif isinstance(iop, SummarizeOp):
                keys = self._compile_cols(iop.keys, ienv)
                aggs = self._compile_cols(iop.aggs, ienv)
                key_names = [self._col_name(s) for s in iop.keys]
                agg_names = [self._col_name(s) for s in iop.aggs]
                grouped = (
                    cur.groupBy(F.col(_q(pcol)), *keys).agg(*aggs)
                    if aggs
                    else cur.select(F.col(_q(pcol)), *keys).distinct()
                )
                cur = grouped.select(
                    F.col(_q(pcol)),
                    *[F.col(_q(c)) for c in key_names],
                    *[F.col(_q(c)) for c in agg_names],
                )
                pend_sort = None
            else:
                raise ParseError(
                    "partition: unsupported operator in subquery "
                    "(where/extend/project/sort/take/top/summarize)",
                    iop.span,
                )
        if pend_sort is not None:
            # a trailing sort (no take/top after it) has no per-partition
            # meaning in a distributed result — refuse rather than drop
            raise ParseError(
                "partition: sort is only supported when followed by"
                " take/top (per-partition order has no standalone"
                " result ordering)",
                pend_sort[0].expr.span,
            )
        return cur

    def _mv_expand_zip(
        self, df: DataFrame, op: MvExpandOp, env: _Env
    ) -> DataFrame:
        """Multi-column mv-expand: one explode over an index sequence,
        then ``try_element_at`` per array — zip-to-longest with null
        padding, exactly one pass, no cross product.  Rows whose arrays
        are all null/empty are dropped (KQL mv-expand default)."""
        from pyspark.sql import types as T

        IDX = "__mvx_idx"
        names = [self._col_name(c) for c in op.cols]
        arrs = [self.compile_expr(c.expr, env) for c in op.cols]
        # maps would silently turn the positional try_element_at into a
        # key lookup on integer keys — reject (single-column mv-expand
        # handles maps by exploding entries)
        probe = df.select(
            *[a.alias(f"__t{i}") for i, a in enumerate(arrs)]
        ).schema
        for fld, c in zip(probe.fields, op.cols):
            if not isinstance(fld.dataType, T.ArrayType):
                raise ParseError(
                    "mv-expand with multiple columns requires array"
                    f" values, got {fld.dataType.simpleString()}"
                    " (expand map columns one at a time)",
                    c.expr.span,
                )
        sizes = [F.size(a) for a in arrs]
        n = sizes[0] if len(sizes) == 1 else F.greatest(*sizes)
        # guard: sequence(0, -1) would count DOWN; null sequence → explode
        # drops the record instead
        expl = df.select(
            "*",
            F.explode(
                F.when(n > 0, F.sequence(F.lit(0), n - F.lit(1)))
            ).alias(IDX),
        )
        elems = {
            name: F.try_element_at(arr, F.col(IDX) + F.lit(1)).alias(name)
            for name, arr in zip(names, arrs)
        }
        order = list(df.columns)
        if op.itemindex is not None:
            order.append(op.itemindex)
            elems[op.itemindex] = F.col(IDX).alias(op.itemindex)
        for name in names:
            if name not in order:
                order.append(name)
        return expl.select(
            *[elems[c] if c in elems else F.col(_q(c)) for c in order]
        )

    def _mv_apply(self, df: DataFrame, op: MvApplyOp, env: _Env) -> DataFrame:
        """KQL mv-apply: expand array column(s) per record, run the inner
        operator chain on each record's subtable, union the results.

        Distributed plan: a synthetic record id + ONE explode over an
        index sequence; a per-record ``summarize`` becomes a groupBy on
        the id (record-constant columns carried with ``first``), and
        per-record ``sort``+``take``/``top`` become a rank window.  No
        driver-side iteration and no join-back — the single linear
        lineage keeps the nondeterministic id self-consistent."""
        from pyspark.sql import Window
        from pyspark.sql import types as T

        ROW, IDX = "__mv_row", "__mv_idx"
        names = [self._col_name(c) for c in op.cols]
        arrs = [self.compile_expr(c.expr, env) for c in op.cols]
        # maps would silently turn positional try_element_at into integer
        # key lookups — reject, same contract as multi-column mv-expand
        probe = df.select(
            *[a.alias(f"__t{i}") for i, a in enumerate(arrs)]
        ).schema
        for fld, c in zip(probe.fields, op.cols):
            if not isinstance(fld.dataType, T.ArrayType):
                raise ParseError(
                    "mv-apply requires array values, got"
                    f" {fld.dataType.simpleString()}",
                    c.expr.span,
                )
        # expand to the longest array (KQL zip semantics, null-padded);
        # null/empty collections drop the record (mv-expand default)
        sizes = [F.size(a) for a in arrs]
        n = sizes[0] if len(sizes) == 1 else F.greatest(*sizes)
        keyed = df.select(
            "*", F.monotonically_increasing_id().alias(ROW)
        )
        expl = keyed.select(
            "*",
            F.explode(
                F.when(n > 0, F.sequence(F.lit(0), n - F.lit(1)))
            ).alias(IDX),
        )
        elems = {
            name: F.try_element_at(arr, F.col(IDX) + F.lit(1)).alias(name)
            for name, arr in zip(names, arrs)
        }
        order = list(df.columns)
        for name in names:
            if name not in order:
                order.append(name)
        cur = expl.select(
            *[elems[c] if c in elems else F.col(_q(c)) for c in order],
            F.col(ROW),
            F.col(IDX),
        )
        # columns constant per record — what an inner summarize carries
        record_cols = [c for c in order if c not in names]
        pend_sort: list[SortTerm] | None = None
        for iop in op.ops:
            ienv = _Env(df=cur)
            if isinstance(iop, (WhereOp, ExtendOp)):
                cur = self._apply(cur, iop)
            elif isinstance(iop, ProjectOp):
                cols = self._compile_cols(iop.cols, ienv)
                cur = cur.select(*cols, F.col(ROW), *(
                    [F.col(IDX)] if IDX in cur.columns else []
                ))
            elif isinstance(iop, SortOp):
                pend_sort = iop.terms
            elif isinstance(iop, (TakeOp, TopOp)):
                terms = [iop.term] if isinstance(iop, TopOp) else pend_sort
                if terms:
                    order_cols = [self._sort_col(t, ienv) for t in terms]
                elif IDX in cur.columns:
                    order_cols = [F.col(IDX)]  # element order
                else:
                    raise ParseError(
                        "mv-apply: take after summarize needs a "
                        "preceding sort",
                        iop.span,
                    )
                w = Window.partitionBy(ROW).orderBy(*order_cols)
                cur = (
                    cur.withColumn("__mv_rn", F.row_number().over(w))
                    .filter(F.col("__mv_rn") <= self._const_int(iop.count))
                    .drop("__mv_rn")
                )
                pend_sort = None
            elif isinstance(iop, SummarizeOp):
                keys = self._compile_cols(iop.keys, ienv)
                aggs = self._compile_cols(iop.aggs, ienv)
                key_names = [self._col_name(s) for s in iop.keys]
                agg_names = [self._col_name(s) for s in iop.aggs]
                carried = [
                    c
                    for c in record_cols
                    if c in cur.columns
                    and c not in key_names
                    and c not in agg_names
                ]
                firsts = [
                    F.first(F.col(_q(c))).alias(c) for c in carried
                ]
                grouped = cur.groupBy(F.col(ROW), *keys).agg(
                    *firsts, *aggs
                ) if (firsts or aggs) else cur.select(
                    F.col(ROW), *keys
                ).distinct()
                # record columns first, then keys, then aggregates
                cur = grouped.select(
                    *[F.col(_q(c)) for c in carried],
                    *[F.col(_q(c)) for c in key_names],
                    *[F.col(_q(c)) for c in agg_names],
                    F.col(ROW),
                )
                record_cols = carried
                pend_sort = None
            else:
                raise ParseError(
                    "mv-apply: unsupported operator in subquery "
                    "(use where/extend/project/sort/take/top/summarize)",
                    iop.span,
                )
        if pend_sort is not None:
            # trailing per-record sort: make it observable by ordering
            # the union by (record, sort keys) — cheap, window-free
            cur = cur.orderBy(
                F.col(ROW), *[self._sort_col(t, _Env(df=cur)) for t in pend_sort]
            )
        return cur.drop(ROW, IDX)

    def _join(self, left: DataFrame, op: JoinOp) -> DataFrame:
        right = self.compile_tabular(op.right)
        if op.strategy is not None:
            # KQL hint.strategy → Spark join hint on the right side:
            # broadcast skips the shuffle entirely (small dims);
            # shuffle/shuffle_merge force hash/sort-merge when AQE's
            # stats-based choice would misfire (e.g. badly estimated
            # UDF-derived inputs).  Hints survive Catalyst verbatim.
            hint = {
                "broadcast": "broadcast",
                "shuffle": "shuffle_hash",
                "shuffle_merge": "merge",
            }[op.strategy]
            right = right.hint(hint)
        if op.flavor == "innerunique":
            # reference dedups the whole left relation — SELECT DISTINCT *
            # (pql.go:201-214); match the reference, not KQL
            left = left.distinct()
        # extension flavors beyond the reference's three (SURVEY §2.3):
        # semi/anti keep one side's columns only; right* swap which side
        # drives — all map 1:1 onto Spark join types, so Catalyst still
        # plans broadcast-hash/sort-merge equi-joins for every flavor.
        how = {
            "leftouter": "left",
            "rightouter": "right",
            "fullouter": "full",
            "leftsemi": "semi",
            "leftanti": "anti",
            "rightsemi": "semi",
            "rightanti": "anti",
        }.get(op.flavor, "inner")
        n = self._alias_counter
        self._alias_counter += 1
        la, ra = f"__pql_l{n}", f"__pql_r{n}"
        jenv = _Env(
            df=None,
            join=_JoinEnv(
                left_alias=la,
                right_alias=ra,
                left_cols=left.columns,
                right_cols=right.columns,
            ),
        )
        conds = [self._join_condition(c, jenv) for c in op.conditions]
        cond = conds[0] if conds else F.lit(True)  # empty ⇒ ON true
        for c in conds[1:]:
            cond = cond & c
        if op.flavor in ("rightsemi", "rightanti"):
            # right side drives: output is the right relation's columns
            return right.alias(ra).join(left.alias(la), cond, how)
        joined = left.alias(la).join(right.alias(ra), cond, how)
        if op.flavor in ("leftsemi", "leftanti"):
            return joined  # semi/anti already project left columns only
        # output keeps both sides; duplicate right-side columns renamed to
        # $right.<col> (JoinInner golden header: State,$right.State,…)
        left_set = set(left.columns)
        out = [F.col(f"{_q(la)}.{_q(c)}").alias(c) for c in left.columns]
        for c in right.columns:
            name = f"$right.{c}" if c in left_set else c
            out.append(F.col(f"{_q(ra)}.{_q(c)}").alias(name))
        return joined.select(*out)

    def _join_condition(self, cond: Expr, env: _Env) -> Column:
        # bare identifier K ⇒ $left.K == $right.K (pql.go:326-346);
        # raw == keeps Catalyst equi-join detection intact
        if isinstance(cond, Ident):
            lcol, _ = env.join.resolve(["$left", *cond.parts], cond.span)
            rcol, _ = env.join.resolve(["$right", *cond.parts], cond.span)
            return lcol == rcol
        return self.compile_expr(cond, env)

    # ----------------------------------------------------------- expressions

    def compile_expr(self, expr: Expr, env: _Env) -> Column:
        if isinstance(expr, NumberLit):
            return F.lit(float(expr.text) if expr.is_float else int(expr.text))
        if isinstance(expr, StringLit):
            return F.lit(expr.value)
        if isinstance(expr, TimespanLit):
            return pf.timespan_interval(expr.microseconds)
        if isinstance(expr, DatetimeLit):
            return F.lit(expr.value).cast("timestamp")
        if isinstance(expr, Ident):
            return self._ident(expr, env)
        if isinstance(expr, UnaryExpr):
            operand = self.compile_expr(expr.operand, env)
            return -operand if expr.op == "-" else operand
        if isinstance(expr, BinaryExpr):
            return self._binary(expr, env)
        if isinstance(expr, InExpr):
            lhs = self.compile_expr(expr.lhs, env)
            items = [self.compile_expr(i, env) for i in expr.items]
            # literal-list IN — not null-coalesced (pql.go:747-760);
            # compiles to Catalyst In, pushdown-able to parquet
            if expr.op == "in":
                return lhs.isin(*items)
            if expr.op in ("in~", "!in~"):
                hit = F.lower(lhs).isin(*[F.lower(i) for i in items])
                return ~hit if expr.op == "!in~" else hit
            if expr.op == "!in":
                return ~lhs.isin(*items)
            # has_any / has_all: whole-term match per listed term
            terms = [
                F.array_contains(
                    F.split(F.lower(lhs), r"[^a-zA-Z0-9]+"), F.lower(i)
                )
                for i in items
            ]
            out = terms[0]
            for t in terms[1:]:
                out = (out | t) if expr.op == "has_any" else (out & t)
            return out
        if isinstance(expr, BetweenExpr):
            lhs = self.compile_expr(expr.lhs, env)
            rng = (lhs >= self.compile_expr(expr.lo, env)) & (
                lhs <= self.compile_expr(expr.hi, env)
            )
            return ~rng if expr.negated else rng
        if isinstance(expr, ToScalarExpr):
            key = (expr.span.start, expr.span.end)
            if key in self._toscalar_cache:
                value = self._toscalar_cache[key]
            else:
                sub = self.compile_tabular(expr.tab)
                head = sub.head()
                value = head[0] if head is not None else None
                self._toscalar_cache[key] = value
            if value is not None and not isinstance(
                value, (int, float, str, bool, bytes)
            ):
                # timestamps/arrays: lit() handles datetime + lists
                try:
                    return F.lit(value)
                except Exception as e:  # noqa: BLE001
                    raise ParseError(
                        f"toscalar: unsupported scalar type"
                        f" {type(value).__name__}: {e}",
                        expr.span,
                    ) from None
            return F.lit(value)
        if isinstance(expr, IndexExpr):
            base = self.compile_expr(expr.base, env)
            index = self.compile_expr(expr.index, env)
            # works for maps and 1-based arrays, matching ClickHouse
            # (SURVEY §7.5.6); missing map key ⇒ NULL (Spark-idiomatic)
            return F.element_at(base, index)
        if isinstance(expr, CallExpr):
            if expr.func.lower() == "column_ifexists":
                # schema-aware: the column if it exists, else the
                # default — resolved at COMPILE time, so views written
                # against evolving schemas stay valid (KQL
                # column_ifexists)
                if len(expr.args) != 2:
                    raise ParseError(
                        "column_ifexists() takes 2 arguments", expr.span
                    )
                a0 = expr.args[0]
                if isinstance(a0, Ident) and len(a0.parts) == 1:
                    cname = a0.parts[0]
                elif isinstance(a0, StringLit):
                    cname = a0.value
                else:
                    raise ParseError(
                        "column_ifexists() first argument must be a"
                        " column name",
                        expr.span,
                    )
                if env.df is not None and cname in env.df.columns:
                    return F.col(_q(cname))
                return self.compile_expr(expr.args[1], env)
            if expr.func in self.let_funcs:
                if expr.func in self._inlining:
                    raise ParseError(
                        f"recursive let-function {expr.func!r}"
                        " is not supported",
                        expr.span,
                    )
                fd = self.let_funcs[expr.func]
                if len(expr.args) != len(fd.params):
                    raise ParseError(
                        f"{expr.func}() takes {len(fd.params)}"
                        f" argument(s), got {len(expr.args)}",
                        expr.span,
                    )
                from .parser import _DATATABLE_TYPES

                bound: dict[str, Column] = {}
                for (pname, ptype), arg in zip(fd.params, expr.args):
                    c = self.compile_expr(arg, env)
                    if ptype is not None:
                        c = c.cast(_DATATABLE_TYPES[ptype])
                    bound[pname] = c
                # inline the body with parameters bound — a pure
                # expression-tree substitution, fused into codegen
                self._inlining.add(expr.func)
                try:
                    return self.compile_expr(
                        fd.body,
                        _Env(df=env.df, join=env.join, locals=bound),
                    )
                finally:
                    self._inlining.discard(expr.func)
            if expr.func in (
                "row_number", "prev", "next",
                "row_cumsum", "row_rank_dense", "row_rank_min",
            ):
                return self._window_call(expr, env)
            if expr.func.lower() == "pack_all":
                # KQL pack_all(): a bag of every current column — needs
                # the schema, so handled here rather than functions.py;
                # values are cast to string to unify the map value type
                # (document: a string-valued bag).  The SQL emitter
                # mirrors this via its operator-level column context.
                if expr.args:
                    raise ParseError(
                        "pack_all() takes no arguments", expr.span
                    )
                if env.df is None:
                    raise ParseError(
                        "pack_all() needs a table context", expr.span
                    )
                pairs: list[Column] = []
                for c in env.df.columns:
                    pairs.append(F.lit(c))
                    pairs.append(F.col(_q(c)).cast("string"))
                return F.create_map(*pairs)
            args = [self.compile_expr(a, env) for a in expr.args]
            return pf.compile_call(
                expr.func, args, expr.span, ast_args=expr.args
            )
        raise ParseError(
            f"unsupported expression {type(expr).__name__}", expr.span
        )

    def _window_call(self, expr: CallExpr, env: _Env) -> Column:
        """``row_number()`` / ``prev(c[, n[, default]])`` /
        ``next(c[, n[, default]])`` over the serialize window.  A
        partitioned window (``serialize by K``) shuffles once on K; the
        unpartitioned form is a total order — correct but single-task,
        use ``by`` at scale."""
        from pyspark.sql import Window

        if self._window is None:
            raise ParseError(
                f"{expr.func}() requires a preceding 'serialize'",
                expr.span,
            )
        part, terms = self._window
        base = (
            Window.partitionBy(*[F.col(_q(p)) for p in part])
            if part
            else Window.partitionBy()
        )
        w = base.orderBy(*[self._sort_col(t, env) for t in terms])
        args = expr.args
        if expr.func == "row_number":
            if args:
                raise ParseError("row_number() takes no arguments", expr.span)
            # long, matching BIGINT row_number in ANSI engines
            return F.row_number().over(w).cast("long")
        if expr.func in ("row_rank_dense", "row_rank_min"):
            if len(args) != 1:
                raise ParseError(
                    f"{expr.func}() takes 1 argument", expr.span
                )
            # KQL ranks by the TERM's order, not the serialize order
            rw = base.orderBy(self.compile_expr(args[0], env))
            fn = F.dense_rank if expr.func == "row_rank_dense" else F.rank
            return fn().over(rw).cast("long")
        if expr.func == "row_cumsum":
            if len(args) != 1:
                raise ParseError("row_cumsum() takes 1 argument", expr.span)
            frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            return F.sum(self.compile_expr(args[0], env)).over(frame)
        if not 1 <= len(args) <= 3:
            raise ParseError(
                f"{expr.func}() takes 1..3 arguments, got {len(args)}",
                expr.span,
            )
        col = self.compile_expr(args[0], env)
        n = self._const_int(args[1]) if len(args) >= 2 else 1
        fn = F.lag if expr.func == "prev" else F.lead
        out = fn(col, n).over(w)
        if len(args) == 3:
            out = F.coalesce(out, self.compile_expr(args[2], env))
        return out

    def _binary(self, expr: BinaryExpr, env: _Env) -> Column:
        op = expr.op
        in_join = env.join is not None
        if op in ("==", "!=") and in_join:
            # inside join ON: drop the coalesce wrapper when the comparison
            # references both sides (pql.go:673-691) so Spark sees a plain
            # equi-join key
            sides = set()
            self._collect_sides(expr, env, sides)
            if {"left", "right"} <= sides:
                lhs = self.compile_expr(expr.lhs, env)
                rhs = self.compile_expr(expr.rhs, env)
                return lhs == rhs if op == "==" else lhs != rhs
        lhs = self.compile_expr(expr.lhs, env)
        rhs = self.compile_expr(expr.rhs, env)
        if op == "==":
            return pf.null_safe_eq(lhs, rhs)
        if op == "!=":
            return pf.null_safe_ne(lhs, rhs)
        if op == "=~":
            return pf.ci_eq(lhs, rhs)
        if op == "!~":
            return pf.ci_ne(lhs, rhs)
        if op == "<":
            return lhs < rhs
        if op == "<=":
            return lhs <= rhs
        if op == ">":
            return lhs > rhs
        if op == ">=":
            return lhs >= rhs
        if op == "+":
            return lhs + rhs
        if op == "-":
            return lhs - rhs
        if op == "*":
            return lhs * rhs
        if op == "/":
            # NULL on zero divisor (matches DuckDB and non-ANSI engines;
            # ClickHouse throws — engine-deferred semantics, our call)
            return F.try_divide(lhs, rhs)
        if op == "%":
            return F.try_mod(lhs, rhs)
        if op == "and":
            return lhs & rhs
        if op == "or":
            return lhs | rhs
        # KQL string predicates (extension): *_cs = case-sensitive; the
        # bare forms fold case like KQL.  `has` is whole-term match over
        # alphanumeric runs (KQL term semantics, deterministic in SQL)
        if op == "matches regex":
            # KQL `matches regex` — case-sensitive Java-regex match
            return F.regexp_like(lhs, rhs)

        def string_pred(base: str) -> Column:
            l, r = lhs, rhs
            if not base.endswith("_cs"):  # bare forms fold case (KQL)
                l, r = F.lower(l), F.lower(r)
            root = base.removesuffix("_cs")
            if root == "contains":
                return l.contains(r)
            if root == "startswith":
                return l.startswith(r)
            if root == "endswith":
                return l.endswith(r)
            # `has` is whole-term match over alphanumeric runs (KQL
            # term semantics, deterministic in SQL)
            return F.array_contains(F.split(l, r"[^a-zA-Z0-9]+"), r)

        base = op.lstrip("!")
        if base in (
            "contains", "contains_cs", "startswith", "startswith_cs",
            "endswith", "endswith_cs", "has", "has_cs",
        ):
            pos = string_pred(base)
            # negated forms are NOT(positive) — like the positive forms
            # (and unlike ==/!=) these are not null-coalesced, so NULL
            # text yields NULL
            return ~pos if op.startswith("!") else pos
        raise ParseError(f"unsupported operator {op!r}", expr.span)

    def _collect_sides(self, expr: Expr, env: _Env, out: set[str]) -> None:
        if isinstance(expr, Ident):
            try:
                _, side = env.join.resolve(expr.parts, expr.span)
            except ParseError:
                side = None
            if side:
                out.add(side)
            return
        for child in getattr(expr, "__dict__", {}).values():
            if isinstance(child, Expr):
                self._collect_sides(child, env, out)
            elif isinstance(child, list):
                for item in child:
                    if isinstance(item, Expr):
                        self._collect_sides(item, env, out)

    def _ident(self, expr: Ident, env: _Env) -> Column:
        if expr.simple and not expr.quoted[0]:
            name = expr.parts[0]
            # scope resolution order mirrors pql.go:604-610: function
            # parameters (innermost), then params, lets, builtins, columns
            if env.locals is not None and name in env.locals:
                return env.locals[name]
            if name in self.params:
                return F.lit(self.params[name])
            if name in self.lets:
                return self.compile_expr(self.lets[name], env)
            if name in _BUILTIN_IDENTS:
                return F.lit(_BUILTIN_IDENTS[name])
            if name == "null":
                return F.lit(None)
        if env.join is not None:
            col, _ = env.join.resolve(expr.parts, expr.span)
            return col
        name = expr.name
        if env.df is not None and name in env.df.columns:
            try:
                return env.df[name]
            except Exception:  # noqa: BLE001
                # a LITERAL dotted column name (`$right.x`, graph-match
                # `a.id`): df[name] parses dots as struct nesting —
                # fall back to the backtick-quoted exact name
                return F.col(_q(name))
        # fall through: dotted struct-field path or late-bound column —
        # Catalyst resolves (or errors) at analysis time, matching the
        # reference's engine-deferred identifier resolution
        return F.col(".".join(_q(p) for p in expr.parts))

    # -------------------------------------------------------------- helpers

    def _const_int(self, expr: Expr) -> int:
        """Evaluate a take/top row count to a Python int (integer literal,
        let-binding, or parameter; parser.go:419-435)."""
        if isinstance(expr, NumberLit) and not expr.is_float:
            return int(expr.text)
        if isinstance(expr, UnaryExpr):
            v = self._const_int(expr.operand)
            return -v if expr.op == "-" else v
        if isinstance(expr, Ident) and expr.simple and not expr.quoted[0]:
            name = expr.parts[0]
            if name in self.params:
                return int(self.params[name])  # type: ignore[arg-type]
            if name in self.lets:
                return self._const_int(self.lets[name])
        raise ParseError(
            "row count must evaluate to an integer constant", expr.span
        )
