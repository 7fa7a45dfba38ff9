"""PQL → Spark SQL text backend.

The reference's public API is ``Compile(pql) -> SQL string``
(pql.go:18-30); this module is that API for the Spark dialect, so a user
of the reference can keep their compile-to-SQL workflow:
``spark.sql(compile_to_sql(text, columns))``.

Unlike the reference we do NOT need its subquery-splitting machinery
(splitQueries/canAttachSort, pql.go:129-304): each operator simply wraps
the previous stage in a subselect and Catalyst's CollapseProject /
EliminateSubqueryAliases flattens the nesting — the optimizer does the
fusion the reference does with string surgery.

Semantics match the DataFrame compiler exactly (same null-safe ``==``,
naming rules, join duplicate renaming); ``tests/test_sql_backend.py``
asserts result equality between both backends on the driver queries and
the golden corpus.

Schema knowledge: SQL text can't introspect, so the caller provides
per-table column lists (needed to expand ``*`` at joins and rename
right-side duplicates to ``$right.<col>``, JoinInner golden).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from .ast_nodes import (
    FacetOp,
    NarrowOp,
    ForkOp,
    BagUnpackOp,
    ToScalarExpr,
    SampleDistinctOp,
    ScanOp,
    ExternalDataSource,
    BetweenExpr,
    PartitionOp,
    AsOp,
    BinaryExpr,
    CallExpr,
    ColSpec,
    CountOp,
    DatatableSource,
    DistinctOp,
    Expr,
    ExtendOp,
    GetSchemaOp,
    Ident,
    InExpr,
    IndexExpr,
    InvokeOp,
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
    ConsumeOp,
    ReduceOp,
    SequenceDetectOp,
    SearchOp,
    SerializeOp,
    TopHittersOp,
    TopNestedOp,
    UnionOp,
    RenderOp,
    SortOp,
    SortTerm,
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
from .functions import (
    _DT_PARTS,
    _DURATION_UNITS,
    _duration_usec,
    KQL_RENAMES,
    build_parse_regex,
    escape_regex,
)

# text twins of functions._SERIES_BINOPS / _SERIES_UNOPS
_SQL_SERIES_BINOPS = {
    "series_add": lambda x, y: f"({x} + {y})",
    "series_subtract": lambda x, y: f"({x} - {y})",
    "series_multiply": lambda x, y: f"({x} * {y})",
    "series_divide": lambda x, y: f"try_divide({x}, {y})",
    "series_pow": lambda x, y: f"power({x}, {y})",
    "series_greater": lambda x, y: f"({x} > {y})",
    "series_greater_equals": lambda x, y: f"({x} >= {y})",
    "series_less": lambda x, y: f"({x} < {y})",
    "series_less_equals": lambda x, y: f"({x} <= {y})",
    "series_equals": lambda x, y: f"({x} = {y})",
    "series_not_equals": lambda x, y: f"({x} <> {y})",
}
_SQL_SERIES_UNOPS = {
    "series_abs": "abs",
    "series_exp": "exp",
    "series_log": "ln",
    "series_sign": "signum",
    "series_sqrt": "sqrt",
    "series_floor": "floor",
    "series_ceiling": "ceil",
}
from .lexer import Span
from .parser import ParseError, QueryError, parse

__all__ = ["compile_to_sql"]

ColumnsOf = Callable[[str], Sequence[str]]

# binary-op precedence for minimal parenthesization (parser.go:991-1007)
_PREC = {
    "or": 0, "and": 1,
    "==": 2, "!=": 2, "=~": 2, "!~": 2,
    "<": 2, "<=": 2, ">": 2, ">=": 2,
    "contains": 2, "contains_cs": 2,
    "!contains": 2, "!contains_cs": 2,
    "startswith": 2, "startswith_cs": 2,
    "!startswith": 2, "!startswith_cs": 2,
    "endswith": 2, "endswith_cs": 2,
    "!endswith": 2, "!endswith_cs": 2,
    "has": 2, "has_cs": 2, "!has": 2, "!has_cs": 2,
    "matches regex": 2,
    "+": 3, "-": 3,
    "*": 4, "/": 4, "%": 4,
}

# KQL string predicates → SQL function templates (l, r pre-lowered for
# the case-insensitive bare forms)
_STRING_PRED_SQL = {
    "contains": "contains({l}, {r})",
    "startswith": "startswith({l}, {r})",
    "endswith": "endswith({l}, {r})",
    "has": "array_contains(split({l}, '[^a-zA-Z0-9]+'), {r})",
}


def _q(name: str) -> str:
    """Backtick-quote one identifier segment (Spark dialect)."""
    return "`" + name.replace("`", "``") + "`"


def _qs(s: str) -> str:
    """Single-quote a string literal with backslash escaping."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lit(value: object) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, str):
        return _qs(value)
    raise TypeError(f"cannot bind parameter of type {type(value).__name__}")


# ------------------------------------------------------ IP SQL helpers
# Text twins of functions._ipv6_family — same 32-nibble lowercase-hex
# algebra and let-binding shape.  Shared by the scalar ip function
# family and emit_ipv4_lookup's ipv6_lookup branch.


def _sql_ip_long(c: str) -> str:
    octs = [
        f"TRY_CAST(try_element_at(split({c}, '\\\\.'),"
        f" {i + 1}) AS BIGINT)"
        for i in range(4)
    ]
    valid = f"size(split({c}, '\\\\.')) = 4" + "".join(
        f" AND {o} BETWEEN 0 AND 255" for o in octs
    )
    val = (
        f"((({octs[0]} * 256 + {octs[1]}) * 256 +"
        f" {octs[2]}) * 256 + {octs[3]})"
    )
    return f"(CASE WHEN {valid} THEN {val} END)"


def _sql_let(val: str, var: str, body: str) -> str:
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def _sql_hex32(sx: str) -> str:
    s = "__i6s"
    v4re = "'^[0-9]{1,3}(\\\\.[0-9]{1,3}){3}$'"
    v4hex = (
        "concat('00000000000000000000ffff',"
        f" lpad(lower(hex({_sql_ip_long(s)})), 8, '0'))"
    )
    tv = "__i6tv"
    folded = _sql_let(
        _sql_ip_long(f"substring_index({s}, ':', -1)"),
        tv,
        f"concat(regexp_replace({s}, '[^:]*$', ''),"
        f" lpad(lower(hex(CAST({tv} / 65536 AS BIGINT))),"
        " 4, '0'), ':',"
        f" lpad(lower(hex(pmod({tv}, 65536))), 4, '0'))",
    )
    s1 = (
        f"(CASE WHEN instr({s}, '.') > 0 THEN {folded}"
        f" ELSE {s} END)"
    )
    x, t, lr, g = "__i6x", "__i6t", "__i6lr", "__i6g"

    # empty SIDE of '::' → zero groups; empty group INSIDE
    # a side must stay and fail the per-group regex
    def sidearr(sx2: str) -> str:
        return (
            f"(CASE WHEN {sx2} = '' THEN"
            " CAST(array() AS ARRAY<STRING>)"
            f" ELSE split({sx2}, ':', -1) END)"
        )

    left = sidearr(f"element_at({t}, 1)")
    right = sidearr(f"coalesce(try_element_at({t}, 2), '')")
    mid = f"(8 - size({lr}.l) - size({lr}.r))"
    groups = (
        f"(CASE WHEN size({t}) = 2 AND {mid} >= 1 THEN"
        f" concat({lr}.l, array_repeat('0',"
        f" CAST({mid} AS INT)), {lr}.r)"
        f" WHEN size({t}) != 2 THEN split({x}, ':', -1)"
        " END)"
    )
    ok = (
        f"(size({g}) = 8 AND forall({g},"
        + " __e -> __e rlike '^[0-9a-f]{1,4}$'))"
    )
    hx = f"array_join(transform({g}, __e -> lpad(__e, 4, '0')), '')"
    v6 = _sql_let(
        f"split({x}, '::', -1)",
        t,
        _sql_let(
            f"named_struct('l', {left}, 'r', {right})",
            lr,
            _sql_let(groups, g, f"(CASE WHEN {ok} THEN {hx} END)"),
        ),
    )
    body = (
        f"(CASE WHEN rlike({s}, {v4re}) THEN {v4hex}"
        f" WHEN NOT rlike({s}, {v4re}) THEN"
        f" {_sql_let(s1, x, v6)} END)"
    )
    return _sql_let(f"lower(trim({sx}))", s, body)


def _sql_mask6(hx: str, prefix: str) -> str:
    m, i = "__i6m", "__i6i"
    kept = f"greatest(least({m}.p - 4 * {i}, 4), 0)"
    scale = f"power(2.0D, CAST(4 - {kept} AS DOUBLE))"
    nib = (
        "lower(conv(CAST(CAST(floor("
        f"conv(substring({m}.h, {i} + 1, 1), 16, 10)"
        f" / {scale}) * {scale} AS INT) AS STRING),"
        " 10, 16))"
    )
    body = (
        f"(CASE WHEN {m}.p BETWEEN 0 AND 128"
        f" AND {m}.h IS NOT NULL THEN"
        f" array_join(transform(sequence(0, 31),"
        f" {i} -> {nib}), '') END)"
    )
    return _sql_let(f"named_struct('h', {hx}, 'p', {prefix})", m, body)


def _sql_ipv6_pair(canon: str) -> str:
    """Text twin of functions._ipv6_pair: (h, l) signed-BIGINT halves
    of a 32-nibble canon (``conv(.., 16, -10)`` keeps the exact bit
    pattern).  Callers pass a pre-computed canon COLUMN on the fact
    side so the parse runs once per row."""
    return (
        f"(CASE WHEN {canon} IS NOT NULL THEN named_struct("
        f"'h', CAST(conv(substring({canon}, 1, 16), 16, -10)"
        " AS BIGINT),"
        f" 'l', CAST(conv(substring({canon}, 17, 16), 16, -10)"
        " AS BIGINT)) END)"
    )


def _sql_pair_masked(pair: str, prefix: str) -> str:
    """Prefix-masked (h, l) pair under a runtime prefix — the
    ipv6_lookup join key (text twin of functions._ipv6_pair_masked):
    two bitwise ANDs against shiftleft masks, no per-prefix string
    work.  ``pair`` must be a cheap expression (a column reference on
    the fact side; the lookup side is tiny)."""

    def half(field: str, kept: str) -> str:
        return (
            f"({pair}).{field} & (CASE WHEN ({kept}) <= 0 THEN 0L"
            f" WHEN ({kept}) >= 64 THEN -1L"
            f" ELSE shiftleft(-1L, CAST(64 - ({kept}) AS INT)) END)"
        )

    return (
        f"(CASE WHEN ({prefix}) BETWEEN 0 AND 128"
        f" AND ({pair}) IS NOT NULL THEN named_struct("
        f"'h', {half('h', f'least({prefix}, 64)')},"
        f" 'l', {half('l', f'({prefix}) - 64')}) END)"
    )


def _sql_colons(hx: str) -> str:
    h = "__i6h"
    parts = ", ".join(
        f"substring({h}, {g * 4 + 1}, 4)" for g in range(8)
    )
    return _sql_let(
        hx,
        h,
        f"(CASE WHEN {h} IS NOT NULL THEN"
        f" concat_ws(':', {parts}) END)",
    )


def _sql_slash_addr(c: str) -> str:
    return f"element_at(split({c}, '/', -1), 1)"


def _sql_slash_prefix(c: str, d: int) -> str:
    return (
        f"coalesce(TRY_CAST(try_element_at(split({c}, '/',"
        f" -1), 2) AS BIGINT), {d})"
    )


def _sql_range_prefix6(c: str) -> str:
    # v4-notation ranges apply the prefix to the v4 part of
    # the ::ffff-mapped form (bit offset 96), default /32
    suf = (
        f"TRY_CAST(try_element_at(split({c}, '/', -1), 2)"
        " AS BIGINT)"
    )
    v4re = "'^[0-9]{1,3}(\\\\.[0-9]{1,3}){3}$'"
    return (
        f"(CASE WHEN rlike({_sql_slash_addr(c)}, {v4re}) THEN"
        f" 96 + least(coalesce({suf}, 32), 32)"
        f" ELSE coalesce({suf}, 128) END)"
    )


class _SqlEmitter:
    def __init__(
        self,
        source_text: str,
        columns_of: ColumnsOf,
        params: Mapping[str, object],
        width: int | None = None,
        view_name_of: ColumnsOf | None = None,
        externaldata_view_of=None,
    ):
        self.text = source_text
        self.columns_of = columns_of
        # optional logical-name → catalog-view-name mapping: lets the
        # engine register tables under collision-proof temp-view names
        # instead of clobbering same-named user views (identity when
        # None — to_sql() callers expect the real table names)
        self.view_name_of = view_name_of or (lambda n: n)
        # optional ExternalDataSource → temp-view-name callback: the
        # engine uses it to serve option-bearing formats (csv/json)
        # through a transient view it registers around the one
        # spark.sql call; None (bare to_sql) keeps the honest raise —
        # a standalone SQL string cannot carry reader options
        self.externaldata_view_of = externaldata_view_of
        # cluster width for pinned REPARTITION(n) hints (an argless
        # REPARTITION/REBALANCE shuffle is AQE-coalescible, which
        # un-parallelizes expensive parse stages on small byte sizes);
        # None → best-effort argless hint
        self.width = width
        self.scope: dict[str, str] = {k: _lit(v) for k, v in params.items()}
        self.bound: dict[str, tuple[str, list[str]]] = {}  # `as` bindings
        # AST of tabular-let bindings — lets emit_ipv4_lookup see a
        # let-bound literal datatable for its compile-time prefix set
        self.bound_ast: dict[str, object] = {}
        self.let_funcs: dict = {}  # name -> FuncDef (inlined at calls)
        self._inlining: set = set()  # recursion guard
        self.join_sides: tuple[list[str], list[str]] | None = None
        # window state for serialize/row_number/prev/next
        self.last_sort: list[SortTerm] | None = None
        self.window: tuple[list[str], list[SortTerm]] | None = None
        # make-graph binding for graph-match (pipeline-scoped, like
        # last_sort): (edges_sql, edge_cols, src, dst, nodes_sql,
        # nodes_cols, node_id)
        self._graph: tuple | None = None
        # flat dotted column names (`e.cost`, `a.id`) live while
        # emitting graph-match where/project — ident() must resolve
        # them as ONE quoted identifier, not a struct-field path
        self._flat_cols: frozenset[str] | None = None

    # ------------------------------------------------------------ pipeline

    def emit_query(self, expr: TabularExpr) -> tuple[str, list[str]]:
        saved = (self.last_sort, self.window, self._graph)
        self.last_sort, self.window, self._graph = None, None, None
        try:
            if isinstance(expr.source, DatatableSource):
                sql, cols = self.emit_datatable(expr.source)
            elif isinstance(expr.source, ExternalDataSource):
                sql, cols = self.emit_externaldata(expr.source)
            elif isinstance(expr.source, RangeSource):
                src = expr.source
                if (
                    isinstance(src.step, NumberLit)
                    and float(src.step.text) == 0
                ):
                    raise ParseError(
                        "range step must be non-zero", src.step.span
                    )
                step = self.expr(src.step)
                # bounds inclusive (KQL); Spark's range() TVF end is
                # exclusive — widen by one step-sign
                sql = (
                    f"SELECT id AS {_q(src.name)} FROM range("
                    f"{self.expr(src.start)}, {self.expr(src.stop)}"
                    f" + (CASE WHEN ({step}) > 0 THEN 1 ELSE -1 END),"
                    f" {step})"
                )
                cols = [src.name]
            else:
                name = expr.source.name
                if name in self.bound:
                    sql, cols = self.bound[name]
                else:
                    try:
                        cols = list(self.columns_of(name))
                    except ParseError:
                        raise
                    except Exception as e:  # resolver miss → same
                        # QueryError as the DataFrame compiler
                        # (compiler.py:518), not a raw KeyError
                        raise ParseError(
                            f"unknown table {name!r}: {e}", expr.span
                        ) from None
                    sql = f"SELECT * FROM {_q(self.view_name_of(name))}"
            for op in expr.operators:
                sql, cols = self.emit_op(op, sql, cols)
        finally:
            self.last_sort, self.window, self._graph = saved
        return sql, cols

    def emit_externaldata(
        self, src: ExternalDataSource
    ) -> tuple[str, list[str]]:
        """``externaldata`` as a Spark SQL inline path scan
        (``SELECT … FROM parquet.`uri```), one UNION ALL branch per
        uri.  Only the self-describing formats (parquet, orc) have
        inline scan syntax; csv/json need reader options, which Spark
        SQL only accepts through ``CREATE … USING`` DDL — those stay
        DataFrame-backend-only with an explicit error.  The declared
        schema becomes a CAST projection, mirroring the DataFrame
        backend's user-schema column pruning."""
        from .parser import _DATATABLE_TYPES

        opts = dict(src.options)
        fmt = opts.pop("format", "csv").lower()
        if fmt not in ("parquet", "orc") or opts:
            if self.externaldata_view_of is not None:
                # engine path: the reader-backed DataFrame (declared
                # schema + options) is registered as a transient view
                # around the one spark.sql call, so csv/json scan with
                # full option support on the SQL backend too
                view = self.externaldata_view_of(src)
                names = [n for n, _ in src.schema]
                proj = ", ".join(_q(n) for n in names)
                return f"SELECT {proj} FROM {_q(view)}", names
            raise ParseError(
                "externaldata as a standalone SQL string supports only"
                " the self-describing path-scan formats (parquet, orc)"
                " with no reader options — Spark SQL has no inline"
                " OPTIONS syntax (csv/json need CREATE ... USING DDL)."
                " PqlEngine(backend='sql'|'auto').query() handles"
                " csv/json by registering a transient reader-backed"
                " temp view; plain to_sql() cannot",
                src.span,
            )
        names = [n for n, _ in src.schema]
        proj = ", ".join(
            f"CAST({_q(n)} AS {_DATATABLE_TYPES[t]}) AS {_q(n)}"
            for n, t in src.schema
        )
        scans = [
            f"SELECT {proj} FROM {fmt}.`{uri.replace('`', '``')}`"
            for uri in src.uris
        ]
        return " UNION ALL ".join(scans), names

    def emit_datatable(
        self, src: DatatableSource
    ) -> tuple[str, list[str]]:
        from .parser import _DATATABLE_TYPES

        if not src.schema:  # print: one empty row
            return "SELECT 1 AS __print_row", []
        names = [n for n, _ in src.schema]
        types = [_DATATABLE_TYPES[t] for _, t in src.schema]
        ncols = len(names)
        if not src.values:
            items = ", ".join(
                f"CAST(NULL AS {t}) AS {_q(n)}"
                for n, t in zip(names, types)
            )
            return f"SELECT {items} WHERE FALSE", names
        rows = []
        for r in range(0, len(src.values), ncols):
            cells = [
                f"CAST({self.expr(v)} AS {types[i]})"
                for i, v in enumerate(src.values[r : r + ncols])
            ]
            rows.append("(" + ", ".join(cells) + ")")
        alias = ", ".join(_q(n) for n in names)
        return (
            f"SELECT * FROM (VALUES {', '.join(rows)})"
            f" AS __dt({alias})",
            names,
        )

    def emit_op(
        self, op, sql: str, cols: list[str]
    ) -> tuple[str, list[str]]:
        inner = f"({sql})"
        self._cur_cols = cols  # for schema-aware fns (column_ifexists)
        if isinstance(op, WhereOp):
            pred = self.expr(op.predicate)
            return f"SELECT * FROM {inner} WHERE {pred}", cols
        if isinstance(op, CountOp):
            return f"SELECT count(1) AS {_q('count()')} FROM {inner}", [
                "count()"
            ]
        if isinstance(op, SortOp):
            self.last_sort = op.terms
            terms = ", ".join(self.sort_term(t) for t in op.terms)
            return f"SELECT * FROM {inner} ORDER BY {terms}", cols
        if isinstance(op, TakeOp):
            return f"SELECT * FROM {inner} LIMIT {self._limit(op.count)}", cols
        if isinstance(op, TopOp):
            self.last_sort = [op.term]
            return (
                f"SELECT * FROM {inner} ORDER BY {self.sort_term(op.term)}"
                f" LIMIT {self._limit(op.count)}",
                cols,
            )
        if isinstance(op, ProjectOp):
            items, names = [], []
            for c in op.cols:
                name, item = self.col_spec(c)
                items.append(item)
                names.append(name)
            return f"SELECT {', '.join(items)} FROM {inner}", names
        if isinstance(op, ExtendOp):
            out = list(cols)
            items = [_q(c) for c in cols]
            for c in op.cols:
                name, item = self.col_spec(c)
                if name in out:  # in-place replacement (withColumn rule)
                    items[out.index(name)] = item
                else:
                    out.append(name)
                    items.append(item)
            return f"SELECT {', '.join(items)} FROM {inner}", out
        if isinstance(op, SummarizeOp):
            keys, aggs, names = [], [], []
            for c in op.keys:
                name, item = self.col_spec(c)
                keys.append((name, item))
                names.append(name)
            for c in op.aggs:
                name, item = self.col_spec(c)
                aggs.append(item)
                names.append(name)
            key_items = [item for _, item in keys]
            if not aggs:  # `summarize by K` ⇒ distinct keys
                return (
                    f"SELECT DISTINCT {', '.join(key_items)} FROM {inner}",
                    names,
                )
            select = ", ".join(key_items + aggs)
            group = ""
            if keys:
                group = " GROUP BY " + ", ".join(
                    _q(name) for name, _ in keys
                )
            if op.shufflekey or op.num_partitions:
                # KQL hint.shufflekey/num_partitions → Spark
                # REPARTITION hint on the aggregate's INPUT (wrapped in
                # a subquery so the hint binds below the Aggregate,
                # matching the DataFrame backend's pre-agg repartition)
                parts = [str(op.num_partitions)] if op.num_partitions else []
                parts += [_q(c) for c in op.shufflekey]
                inner = (
                    f"(SELECT /*+ REPARTITION({', '.join(parts)}) */ *"
                    f" FROM {inner})"
                )
            return f"SELECT {select} FROM {inner}{group}", names
        if isinstance(op, JoinOp):
            return self.emit_join(op, sql, cols)
        if isinstance(op, AsOp):
            self.bound[op.name] = (sql, list(cols))
            return sql, cols
        if isinstance(op, DistinctOp):
            if not op.cols:
                return f"SELECT DISTINCT * FROM {inner}", cols
            items, names = [], []
            for c in op.cols:
                name, item = self.col_spec(c)
                items.append(item)
                names.append(name)
            return f"SELECT DISTINCT {', '.join(items)} FROM {inner}", names
        if isinstance(op, UnionOp):
            branches = [(sql, cols, "")]
            for other in op.others:
                if (
                    op.isfuzzy
                    and isinstance(other.source, TableRef)
                    and other.source.name not in self.bound
                ):
                    # isfuzzy forgives UNRESOLVED source tables only
                    try:
                        self.columns_of(other.source.name)
                    except Exception:  # noqa: BLE001 — any lookup miss
                        continue
                bsql, bc = self.emit_query(other)
                name = (
                    other.source.name
                    if isinstance(other.source, TableRef)
                    else ""
                )
                branches.append((bsql, bc, name))
            # column order matches the DataFrame backend: left columns,
            # then the provenance column, then branch-only columns
            # (kind=inner instead keeps only columns every branch has)
            if op.kind == "inner":
                merged = [
                    c
                    for c in cols
                    if all(c in bc for _, bc, _n in branches[1:])
                ]
                if op.withsource is not None:
                    merged.append(op.withsource)
                if not merged:
                    raise ParseError(
                        "union kind=inner: no common columns", op.span
                    )
            else:
                merged = list(cols)
                if (
                    op.withsource is not None
                    and op.withsource not in merged
                ):
                    merged.append(op.withsource)
                for _, bc, _n in branches[1:]:
                    for c in bc:
                        if c not in merged:
                            merged.append(c)
            selects = []
            for bsql, bc, name in branches:
                items = []
                for c in merged:
                    if op.withsource is not None and c == op.withsource:
                        items.append(f"{_qs(name)} AS {_q(c)}")
                    elif c in bc:
                        items.append(f"{_q(c)} AS {_q(c)}")
                    else:
                        items.append(f"NULL AS {_q(c)}")
                selects.append(f"SELECT {', '.join(items)} FROM ({bsql})")
            return " UNION ALL ".join(selects), merged
        if isinstance(op, ProjectAwayOp):
            from .compiler import _expand_col_patterns

            drop = set(
                _expand_col_patterns(
                    op.names, cols, "project-away", op.span
                )
            )
            keep = [c for c in cols if c not in drop]
            items = ", ".join(_q(c) for c in keep)
            return f"SELECT {items} FROM {inner}", keep
        if isinstance(op, MvExpandOp):
            res_sql, res_cols = self._emit_mv_expand_core(
                op, inner, cols
            )
            # EXTENSION: `to typeof(T)` element casts
            if op.types and any(op.types):
                casts = {
                    self.col_spec(c)[0]: ty
                    for c, ty in zip(op.cols, op.types)
                    if ty
                }
                items = [
                    f"TRY_CAST({_q(c)} AS {casts[c].upper()}) AS {_q(c)}"
                    if c in casts
                    else _q(c)
                    for c in res_cols
                ]
                res_sql = (
                    f"SELECT {', '.join(items)} FROM ({res_sql})"
                )
            return res_sql, res_cols
        return self._emit_tail(op, sql, inner, cols)

    def _emit_mv_expand_core(
        self, op: MvExpandOp, inner: str, cols: list[str]
    ) -> tuple[str, list[str]]:
        if True:
            if len(op.cols) > 1:
                return self._emit_mv_expand_zip(op, inner, cols)
            name, _ = self.col_spec(op.col)
            idx = op.itemindex
            if idx is not None:
                if idx in cols:
                    raise ParseError(
                        f"mv-expand with_itemindex: column {idx!r}"
                        " already exists",
                        op.span,
                    )
                gen = (
                    f"posexplode({self.expr(op.col.expr)})"
                    f" AS ({_q(idx)}, __mv_val)"
                )
                mid = f"SELECT *, {gen} FROM {inner}"
                if op.col.name is not None and op.col.name in cols:
                    order = [*cols, idx]
                    items = [
                        f"__mv_val AS {_q(name)}" if c == name else _q(c)
                        for c in order
                    ]
                    return (
                        f"SELECT {', '.join(items)} FROM ({mid})",
                        order,
                    )
                order = [*cols, idx, name]
                items = [
                    f"__mv_val AS {_q(name)}" if c == name else _q(c)
                    for c in order
                ]
                return f"SELECT {', '.join(items)} FROM ({mid})", order
            item = f"explode({self.expr(op.col.expr)}) AS {_q(name)}"
            if op.col.name is not None and op.col.name in cols:
                items = [
                    item if c == name else _q(c) for c in cols
                ]
                return f"SELECT {', '.join(items)} FROM {inner}", cols
            return (
                f"SELECT *, {item} FROM {inner}",
                [*cols, name],
            )

    def _emit_tail(
        self, op: Op, sql: str, inner: str, cols: list[str]
    ) -> tuple[str, list[str]]:
        if isinstance(op, RenderOp):
            extras = [f"{_qs(op.chart)} AS {_q('render_type')}"]
            out = [*cols, "render_type"]
            for key, value in op.props:
                extras.append(f"{self.expr(value)} AS {_q(f'render_prop_{key}')}")
                out.append(f"render_prop_{key}")
            return f"SELECT *, {', '.join(extras)} FROM {inner}", out
        if isinstance(op, MakeSeriesOp):
            return self.emit_make_series(op, sql, cols)
        if isinstance(op, SampleDistinctOp):
            col = _q(op.col.parts[0])
            n = self.expr(op.count)
            bucket = (
                f"CAST(conv(substring(md5(CAST({col} AS STRING)), 1, 8),"
                f" 16, 10) AS BIGINT)"
            )
            sub = (
                f"SELECT {col} FROM (SELECT DISTINCT {col} FROM {inner})"
                f" ORDER BY {bucket}, {col} LIMIT {n}"
            )
            return (
                f"SELECT * FROM {inner} WHERE {col} IN ({sub})",
                cols,
            )
        if isinstance(op, SampleOp):
            key = op.key.parts[0]
            if key not in cols:
                raise ParseError(f"sample by: unknown column {key!r}", op.span)
            cutoff = int(op.rate * float(1 << 32))
            pred = (
                f"CAST(conv(substring(md5(CAST({_q(key)} AS STRING)), 1, 8),"
                f" 16, 10) AS BIGINT) < {cutoff}"
            )
            return f"SELECT * FROM {inner} WHERE {pred}", cols
        if isinstance(op, TopHittersOp):
            key = _q(op.col.parts[0])
            measure = (
                f"sum({self.expr(op.by)})"
                if op.by is not None
                else "count(1)"
            )
            return (
                f"SELECT {key}, {measure} AS {_q('hitters')} FROM {inner}"
                f" GROUP BY {key}"
                f" ORDER BY {_q('hitters')} DESC, {key} ASC"
                f" LIMIT {self._limit(op.count)}",
                [op.col.parts[0], "hitters"],
            )
        if isinstance(op, ProjectRenameOp):
            mapping = {}
            for new, old in op.renames:
                if old not in cols:
                    raise ParseError(
                        f"project-rename: unknown column {old!r}", op.span
                    )
                mapping[old] = new
            out = [mapping.get(c, c) for c in cols]
            items = ", ".join(
                f"{_q(c)} AS {_q(mapping.get(c, c))}" for c in cols
            )
            return f"SELECT {items} FROM {inner}", out
        if isinstance(op, ProjectKeepOp):
            from .compiler import _expand_col_patterns

            keep_set = set(
                _expand_col_patterns(
                    op.names, cols, "project-keep", op.span
                )
            )
            keep = [c for c in cols if c in keep_set]
            return (
                f"SELECT {', '.join(_q(c) for c in keep)} FROM {inner}",
                keep,
            )
        if isinstance(op, ProjectReorderOp):
            missing = [n for n in op.names if n not in cols]
            if missing:
                raise ParseError(
                    f"project-reorder: unknown column(s) {missing}", op.span
                )
            first = list(op.names)
            ordered = first + [c for c in cols if c not in set(first)]
            return (
                f"SELECT {', '.join(_q(c) for c in ordered)} FROM {inner}",
                ordered,
            )
        if isinstance(op, NarrowOp):
            if self.last_sort is None:
                raise ParseError(
                    "evaluate narrow() requires a preceding sort — a"
                    " distributed engine has no inherent row order for"
                    " the Row index",
                    op.span,
                )
            order = ", ".join(
                self.sort_term(t) for t in self.last_sort
            )
            pairs = ", ".join(
                f"{_qs(c)}, CAST({_q(c)} AS STRING)" for c in cols
            )
            mid = (
                f"SELECT CAST(row_number() OVER (ORDER BY {order}) - 1"
                f" AS BIGINT) AS Row, * FROM {inner}"
            )
            return (
                f"SELECT Row, stack({len(cols)}, {pairs})"
                f" AS (Column, Value) FROM ({mid})",
                ["Row", "Column", "Value"],
            )
        if isinstance(op, GetSchemaOp):
            # the emitter knows column NAMES only, but Spark SQL's
            # typeof() renders an expression's STATIC type at runtime
            # (value-independent, so first() over an EMPTY input still
            # types correctly, and a global aggregate always returns
            # its one row) — typeof's DDL strings equal the DataFrame
            # backend's simpleString() rendering, making this an exact
            # twin of compiler's GetSchemaOp
            out_cols = ["ColumnName", "ColumnOrdinal", "DataType"]
            if not cols:
                return (
                    "SELECT CAST(NULL AS STRING) AS `ColumnName`,"
                    " CAST(NULL AS BIGINT) AS `ColumnOrdinal`,"
                    " CAST(NULL AS STRING) AS `DataType` WHERE FALSE",
                    out_cols,
                )
            types = ", ".join(
                f"typeof(first({_q(c)})) AS {_q(f'__gs_t{i}')}"
                for i, c in enumerate(cols)
            )
            items = ", ".join(
                f"named_struct('ColumnName', {_qs(c)},"
                f" 'ColumnOrdinal', CAST({i} AS BIGINT),"
                f" 'DataType', {_q(f'__gs_t{i}')})"
                for i, c in enumerate(cols)
            )
            return (
                f"SELECT inline(array({items})) FROM"
                f" (SELECT {types} FROM {inner}) AS {_q('__gs')}",
                out_cols,
            )
        if isinstance(op, TopNestedOp):
            return self.emit_top_nested(op, inner, cols)
        if isinstance(op, PivotOp):
            if op.schema is None:
                raise ParseError(
                    "evaluate pivot without an output-schema"
                    " annotation is data-dependent — declare it"
                    " (`evaluate pivot(col[, agg]) : (name: type,"
                    " …)`) or use the DataFrame backend",
                    op.span,
                )
            from .parser import _DATATABLE_TYPES

            pcol = op.col.parts[0]
            if pcol not in cols:
                raise ParseError(
                    f"pivot: unknown column {pcol!r}", op.col.span
                )
            agg_refs: set[str] = set()

            def _walk(node) -> None:
                if isinstance(node, Ident) and node.simple:
                    agg_refs.add(node.parts[0])
                for child in getattr(node, "__dict__", {}).values():
                    if isinstance(child, Expr):
                        _walk(child)
                    elif isinstance(child, list):
                        for item in child:
                            if isinstance(item, Expr):
                                _walk(item)

            if op.agg is not None:
                _walk(op.agg)
            keys = [
                c for c in cols if c != pcol and c not in agg_refs
            ]
            vals = [(n, t) for n, t in op.schema if n not in keys]
            if not vals:
                raise ParseError(
                    "pivot schema: no pivot-value columns (every"
                    " entry names a group key)",
                    op.span,
                )
            agg_sql = (
                self.expr(op.agg) if op.agg is not None else "count(1)"
            )
            agg_inputs = [
                c for c in cols if c in agg_refs and c != pcol
            ]
            inner_items = ", ".join(
                [_q(c) for c in (*keys, *agg_inputs)]
                + [f"CAST({_q(pcol)} AS STRING) AS {_q('__pql_pv')}"]
            )
            in_list = ", ".join(
                f"{_qs(n)} AS {_q(n)}" for n, _ in vals
            )
            pivoted = (
                f"SELECT * FROM (SELECT {inner_items} FROM {inner}"
                f" AS {_q('__pql_pvt')}) PIVOT ({agg_sql} FOR"
                f" {_q('__pql_pv')} IN ({in_list}))"
            )
            out_items = ", ".join(
                [_q(k) for k in keys]
                + [
                    f"CAST({_q(n)} AS {_DATATABLE_TYPES[t]}) AS {_q(n)}"
                    for n, t in vals
                ]
            )
            return (
                f"SELECT {out_items} FROM ({pivoted})"
                f" AS {_q('__pql_pvo')}",
                [*keys, *[n for n, _ in vals]],
            )
        if isinstance(op, MakeGraphOp):
            src, dst = op.src.parts[0], op.dst.parts[0]
            for name, ident in ((src, op.src), (dst, op.dst)):
                if name not in cols:
                    raise ParseError(
                        f"make-graph: unknown column {name!r}",
                        ident.span,
                    )
            nodes_sql = nodes_cols = node_id = None
            if op.nodes is not None:
                nodes_sql, nodes_cols = self.emit_query(op.nodes)
                node_id = op.node_id.parts[0]
                if node_id not in nodes_cols:
                    raise ParseError(
                        f"make-graph: node id column {node_id!r} not"
                        " in the nodes table",
                        op.node_id.span,
                    )
            self._graph = (
                sql, cols, src, dst, nodes_sql, nodes_cols, node_id
            )
            return sql, cols
        if isinstance(op, GraphMatchOp):
            return self._emit_graph_match(op)
        if isinstance(op, BagUnpackOp):
            if op.schema is None:
                raise ParseError(
                    "evaluate bag_unpack without an output-schema"
                    " annotation is data-dependent — declare it"
                    " (`evaluate bag_unpack(col) : (name: type, …)`)"
                    " or use the DataFrame backend",
                    op.span,
                )
            from .parser import _DATATABLE_TYPES

            bcol = op.col.parts[0]
            if bcol not in cols:
                raise ParseError(
                    f"bag_unpack: unknown column {bcol!r}", op.col.span
                )
            # The emitter has no schema to tell a MAP bag from a
            # JSON-string bag, so the extraction is TYPE-AGNOSTIC
            # (r12 — the old CAST(col AS STRING) returned Spark's
            # `{k -> v}` rendering for maps, not JSON, so every map
            # key read NULL once backend=auto made this the executed
            # path): branch 1 re-serializes the bag through
            # to_json(named_struct(…)) — a MAP becomes a real JSON
            # object at `$.__pql_bag.key`, while a STRING bag becomes
            # a quoted scalar there (path misses → NULL); branch 2 is
            # the plain string-bag read (analysis-safe on maps via
            # the cast, but yields NULL for them).  coalesce picks
            # whichever form the column actually is.
            others = [c for c in cols if c != bcol]
            items = [f"{_q(c)}" for c in others]
            names = list(others)
            # r16 (guide §1.2 per-row work): when every key is a plain
            # identifier, the bag is serialized ONCE per row and ALL
            # keys extracted in ONE json_tuple parse — the per-key form
            # below re-serializes the whole bag per key per row ((1
            # to_json + 2 parses) × K vs 3 total; measured 1.29 →
            # 0.72 s on the sf0.1 gate, identical results).  The trick:
            # get_json_object(to_json(named_struct('__pql_bag', b)),
            # '$.__pql_bag') yields the bag's JSON object text for a
            # MAP/STRUCT bag (re-serialized) AND for a STRING bag (the
            # string value, unescaped) alike, so one expression
            # replaces the old two-branch coalesce.  Keys that are not
            # simple identifiers keep the per-key path form —
            # json_tuple matches field names literally while
            # get_json_object treats '$.{key}' as a path, and only
            # simple ASCII keys make the two provably agree.
            simple = all(
                key.isascii()
                and key.replace("_", "").isalnum()
                and not key[0].isdigit()
                for key, _ in op.schema
            )
            if simple and op.schema:
                gen_cols = [f"`__pql_bu{i}`" for i in range(len(op.schema))]
                for (key, t), gc in zip(op.schema, gen_cols):
                    out_name = f"{op.prefix}{key}"
                    items.append(
                        f"CAST({gc} AS {_DATATABLE_TYPES[t]})"
                        f" AS {_q(out_name)}"
                    )
                    names.append(out_name)
                keys = ", ".join(
                    "'" + key + "'" for key, _ in op.schema
                )
                return (
                    f"SELECT {', '.join(items)} FROM {inner}"
                    " LATERAL VIEW json_tuple(get_json_object("
                    f"to_json(named_struct('__pql_bag', {_q(bcol)})),"
                    f" '$.__pql_bag'), {keys}) __pql_bu"
                    f" AS {', '.join(gen_cols)}",
                    names,
                )
            for key, t in op.schema:
                out_name = f"{op.prefix}{key}"
                items.append(
                    "CAST(coalesce("
                    "get_json_object(to_json(named_struct("
                    f"'__pql_bag', {_q(bcol)})), '$.__pql_bag.{key}'),"
                    f" get_json_object(CAST({_q(bcol)} AS STRING),"
                    f" '$.{key}'))"
                    f" AS {_DATATABLE_TYPES[t]}) AS {_q(out_name)}"
                )
                names.append(out_name)
            return (
                f"SELECT {', '.join(items)} FROM {inner}",
                names,
            )
        if isinstance(op, PartitionOp):
            return self._emit_partition(op, inner, cols)
        if isinstance(op, ScanOp):
            raise ParseError(
                "scan's sequential automaton requires the DataFrame"
                " backend",
                op.span,
            )
        if isinstance(op, SerializeOp):
            if self.last_sort is None:
                raise ParseError(
                    "serialize requires a preceding sort (a distributed "
                    "engine has no inherent row order to serialize)",
                    op.span,
                )
            for ident in op.by:
                if ident.parts[0] not in cols:
                    raise ParseError(
                        f"serialize by: unknown column {ident.parts[0]!r}",
                        ident.span,
                    )
            self.window = ([i.parts[0] for i in op.by], self.last_sort)
            return sql, cols
        if isinstance(op, SlidingWindowCountsOp):
            ts, idc = op.ts_col.parts[0], op.id_col.parts[0]
            for name, ident in ((ts, op.ts_col), (idc, op.id_col)):
                if name not in cols:
                    raise ParseError(
                        f"sliding_window_counts: unknown column"
                        f" {name!r}",
                        ident.span,
                    )
            start = (
                f"unix_micros(CAST({self.expr(op.start)} AS TIMESTAMP))"
            )
            end = f"unix_micros(CAST({self.expr(op.end)} AS TIMESTAMP))"
            t = f"unix_micros(CAST({_q(ts)} AS TIMESTAMP))"
            binu, look = str(op.bin_usec), str(op.lookback_usec)
            k0 = (
                f"greatest(CAST(0 AS BIGINT), CAST(floor(({t} - {start}"
                f" + {binu} - 1) / {binu}) AS BIGINT))"
            )
            kmax = f"CAST(floor(({end} - {start}) / {binu}) AS BIGINT)"
            k1 = (
                f"least({kmax}, CAST(floor(({t} + {look} - {start}"
                f" + {binu} - 1) / {binu}) AS BIGINT) - 1)"
            )
            inner = (
                f"SELECT {start} AS __swc_start, {_q(idc)} AS __swc_id,"
                f" CASE WHEN {k0} <= {k1} THEN sequence({k0}, {k1}) END"
                f" AS __swc_ks FROM ({sql}) AS {_q('__swc_t')}"
            )
            sql = (
                f"SELECT timestamp_micros(__swc_start + k * {binu})"
                f" AS {_q(ts)}, count(*) AS Count,"
                " count(DISTINCT __swc_id) AS Dcount"
                f" FROM ({inner}) AS {_q('__swc_e')}"
                " LATERAL VIEW explode(__swc_ks) __swc_s AS k"
                " GROUP BY 1"
            )
            return sql, [ts, "Count", "Dcount"]
        if isinstance(op, ActivityCountsMetricsOp):
            ts, idc = op.ts_col.parts[0], op.id_col.parts[0]
            for name, ident in ((ts, op.ts_col), (idc, op.id_col)):
                if name not in cols:
                    raise ParseError(
                        f"activity_counts_metrics: unknown column"
                        f" {name!r}",
                        ident.span,
                    )
            start = (
                f"unix_micros(CAST({self.expr(op.start)} AS TIMESTAMP))"
            )
            end = f"unix_micros(CAST({self.expr(op.end)} AS TIMESTAMP))"
            t = f"unix_micros(CAST({_q(ts)} AS TIMESTAMP))"
            binu = str(op.bin_usec)
            base = (
                f"SELECT {_q(idc)} AS __acm_id,"
                f" {start} + CAST(floor(({t} - {start}) / {binu})"
                f" AS BIGINT) * {binu} AS __acm_bin"
                f" FROM ({sql}) AS {_q('__acm_t')}"
                f" WHERE {t} >= {start} AND {t} < {end}"
            )
            per_bin = (
                "SELECT __acm_bin, count(*) AS count_,"
                " count(DISTINCT __acm_id) AS dcount"
                f" FROM ({base}) AS {_q('__acm_b')} GROUP BY __acm_bin"
            )
            new_bin = (
                "SELECT __acm_bin, count(*) AS new_dcount FROM"
                " (SELECT __acm_id, min(__acm_bin) AS __acm_bin"
                f"  FROM ({base}) AS {_q('__acm_f')} GROUP BY __acm_id)"
                f" AS {_q('__acm_m')} GROUP BY __acm_bin"
            )
            sql = (
                f"SELECT timestamp_micros(p.__acm_bin) AS {_q(ts)},"
                " p.count_ AS count_, p.dcount AS dcount,"
                " coalesce(n.new_dcount, 0) AS new_dcount,"
                " sum(coalesce(n.new_dcount, 0)) OVER"
                " (ORDER BY p.__acm_bin ROWS BETWEEN UNBOUNDED"
                " PRECEDING AND CURRENT ROW) AS aggregated_dcount"
                f" FROM ({per_bin}) AS p LEFT JOIN ({new_bin}) AS n"
                " ON p.__acm_bin = n.__acm_bin"
            )
            return sql, [
                ts, "count_", "dcount", "new_dcount",
                "aggregated_dcount",
            ]
        if isinstance(op, NewActivityMetricsOp):
            ts, idc = op.ts_col.parts[0], op.id_col.parts[0]
            for name, ident in ((ts, op.ts_col), (idc, op.id_col)):
                if name not in cols:
                    raise ParseError(
                        f"new_activity_metrics: unknown column"
                        f" {name!r}",
                        ident.span,
                    )
            start = (
                f"unix_micros(CAST({self.expr(op.start)} AS TIMESTAMP))"
            )
            end = f"unix_micros(CAST({self.expr(op.end)} AS TIMESTAMP))"
            t = f"unix_micros(CAST({_q(ts)} AS TIMESTAMP))"
            binu = str(op.bin_usec)
            active = (
                f"SELECT DISTINCT {_q(idc)} AS __na_id,"
                f" {start} + CAST(floor(({t} - {start}) / {binu})"
                f" AS BIGINT) * {binu} AS __na_bin"
                f" FROM ({sql}) AS {_q('__na_t')}"
                f" WHERE {t} >= {start} AND {t} < {end}"
            )
            firsts = (
                "SELECT __na_id, min(__na_bin) AS __na_cohort"
                f" FROM ({active}) AS {_q('__na_f')} GROUP BY __na_id"
            )
            cells = (
                "SELECT f.__na_cohort, a.__na_bin,"
                " count(*) AS dcount"
                f" FROM ({active}) AS a JOIN ({firsts}) AS f"
                " ON a.__na_id = f.__na_id"
                " GROUP BY f.__na_cohort, a.__na_bin"
            )
            sizes = (
                "SELECT __na_cohort, count(*) AS csize"
                f" FROM ({firsts}) AS {_q('__na_s')}"
                " GROUP BY __na_cohort"
            )
            sql = (
                "SELECT timestamp_micros(c.__na_cohort)"
                f" AS {_q(f'cohort_{ts}')},"
                f" timestamp_micros(c.__na_bin) AS {_q(ts)},"
                " c.dcount AS dcount,"
                " CAST(c.dcount AS DOUBLE) / CAST(s.csize AS DOUBLE)"
                " AS retention"
                f" FROM ({cells}) AS c JOIN ({sizes}) AS s"
                " ON c.__na_cohort = s.__na_cohort"
            )
            return sql, [f"cohort_{ts}", ts, "dcount", "retention"]
        if isinstance(op, FunnelSequenceOp):
            ts, idc = op.ts_col.parts[0], op.id_col.parts[0]
            state = op.state_col.parts[0]
            for name, ident in (
                (ts, op.ts_col), (idc, op.id_col),
                (state, op.state_col),
            ):
                if name not in cols:
                    raise ParseError(
                        f"funnel_sequence: unknown column {name!r}",
                        ident.span,
                    )
            start = (
                f"unix_micros(CAST({self.expr(op.start)} AS TIMESTAMP))"
            )
            end = f"unix_micros(CAST({self.expr(op.end)} AS TIMESTAMP))"
            t = f"unix_micros(CAST({_q(ts)} AS TIMESTAMP))"
            winu = str(op.window_usec)
            step = self.expr(op.step)
            base = (
                f"SELECT {_q(idc)} AS __fs_id,"
                f" {_q(state)} AS __fs_state, {t} AS __fs_t,"
                f" {step} AS __fs_step"
                f" FROM ({sql}) AS {_q('__fs_b')}"
                f" WHERE {t} >= {start} AND {t} < {end}"
            )
            over = "PARTITION BY __fs_id ORDER BY __fs_t"
            marked = (
                "SELECT __fs_id, __fs_state, __fs_step,"
                f" CASE WHEN __fs_t - lag(__fs_t) OVER ({over})"
                f" <= {winu} THEN lag(__fs_state) OVER ({over}) END"
                " AS prev,"
                f" CASE WHEN lead(__fs_t) OVER ({over}) - __fs_t"
                f" <= {winu} THEN lead(__fs_state) OVER ({over}) END"
                " AS next"
                f" FROM ({base}) AS {_q('__fs_m')}"
            )
            sql = (
                "SELECT prev, next,"
                " count(DISTINCT __fs_id) AS dcount"
                f" FROM ({marked}) AS {_q('__fs_g')}"
                " WHERE __fs_state = __fs_step"
                " GROUP BY prev, next"
            )
            return sql, ["prev", "next", "dcount"]
        if isinstance(op, ActiveUsersCountOp):
            ts, idc = op.ts_col.parts[0], op.id_col.parts[0]
            for name, ident in ((ts, op.ts_col), (idc, op.id_col)):
                if name not in cols:
                    raise ParseError(
                        f"active_users_count: unknown column"
                        f" {name!r}",
                        ident.span,
                    )
            start = (
                f"unix_micros(CAST({self.expr(op.start)} AS TIMESTAMP))"
            )
            end = f"unix_micros(CAST({self.expr(op.end)} AS TIMESTAMP))"
            t = f"unix_micros(CAST({_q(ts)} AS TIMESTAMP))"
            per = str(op.period_usec)
            look = op.lookback_periods
            nbins = f"CAST(floor(({end} - {start}) / {per}) AS BIGINT)"
            p = f"CAST(floor(({t} - {start}) / {per}) AS BIGINT)"
            active = (
                f"SELECT DISTINCT {_q(idc)} AS __au_id,"
                f" {start} AS __au_start, {p} AS __au_p,"
                f" {nbins} AS __au_nb"
                f" FROM ({sql}) AS {_q('__au_t')}"
                f" WHERE {t} >= {start} AND {t} < {end}"
            )
            exploded = (
                "SELECT __au_id, __au_start, __au_k"
                f" FROM ({active}) AS {_q('__au_a')}"
                " LATERAL VIEW explode(CASE WHEN __au_p <= __au_nb - 1"
                " THEN sequence(__au_p,"
                f" least(__au_p + {look - 1}, __au_nb - 1)) END)"
                " __au_s AS __au_k"
            )
            engaged = (
                "SELECT __au_k, __au_id, count(1) AS __au_n,"
                " first(__au_start) AS __au_start"
                f" FROM ({exploded}) AS {_q('__au_e')}"
                " GROUP BY __au_k, __au_id"
                f" HAVING count(1) >= {op.min_periods}"
            )
            sql = (
                "SELECT"
                f" timestamp_micros(first(__au_start) + __au_k * {per})"
                f" AS {_q(ts)},"
                " count(1) AS active_users"
                f" FROM ({engaged}) AS {_q('__au_g')}"
                " GROUP BY __au_k"
            )
            return sql, [ts, "active_users"]
        if isinstance(op, ActivityEngagementOp):
            ts, idc = op.ts_col.parts[0], op.id_col.parts[0]
            for name, ident in ((ts, op.ts_col), (idc, op.id_col)):
                if name not in cols:
                    raise ParseError(
                        f"activity_engagement: unknown column"
                        f" {name!r}",
                        ident.span,
                    )
            start = (
                f"unix_micros(CAST({self.expr(op.start)} AS TIMESTAMP))"
            )
            end = f"unix_micros(CAST({self.expr(op.end)} AS TIMESTAMP))"
            t = f"unix_micros(CAST({_q(ts)} AS TIMESTAMP))"
            i, o = str(op.inner_usec), str(op.outer_usec)
            u = f"({t} - {start})"
            nbins = f"CAST(floor(({end} - {start}) / {i}) AS BIGINT)"
            k0 = (
                "greatest(CAST(0 AS BIGINT),"
                f" CAST(floor(({u} - {i}) / {i}) AS BIGINT) + 1)"
            )
            k1 = (
                f"least({nbins} - 1,"
                f" CAST(floor(({u} + {o} - {i}) / {i}) AS BIGINT))"
            )
            kin = f"CAST(floor({u} / {i}) AS BIGINT)"
            base = (
                f"SELECT {start} AS __ae_start,"
                f" {_q(idc)} AS __ae_id, {kin} AS __ae_kin,"
                f" CASE WHEN {k0} <= {k1} THEN sequence({k0}, {k1})"
                f" END AS __ae_ks"
                f" FROM ({sql}) AS {_q('__ae_t')}"
                f" WHERE {t} >= {start} AND {t} < {end}"
            )
            per_id = (
                "SELECT __ae_k, __ae_id,"
                " max(CASE WHEN __ae_kin = __ae_k THEN 1 ELSE 0 END)"
                " AS __ae_inn,"
                " first(__ae_start) AS __ae_start"
                f" FROM ({base}) AS {_q('__ae_e')}"
                " LATERAL VIEW explode(__ae_ks) __ae_s AS __ae_k"
                " GROUP BY __ae_k, __ae_id"
            )
            sql = (
                "SELECT"
                f" timestamp_micros(first(__ae_start) + __ae_k * {i})"
                f" AS {_q(ts)},"
                " sum(__ae_inn) AS dcount_activities_inner,"
                " count(*) AS dcount_activities_outer,"
                " CAST(sum(__ae_inn) AS DOUBLE) / count(*)"
                " AS activity_ratio"
                f" FROM ({per_id}) AS {_q('__ae_g')}"
                " GROUP BY __ae_k"
            )
            return sql, [
                ts,
                "dcount_activities_inner",
                "dcount_activities_outer",
                "activity_ratio",
            ]
        if isinstance(op, FunnelCompletionOp):
            ts, idc = op.ts_col.parts[0], op.id_col.parts[0]
            state = op.state_col.parts[0]
            for name, ident in (
                (ts, op.ts_col), (idc, op.id_col),
                (state, op.state_col),
            ):
                if name not in cols:
                    raise ParseError(
                        f"funnel_completion: unknown column {name!r}",
                        ident.span,
                    )
            start = (
                f"unix_micros(CAST({self.expr(op.start)} AS TIMESTAMP))"
            )
            end = f"unix_micros(CAST({self.expr(op.end)} AS TIMESTAMP))"
            t = f"unix_micros(CAST({_q(ts)} AS TIMESTAMP))"
            base = (
                f"SELECT {_q(idc)} AS __fc_id,"
                f" {_q(state)} AS __fc_state, {t} AS __fc_t"
                f" FROM ({sql}) AS {_q('__fc_b')}"
                f" WHERE {t} >= {start} AND {t} < {end}"
            )
            chain = (
                "SELECT __fc_id, min(__fc_t) AS __t1,"
                " min(__fc_t) AS __tj"
                f" FROM ({base}) AS {_q('__fc_c1')}"
                f" WHERE __fc_state = {_qs(op.states[0])}"
                " GROUP BY __fc_id"
            )
            spans = [
                f"SELECT 1 AS step, {_qs(op.states[0])} AS state,"
                f" CAST(0 AS BIGINT) AS __span FROM ({chain})"
                f" AS {_q('__fc_s1')}"
            ]
            for j, s in enumerate(op.states[1:], start=2):
                chain = (
                    "SELECT b.__fc_id, c.__t1,"
                    " min(b.__fc_t) AS __tj"
                    f" FROM ({base}) AS b"
                    f" JOIN ({chain}) AS c ON b.__fc_id = c.__fc_id"
                    f" WHERE b.__fc_state = {_qs(s)}"
                    " AND b.__fc_t >= c.__tj"
                    " GROUP BY b.__fc_id, c.__t1"
                )
                spans.append(
                    f"SELECT {j} AS step, {_qs(s)} AS state,"
                    " __tj - __t1 AS __span"
                    f" FROM ({chain}) AS {_q(f'__fc_s{j}')}"
                )
            allspans = " UNION ALL ".join(f"({s})" for s in spans)
            wcols = ", ".join(
                f"count(CASE WHEN __span <= {int(w)} THEN 1 END)"
                f" AS {_q(f'__w{i}')}"
                for i, w in enumerate(op.windows_usec)
            )
            wide = (
                f"SELECT step, state, {wcols} FROM ({allspans})"
                f" AS {_q('__fc_all')} GROUP BY step, state"
            )
            stack_args = ", ".join(
                f"{int(w)}L, {_q(f'__w{i}')}"
                for i, w in enumerate(op.windows_usec)
            )
            sql = (
                "SELECT step, state,"
                f" stack({len(op.windows_usec)}, {stack_args})"
                " AS (period, dcount)"
                f" FROM ({wide}) AS {_q('__fc_w')}"
            )
            return sql, ["step", "state", "period", "dcount"]
        if isinstance(op, SessionCountOp):
            ts, idc = op.ts_col.parts[0], op.id_col.parts[0]
            for name, ident in ((ts, op.ts_col), (idc, op.id_col)):
                if name not in cols:
                    raise ParseError(
                        f"session_count: unknown column {name!r}",
                        ident.span,
                    )
            start = (
                f"unix_micros(CAST({self.expr(op.start)} AS TIMESTAMP))"
            )
            end = f"unix_micros(CAST({self.expr(op.end)} AS TIMESTAMP))"
            t = f"unix_micros(CAST({_q(ts)} AS TIMESTAMP))"
            binu, look = str(op.bin_usec), str(op.lookback_usec)
            active = (
                f"SELECT DISTINCT {_q(idc)} AS __sc_id,"
                f" CAST(floor(({t} - {start}) / {binu}) AS BIGINT)"
                f" AS __sc_k, {start} AS __sc_s"
                f" FROM ({sql}) AS {_q('__sc_t')}"
                f" WHERE {t} >= {start} AND {t} < {end}"
            )
            starts = (
                "SELECT __sc_s, __sc_k,"
                " CASE WHEN lag(__sc_k) OVER (PARTITION BY __sc_id"
                " ORDER BY __sc_k) IS NULL"
                f" OR (__sc_k - lag(__sc_k) OVER (PARTITION BY __sc_id"
                f" ORDER BY __sc_k)) * {binu} > {look}"
                " THEN 1 ELSE 0 END AS __sc_new"
                f" FROM ({active}) AS {_q('__sc_a')}"
            )
            sql = (
                f"SELECT timestamp_micros(__sc_s + __sc_k * {binu})"
                f" AS {_q(ts)}, count(*) AS count_"
                f" FROM ({starts}) AS {_q('__sc_n')}"
                " WHERE __sc_new = 1 GROUP BY 1"
            )
            return sql, [ts, "count_"]
        if isinstance(op, RollingPercentileOp):
            val, idx = op.val_col.parts[0], op.idx_col.parts[0]
            for name, ident in ((val, op.val_col), (idx, op.idx_col)):
                if name not in cols:
                    raise ParseError(
                        f"rolling_percentile: unknown column {name!r}",
                        ident.span,
                    )
            if op.bin_is_timespan:
                t = f"unix_micros(CAST({_q(idx)} AS TIMESTAMP))"
                binw = str(int(op.bin_size))
                out = "timestamp_micros(CAST(__rp_bin AS BIGINT))"
            else:
                t = _q(idx)
                binw = repr(op.bin_size)
                out = "__rp_bin"
            b0 = f"CAST(floor({t} / {binw}) AS BIGINT)"
            inner = (
                f"SELECT {_q(val)} AS __rp_v, sequence({b0}, {b0}"
                f" + {op.bins_per_window - 1}) AS __rp_ks"
                f" FROM ({sql}) AS {_q('__rp_t')}"
            )
            mid = (
                f"SELECT __rp_v, k * {binw} AS __rp_bin"
                f" FROM ({inner}) AS {_q('__rp_e')}"
                " LATERAL VIEW explode(__rp_ks) __rp_s AS k"
            )
            out_name = f"percentile_{val}_{op.percentile:g}"
            sql = (
                f"SELECT {out} AS {_q(idx)}, percentile(__rp_v,"
                f" {op.percentile / 100.0!r}) AS {_q(out_name)}"
                f" FROM ({mid}) AS {_q('__rp_g')} GROUP BY 1"
            )
            return sql, [idx, out_name]
        if isinstance(op, RowsNearOp):
            if self.window is None and self.last_sort is None:
                raise ParseError(
                    "rows_near requires a preceding 'sort' or"
                    " 'serialize' (context rows need a defined order)",
                    op.span,
                )
            part, terms = (
                self.window if self.window else ([], self.last_sort)
            )
            over = []
            if part:
                over.append(
                    "PARTITION BY " + ", ".join(_q(p) for p in part)
                )
            over.append(
                "ORDER BY " + ", ".join(self.sort_term(t) for t in terms)
            )
            spec = (
                " ".join(over)
                + f" ROWS BETWEEN {op.after} PRECEDING"
                + f" AND {op.before} FOLLOWING"
            )
            keep = (
                "MAX(CASE WHEN COALESCE(CAST("
                + self.expr(op.cond)
                + " AS BOOLEAN), FALSE) THEN 1 ELSE 0 END)"
                f" OVER ({spec})"
            )
            items = ", ".join(_q(c) for c in cols)
            inner = (
                f"SELECT *, {keep} AS {_q('__pql_rn_keep')}"
                f" FROM ({sql}) AS {_q('__pql_rnt')}"
            )
            sql = (
                f"SELECT {items} FROM ({inner}) AS {_q('__pql_rnk')}"
                f" WHERE {_q('__pql_rn_keep')} = 1"
            )
            return sql, cols
        if isinstance(op, LookupOp):
            return self.emit_lookup(op, sql, cols)
        if isinstance(op, Ipv4LookupOp):
            return self.emit_ipv4_lookup(op, sql, cols)
        if isinstance(op, ParseOp):
            regex, names = build_parse_regex(op.segments, op.kind)
            src = self.expr(op.source_expr)
            out = list(cols)
            items = [_q(c) for c in cols]
            for gi, name in enumerate(names, start=1):
                item = (
                    f"regexp_extract({src}, {_qs(regex)}, {gi}) AS {_q(name)}"
                )
                if name in out:
                    items[out.index(name)] = item
                else:
                    out.append(name)
                    items.append(item)
            where = (
                f" WHERE rlike({src}, {_qs(regex)})"
                if op.where_mode
                else ""
            )
            return (
                f"SELECT {', '.join(items)} FROM {inner}{where}",
                out,
            )
        if isinstance(op, ParseKvOp):
            src = self.expr(op.source_expr)
            mapped = (
                f"str_to_map({src}, {_qs(escape_regex(op.pair_delim))},"
                f" {_qs(escape_regex(op.kv_delim))})"
            )
            out = list(cols)
            items = [_q(c) for c in cols]
            for name, ty in zip(op.keys, op.types):
                val = f"try_element_at({mapped}, {_qs(name)})"
                if ty is not None and ty != "string":
                    val = f"TRY_CAST({val} AS {ty.upper()})"
                item = f"{val} AS {_q(name)}"
                if name in out:
                    items[out.index(name)] = item
                else:
                    out.append(name)
                    items.append(item)
            return f"SELECT {', '.join(items)} FROM {inner}", out
        if isinstance(op, DiffPatternsTextOp):
            split = op.split_col.parts[0]
            text = op.text_col.parts[0]
            for name, ident in (
                (split, op.split_col), (text, op.text_col)
            ):
                if name not in cols:
                    raise ParseError(
                        f"diffpatterns_text: unknown column {name!r}",
                        ident.span,
                    )
            sc = f"CAST({_q(split)} AS STRING)"
            toks = (
                "array_distinct(split(trim(regexp_replace(lower("
                f"{_q(text)}), '\\\\s+', ' ')), ' '))"
            )
            base = (
                f"SELECT CAST({sc} = {_qs(op.value_a)} AS INT)"
                " AS __dpt_a,"
                f" CAST({sc} = {_qs(op.value_b)} AS INT) AS __dpt_b,"
                f" {toks} AS __dpt_t"
                f" FROM ({sql}) AS {_q('__dpt_s')}"
                " WHERE CAST("
                f"{sc} = {_qs(op.value_a)} AS INT) = 1"
                f" OR CAST({sc} = {_qs(op.value_b)} AS INT) = 1"
            )
            totals = (
                "SELECT sum(__dpt_a) AS __tot_a,"
                " sum(__dpt_b) AS __tot_b"
                f" FROM ({base}) AS {_q('__dpt_tt')}"
            )
            tok = (
                "SELECT token, sum(__dpt_a) AS `CountA`,"
                " sum(__dpt_b) AS `CountB`"
                f" FROM ({base}) AS {_q('__dpt_e')}"
                " LATERAL VIEW explode(__dpt_t) __dpt_x AS token"
                " WHERE token != '' GROUP BY token"
            )

            def pct(c: str, t: str) -> str:
                return (
                    f"round(CAST(`{c}` AS DOUBLE) * 100.0D /"
                    f" greatest({t}, 1), 2)"
                )

            mid = (
                f"SELECT token, `CountA`, `CountB`,"
                f" {pct('CountA', '__tot_a')} AS `PercentA`,"
                f" {pct('CountB', '__tot_b')} AS `PercentB`"
                f" FROM ({tok}) AS {_q('__dpt_k')}"
                f" CROSS JOIN ({totals}) AS {_q('__dpt_n')}"
            )
            return (
                "SELECT token, `CountA`, `CountB`, `PercentA`,"
                " `PercentB`,"
                " round(abs(`PercentA` - `PercentB`), 2)"
                " AS `PercentDiff`"
                f" FROM ({mid}) AS {_q('__dpt_f')}"
                " WHERE round(abs(`PercentA` - `PercentB`), 2) >="
                f" {op.min_diff!r}",
                ["token", "CountA", "CountB", "PercentA", "PercentB",
                 "PercentDiff"],
            )
        if isinstance(op, DiffPatternsOp):
            split = op.split_col.parts[0]
            if split not in cols:
                raise ParseError(
                    f"diffpatterns: unknown split column {split!r}",
                    op.split_col.span,
                )
            if not op.cols:
                raise ParseError(
                    "diffpatterns: list the columns explicitly in the"
                    " SQL backend (no schema to pick string columns"
                    " from)",
                    op.span,
                )
            names = [c.parts[0] for c in op.cols]
            for c, n in zip(op.cols, names):
                if n not in cols:
                    raise ParseError(
                        f"diffpatterns: unknown column {n!r}", c.span
                    )
            if len(names) > 6:
                raise ParseError(
                    f"diffpatterns: at most 6 columns"
                    f" (got {len(names)})",
                    op.span,
                )
            k = len(names)
            sc = f"CAST({_q(split)} AS STRING)"
            ca = (
                f"sum(CASE WHEN {sc} = {_qs(op.value_a)} THEN 1"
                " ELSE 0 END)"
            )
            cb = (
                f"sum(CASE WHEN {sc} = {_qs(op.value_b)} THEN 1"
                " ELSE 0 END)"
            )
            gsum = " + ".join(
                f"CAST(grouping({_q(n)}) AS INT)" for n in names
            )
            pats = ", ".join(
                f"CASE WHEN grouping({_q(n)}) = 1 THEN '*'"
                f" ELSE coalesce(CAST({_q(n)} AS STRING), '(null)') END"
                f" AS {_q('__p_' + n)}"
                for n in names
            )
            cube = (
                f"SELECT {ca} AS `CountA`, {cb} AS `CountB`,"
                f" {gsum} AS `__gsum`, {pats} FROM ({sql})"
                f" AS {_q('__dp_t')}"
                f" GROUP BY CUBE ({', '.join(_q(n) for n in names)})"
            )
            # cohort totals from a broadcast 1-row aggregate — an
            # OVER () window would single-task the whole cube output
            totals = (
                f"SELECT {ca} AS `__tot_a`, {cb} AS `__tot_b`"
                f" FROM ({sql}) AS {_q('__dp_tt')}"
            )

            def pct(c: str, tot: str) -> str:
                return (
                    f"round(CAST(`{c}` AS DOUBLE) * 100.0D /"
                    f" greatest(`{tot}`, 1), 2)"
                )

            mid = (
                f"SELECT `CountA`, `CountB`,"
                f" {pct('CountA', '__tot_a')} AS `PercentA`,"
                f" {pct('CountB', '__tot_b')} AS `PercentB`,"
                f" `__gsum`,"
                f" {', '.join(_q('__p_' + n) for n in names)}"
                f" FROM ({cube}) CROSS JOIN ({totals})"
            )
            outer_cols = ", ".join(
                f"{_q('__p_' + n)} AS {_q(n)}" for n in names
            )
            return (
                "SELECT `CountA`, `CountB`, `PercentA`, `PercentB`,"
                " round(abs(`PercentA` - `PercentB`), 2) AS"
                f" `PercentDiff`, {outer_cols}"
                f" FROM ({mid}) WHERE `__gsum` < {k}"
                " AND round(abs(`PercentA` - `PercentB`), 2) >="
                f" {op.min_diff!r}",
                ["CountA", "CountB", "PercentA", "PercentB",
                 "PercentDiff", *names],
            )
        if isinstance(op, AutoclusterOp):
            if not op.cols:
                raise ParseError(
                    "autocluster: list the columns explicitly in the"
                    " SQL backend (no schema to pick string columns"
                    " from)",
                    op.span,
                )
            names = [c.parts[0] for c in op.cols]
            for c, n in zip(op.cols, names):
                if n not in cols:
                    raise ParseError(
                        f"autocluster: unknown column {n!r}", c.span
                    )
            if len(names) > 6:
                raise ParseError(
                    f"autocluster: at most 6 columns (got {len(names)})",
                    op.span,
                )
            k = len(names)
            gsum = " + ".join(
                f"CAST(grouping({_q(n)}) AS INT)" for n in names
            )
            pats = ", ".join(
                f"CASE WHEN grouping({_q(n)}) = 1 THEN '*'"
                f" ELSE coalesce(CAST({_q(n)} AS STRING), '(null)') END"
                f" AS {_q('__p_' + n)}"
                for n in names
            )
            cube = (
                f"SELECT count(1) AS `SegmentCount`, {gsum} AS `__gsum`,"
                f" {pats} FROM {inner}"
                f" GROUP BY CUBE ({', '.join(_q(n) for n in names)})"
            )
            # total from a broadcast 1-row count — an OVER () window
            # would single-task the whole cube output
            totals = (
                f"SELECT count(1) AS `__tot_n` FROM {inner}"
            )
            pct = (
                "round(CAST(`SegmentCount` AS DOUBLE) * 100.0D /"
                " greatest(`__tot_n`, 1), 2)"
            )
            mid = (
                f"SELECT `SegmentCount`, {pct} AS `Percent`, `__gsum`,"
                f" {', '.join(_q('__p_' + n) for n in names)}"
                f" FROM ({cube}) CROSS JOIN ({totals})"
            )
            outer_cols = ", ".join(
                f"{_q('__p_' + n)} AS {_q(n)}" for n in names
            )
            order = ", ".join(
                f"{_q('__p_' + n)} ASC NULLS FIRST" for n in names
            )
            return (
                f"SELECT `SegmentCount`, `Percent`, {outer_cols}"
                f" FROM ({mid}) WHERE `__gsum` < {k}"
                f" AND `Percent` >= {op.min_percent!r}"
                f" ORDER BY `SegmentCount` DESC NULLS LAST, {order}",
                ["SegmentCount", "Percent", *names],
            )
        if isinstance(op, SequenceDetectOp):
            # Exact SQL twin of compiler._sequence_detect's r9 FUSED
            # plan: ONE shuffle + ONE sort, n-1 stacked struct-min
            # window aggregates over the same (keys, ts desc) spec —
            # Catalyst stacks the WindowExecs on one Sort when specs
            # match.  Replaces the r≤11 N-1 union + running-min form
            # this path had kept for textual auditability: with
            # backend=auto the SQL emission became the EXECUTED plan,
            # and the union form's n-1 sort shuffles were the
            # unattributed 5.3× sf1 scaling row (BENCH_SCALING_r11
            # 2.82 s vs 0.53 s twin; PERF_NOTES_r12 decomposition).
            # Equal results on both backends are pinned by
            # test_sequence_detect_sql_backend.
            ts = op.timeline.parts[0]
            if ts not in cols:
                raise ParseError(
                    f"sequence_detect: unknown timeline column {ts!r}",
                    op.timeline.span,
                )
            keys = []
            for kc in op.keys:
                if kc.parts[0] not in cols:
                    raise ParseError(
                        "sequence_detect: unknown key column"
                        f" {kc.parts[0]!r}",
                        kc.span,
                    )
                keys.append(kc.parts[0])
            n = len(op.steps)
            names = [
                s.name if s.name is not None
                else s.expr.source(self.text).strip()
                for s in op.steps
            ]
            ksel = "".join(f"{_q(k)}, " for k in keys)
            preds = ", ".join(
                f"({self.expr(s.expr)}) AS __sq_p{i}"
                for i, s in enumerate(op.steps)
            )
            # __sq_tsm is materialized ONCE so every window layer
            # orders by the SAME attribute — per-layer re-aliased
            # unix_micros(...) expressions defeat Catalyst's
            # redundant-Sort elimination and each stacked WindowExec
            # re-sorts the partition (visible as a second full Sort
            # of the fact rows in the sf1 plan).  r14: the struct
            # payloads, post-filters, and the bare-long last-step min
            # carry PACKED micros longs (mirrors the DF backend's
            # packed plan — measured 1.43 → 1.10 s at sf1); only the
            # final select converts back with timestamp_micros.
            # __sq_ts0 carries the ORIGINAL timeline value so the
            # final select can rebuild each step time as
            # ts + (__ti - __t0) µs — interval arithmetic preserves
            # the source type (TIMESTAMP vs TIMESTAMP_NTZ), matching
            # the DF backend's cast-back-to-ts_type (ADVICE r14; the
            # emitter has column NAMES only, so a literal CAST to the
            # source type is not expressible here).
            base = (
                f"SELECT {ksel}"
                f" unix_micros(CAST({_q(ts)} AS TIMESTAMP)) AS __sq_tsm,"
                f" {_q(ts)} AS __sq_ts0, {preds}"
                f" FROM {inner}"
            )
            any_p = " OR ".join(
                f"coalesce(__sq_p{i}, FALSE)" for i in range(n)
            )
            cur = f"SELECT * FROM ({base}) WHERE {any_p}"
            part = (
                f"PARTITION BY {', '.join(_q(k) for k in keys)} "
                if keys else ""
            )
            # strictly-after on the integral micro timestamp: RANGE
            # (unbounded preceding, 1 preceding) over DESC order ⇒
            # rows with ts >= current + 1 µs
            win = (
                f"OVER ({part}ORDER BY __sq_tsm DESC"
                " RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
            )
            # backward struct-min recurrence: __sq_g{j} carries the
            # greedy tail for steps j..n-1 strictly after this row
            # (the last step is a bare-long min — no 1-field struct)
            for j in range(n - 1, 0, -1):
                payload = (
                    "__sq_tsm"
                    if j == n - 1
                    else f"named_struct('t', __sq_tsm, 'g', __sq_g{j + 1})"
                )
                cur = (
                    f"SELECT *, min(CASE WHEN __sq_p{j} THEN"
                    f" {payload} END) {win} AS __sq_g{j}"
                    f" FROM ({cur})"
                )
            tsel = ["__sq_ts0", "__sq_tsm AS __t0"]
            path = "__sq_g1"
            for i in range(1, n):
                tsel.append(
                    (path if i == n - 1 else f"{path}.t") + f" AS __t{i}"
                )
                path += ".g"
            cur = (
                f"SELECT {ksel}{', '.join(tsel)} FROM ({cur})"
                " WHERE __sq_p0"
            )
            conds = [
                f"__t{i} IS NOT NULL AND __t{i}"
                f" <= __t{i - 1} + {op.step_usec}"
                for i in range(1, n)
            ] + [
                f"__t{n - 1}"
                f" <= __t0 + {op.span_usec}"
            ]
            outs = ", ".join(
                (
                    "__sq_ts0"
                    if i == 0
                    else (
                        f"__sq_ts0 + (__t{i} - __t0)"
                        " * INTERVAL '1' MICROSECOND"
                    )
                )
                + f" AS {_q(f'{names[i]}_{ts}')}"
                for i in range(n)
            )
            return (
                f"SELECT {ksel}{outs} FROM ({cur})"
                f" WHERE {' AND '.join(f'({c})' for c in conds)}",
                [*keys, *[f"{names[i]}_{ts}" for i in range(n)]],
            )
        if isinstance(op, ConsumeOp):
            return f"SELECT * FROM {inner} LIMIT 0", cols
        if isinstance(op, ReduceOp):
            val = f"CAST({self.expr(op.expr)} AS STRING)"
            pat = (
                f"regexp_replace(regexp_replace({val},"
                " '[0-9A-Fa-f]{8,}', '*'), '[0-9]+', '*')"
            )
            return (
                f"SELECT {pat} AS `Pattern`, count(1) AS `Count`,"
                f" min({val}) AS `Representative` FROM {inner}"
                f" GROUP BY {pat}",
                ["Pattern", "Count", "Representative"],
            )
        if isinstance(op, MvApplyOp):
            return self._emit_mv_apply(op, inner, cols)
        if isinstance(op, InvokeOp):
            # tabular-bodied let-function: bind the piped subquery to
            # the function's first (tabular) parameter — the same
            # named-subquery device as `as`/tabular-let — and
            # substitute scalar args textually like the scalar-let
            # inliner in call() (mirrors compiler.py's InvokeOp)
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
            from .parser import _DATATABLE_TYPES

            tab_name = fd.params[0][0]
            saved_bound = self.bound.get(tab_name)
            saved_scope = dict(self.scope)
            self.bound[tab_name] = (sql, cols)
            for (pname, ptype), a in zip(fd.params[1:], op.args):
                psql = self.expr(a)
                if ptype is not None:
                    psql = f"CAST({psql} AS {_DATATABLE_TYPES[ptype]})"
                self.scope[pname] = psql
            self._inlining.add(op.name)
            try:
                return self.emit_query(fd.tab_body)
            finally:
                self._inlining.discard(op.name)
                self.scope = saved_scope
                if saved_bound is None:
                    self.bound.pop(tab_name, None)
                else:
                    self.bound[tab_name] = saved_bound
        if isinstance(op, SearchOp):
            term = _qs(op.term.lower())
            hits = " OR ".join(
                f"contains(lower(CAST({_q(c)} AS STRING)), {term})"
                for c in cols
            )
            return (
                f"SELECT * FROM {inner} WHERE coalesce({hits}, FALSE)",
                cols,
            )
        raise ParseError(
            f"SQL backend: unsupported operator {type(op).__name__}", op.span
        )

    def _emit_mv_apply(
        self, op: MvApplyOp, inner: str, cols: list[str]
    ) -> tuple[str, list[str]]:
        """KQL mv-apply on the SQL backend — mirrors the DataFrame
        compiler's plan exactly (compiler.py _mv_apply): synthetic
        record id + one explode over an index sequence; inner
        where/extend/project stay row-local, sort+take/top become a
        per-record rank window, summarize a GROUP BY on the record id
        with record-constant columns carried via first()."""
        ROW, IDX = "__mv_row", "__mv_idx"
        names = [self.col_spec(c)[0] for c in op.cols]
        # bare array EXPRESSIONS (col_spec's item carries the alias)
        arrs = [
            self.expr(c.expr) if c.expr is not None else _q(c.name)
            for c in op.cols
        ]
        # Record key: monotonically_increasing_id() is nondeterministic
        # in the Spark sense (ids depend on partition layout).  The
        # re-keying-on-retry hazard is closed by Spark itself: plans
        # containing indeterminate expressions mark their stage
        # indeterminate, and on a fetch-failure retry the DAGScheduler
        # rolls back and recomputes the WHOLE stage (SPARK-23207 /
        # SPARK-25341), so the explode below can never mix ids from two
        # different key assignments.  A natural unique key would avoid
        # even the rollback cost, but mv-apply's piped input has none
        # in general.
        keyed = (
            f"SELECT *, monotonically_increasing_id() AS {ROW}"
            f" FROM {inner}"
        )
        sizes = [f"size({a})" for a in arrs]
        n = sizes[0] if len(sizes) == 1 else f"greatest({', '.join(sizes)})"
        mid = (
            f"SELECT *, explode(CASE WHEN {n} > 0 THEN"
            f" sequence(0, {n} - 1) END) AS {IDX} FROM ({keyed})"
        )
        elems = {
            name: f"try_element_at({a}, {IDX} + 1)"
            for name, a in zip(names, arrs)
        }
        order = list(cols)
        for name in names:
            if name not in order:
                order.append(name)
        items = [
            f"{elems[c]} AS {_q(c)}" if c in elems else _q(c)
            for c in order
        ]
        sql = (
            f"SELECT {', '.join(items)}, {ROW}, {IDX} FROM ({mid})"
        )
        cur = list(order)
        record_cols = [c for c in order if c not in names]
        has_idx = True
        pend_sort: list[SortTerm] | None = None

        def hidden() -> list[str]:
            return [ROW] + ([IDX] if has_idx else [])

        for iop in op.ops:
            if isinstance(iop, WhereOp):
                sql = (
                    f"SELECT * FROM ({sql})"
                    f" WHERE {self.expr(iop.predicate)}"
                )
            elif isinstance(iop, ExtendOp):
                out = list(cur)
                eitems = [_q(c) for c in cur]
                for c in iop.cols:
                    nm, item = self.col_spec(c)
                    if nm in out:
                        eitems[out.index(nm)] = item
                    else:
                        out.append(nm)
                        eitems.append(item)
                sql = (
                    f"SELECT {', '.join(eitems)},"
                    f" {', '.join(hidden())} FROM ({sql})"
                )
                cur = out
            elif isinstance(iop, ProjectOp):
                pitems, pnames = [], []
                for c in iop.cols:
                    nm, item = self.col_spec(c)  # item carries AS
                    pnames.append(nm)
                    pitems.append(item)
                sql = (
                    f"SELECT {', '.join(pitems)},"
                    f" {', '.join(hidden())} FROM ({sql})"
                )
                cur = pnames
            elif isinstance(iop, SortOp):
                pend_sort = iop.terms
            elif isinstance(iop, (TakeOp, TopOp)):
                terms = (
                    [iop.term]
                    if isinstance(iop, TopOp)
                    else pend_sort
                )
                if terms:
                    order_sql = ", ".join(
                        self.sort_term(t) for t in terms
                    )
                elif has_idx:
                    order_sql = IDX
                else:
                    raise ParseError(
                        "mv-apply: take after summarize needs a "
                        "preceding sort",
                        iop.span,
                    )
                keep = [_q(c) for c in cur] + hidden()
                sql = (
                    f"SELECT {', '.join(keep)} FROM ("
                    f"SELECT *, row_number() OVER (PARTITION BY {ROW}"
                    f" ORDER BY {order_sql}) AS __mv_rn FROM ({sql})"
                    f") WHERE __mv_rn <= {self._limit(iop.count)}"
                )
                pend_sort = None
            elif isinstance(iop, SummarizeOp):
                key_names, key_items = [], []
                for c in iop.keys:
                    nm, item = self.col_spec(c)  # item carries AS
                    key_names.append(nm)
                    key_items.append(item)
                agg_names, agg_items = [], []
                for c in iop.aggs:
                    nm, item = self.col_spec(c)
                    agg_names.append(nm)
                    agg_items.append(item)
                carried = [
                    c
                    for c in record_cols
                    if c in cur
                    and c not in key_names
                    and c not in agg_names
                ]
                firsts = [
                    f"first({_q(c)}) AS {_q(c)}" for c in carried
                ]
                sel = ", ".join(
                    firsts + key_items + agg_items + [ROW]
                )
                # GROUP BY on the select ALIASES (the main summarize
                # emitter's device)
                grp = ", ".join(
                    [ROW] + [_q(nm) for nm in key_names]
                )
                sql = (
                    f"SELECT {sel} FROM ({sql}) GROUP BY {grp}"
                )
                # record columns first, then keys, then aggregates —
                # matches the DataFrame compiler's output order
                cur = carried + key_names + agg_names
                record_cols = carried
                has_idx = False
                pend_sort = None
            else:
                raise ParseError(
                    "mv-apply: unsupported operator in subquery "
                    "(use where/extend/project/sort/take/top/"
                    "summarize)",
                    iop.span,
                )
        final = ", ".join(_q(c) for c in cur)
        if pend_sort is not None:
            terms = ", ".join(self.sort_term(t) for t in pend_sort)
            sql = f"SELECT * FROM ({sql}) ORDER BY {ROW}, {terms}"
        return f"SELECT {final} FROM ({sql})", cur

    def _emit_mv_expand_zip(
        self, op: MvExpandOp, inner: str, cols: list[str]
    ) -> tuple[str, list[str]]:
        """Multi-column mv-expand: explode one index sequence sized to
        the longest array, then ``try_element_at`` per array (zip-to-
        longest, null-padded — mirrors the DataFrame compiler)."""
        specs = [self.col_spec(c) for c in op.cols]
        exprs = [self.expr(c.expr) for c in op.cols]
        sizes = [f"size({e})" for e in exprs]
        n = sizes[0] if len(sizes) == 1 else f"greatest({', '.join(sizes)})"
        # CASE guard: sequence(0, -1) counts down; NULL → explode drops row
        mid = (
            f"SELECT *, explode(CASE WHEN {n} > 0 THEN"
            f" sequence(0, {n} - 1) END) AS __mvx_idx FROM ({inner})"
        )
        names = [name for name, _ in specs]
        # slice(e, 1, size(e)) is an identity for arrays but a type
        # error for maps — surfaces map inputs at analysis time instead
        # of silently key-looking-up integer indexes (no schema is
        # available in the text backend to reject earlier)
        elems = {
            name: (
                f"try_element_at(slice({e}, 1, size({e})),"
                f" __mvx_idx + 1) AS {_q(name)}"
            )
            for (name, _), e in zip(specs, exprs)
        }
        order = list(cols)
        if op.itemindex is not None:
            if op.itemindex in cols:
                raise ParseError(
                    f"mv-expand with_itemindex: column"
                    f" {op.itemindex!r} already exists",
                    op.span,
                )
            order.append(op.itemindex)
            elems[op.itemindex] = f"__mvx_idx AS {_q(op.itemindex)}"
        for name in names:
            if name not in order:
                order.append(name)
        items = ", ".join(elems.get(c, _q(c)) for c in order)
        return f"SELECT {items} FROM ({mid})", order

    def _emit_partition(
        self, op: PartitionOp, inner: str, cols: list[str]
    ) -> tuple[str, list[str]]:
        """``partition by Col (…)`` — same shuffle-free-iteration plan
        as the DataFrame backend: rank windows for top/take, key-prefixed
        GROUP BY for summarize."""
        pcol = op.col.parts[0]
        if pcol not in cols:
            raise ParseError(
                f"partition by: unknown column {pcol!r}", op.col.span
            )
        sql = f"SELECT * FROM {inner}"
        pend_sort: list[SortTerm] | None = None
        from .ast_nodes import ExtendOp as _Ext
        from .ast_nodes import WhereOp as _Wh

        for iop in op.ops:
            if isinstance(iop, (_Wh, _Ext)):
                sql, cols = self.emit_op(iop, sql, cols)
            elif isinstance(iop, ProjectOp):
                specs = [self.col_spec(s) for s in iop.cols]
                names = [n for n, _ in specs]
                items = [e for _, e in specs]  # items carry their AS
                if pcol not in names:
                    items.insert(0, _q(pcol))
                    names.insert(0, pcol)
                sql = f"SELECT {', '.join(items)} FROM ({sql})"
                cols = names
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
                order = ", ".join(self.sort_term(t) for t in terms)
                n = self.expr(iop.count)
                keep = ", ".join(_q(c) for c in cols)
                sql = (
                    f"SELECT {keep} FROM (SELECT *, ROW_NUMBER() OVER ("
                    f"PARTITION BY {_q(pcol)} ORDER BY {order})"
                    f" AS __pt_rn FROM ({sql})) WHERE __pt_rn <= {n}"
                )
                pend_sort = None
            elif isinstance(iop, SummarizeOp):
                kspecs = [self.col_spec(s) for s in iop.keys]
                aspecs = [self.col_spec(s) for s in iop.aggs]
                items = (
                    [_q(pcol)]
                    + [e for _, e in kspecs]  # items carry their AS
                    + [e for _, e in aspecs]
                )
                # group by output aliases (Spark resolves select aliases
                # in GROUP BY)
                group = ", ".join(
                    [_q(pcol)] + [_q(n) for n, _ in kspecs]
                )
                sql = (
                    f"SELECT {', '.join(items)} FROM ({sql})"
                    f" GROUP BY {group}"
                )
                cols = [pcol] + [n for n, _ in kspecs] + [
                    n for n, _ in aspecs
                ]
                pend_sort = None
            else:
                raise ParseError(
                    "partition: unsupported operator in subquery "
                    "(where/extend/project/sort/take/top/summarize)",
                    iop.span,
                )
        if pend_sort is not None:
            raise ParseError(
                "partition: sort is only supported when followed by"
                " take/top (per-partition order has no standalone"
                " result ordering)",
                pend_sort[0].expr.span,
            )
        return sql, cols

    def _emit_graph_match(
        self, op: GraphMatchOp
    ) -> tuple[str, list[str]]:
        """Text twin of ``compiler._graph_match``: fixed-length path
        patterns over the ``make-graph`` edge relation as N-1 hash
        equi-joins on node ids; a bounded var-length edge expands into
        a UNION ALL of fixed-length chains.  Each edge var is one
        aliased copy of the edge subquery with columns flat-renamed
        ``e.col`` (one QUOTED identifier containing a dot — the same
        names the DataFrame backend produces), node vars get ``n.id``
        plus left-joined node attributes with a BROADCAST hint (the
        node-attribute table is the small side at any scale)."""
        from itertools import product

        if self._graph is None:
            raise ParseError(
                "graph-match requires a preceding 'make-graph'", op.span
            )
        ranges = [range(e.min_hops, e.max_hops + 1) for e in op.edges]
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
                self._emit_graph_match_fixed(nodes2, edges2, op)
            )
        names = frames[0][1]
        if len(frames) == 1:
            return frames[0]
        union = " UNION ALL ".join(f"({s})" for s, _ in frames)
        return union, names

    def _emit_graph_match_fixed(
        self,
        pat_nodes: list[str],
        pat_edges: "list[GraphEdge]",
        op: GraphMatchOp,
    ) -> tuple[str, list[str]]:
        edges_sql, edge_cols, src, dst, nodes_sql, nodes_cols, node_id = (
            self._graph
        )

        def edge_rel(var: str, alias: str) -> str:
            items = ", ".join(
                f"{_q(c)} AS {_q(f'{var}.{c}')}" for c in edge_cols
            )
            return (
                f"(SELECT {items} FROM ({edges_sql})"
                f" AS {_q(alias + '_e')}) AS {_q(alias)}"
            )

        flat: list[str] = []
        seen: dict[str, str] = {}  # node var -> endpoint column name
        from_sql = ""
        for i, e in enumerate(pat_edges):
            rel = edge_rel(e.var, f"__ge{i}")
            flat.extend(f"{e.var}.{c}" for c in edge_cols)
            left_ep = f"{e.var}.{dst if e.reverse else src}"
            right_ep = f"{e.var}.{src if e.reverse else dst}"
            if not from_sql:
                from_sql = rel
            else:
                conds = [
                    f"{_q(seen[var])} = {_q(ep)}"
                    for var, ep in (
                        (pat_nodes[i], left_ep),
                        (pat_nodes[i + 1], right_ep),
                    )
                    if var in seen
                ]
                if not conds:  # unreachable for a linear pattern
                    raise ParseError(
                        "graph-match: pattern must be connected",
                        op.span,
                    )
                from_sql += f" JOIN {rel} ON {' AND '.join(conds)}"
            seen.setdefault(pat_nodes[i], left_ep)
            seen.setdefault(pat_nodes[i + 1], right_ep)
        # node id aliases + node attributes (synthetic intermediate
        # nodes of a var-length expansion get neither)
        seen = {
            v: ep for v, ep in seen.items()
            if not v.startswith("__gn_")
        }
        id_items = []
        for var, ep in seen.items():
            if f"{var}.id" not in flat:
                id_items.append(f"{_q(ep)} AS {_q(var + '.id')}")
                flat.append(f"{var}.id")
        hints = []
        if nodes_sql is not None:
            for k, (var, ep) in enumerate(seen.items()):
                alias = f"__gn{k}"
                items = ", ".join(
                    f"{_q(c)} AS {_q(f'{var}.{c}')}"
                    for c in nodes_cols
                )
                from_sql += (
                    f" LEFT JOIN (SELECT {items} FROM ({nodes_sql})"
                    f" AS {_q(alias + '_n')}) AS {_q(alias)}"
                    f" ON {_q(ep)} = {_q(f'{var}.{node_id}')}"
                )
                flat.extend(f"{var}.{c}" for c in nodes_cols)
                hints.append(alias)
        hint = (
            f"/*+ BROADCAST({', '.join(hints)}) */ " if hints else ""
        )
        id_sel = "".join(f", {item}" for item in id_items)
        inner = f"SELECT {hint}*{id_sel} FROM {from_sql}"
        prev_flat = self._flat_cols
        self._flat_cols = frozenset(flat)
        try:
            where_sql = (
                f" WHERE {self.expr(op.where)}"
                if op.where is not None
                else ""
            )
            items, names = [], []
            for c in op.project:
                name, item = self.col_spec(c)
                items.append(item)
                names.append(name)
        finally:
            self._flat_cols = prev_flat
        return (
            f"SELECT {', '.join(items)} FROM ({inner})"
            f" AS {_q('__gm')}{where_sql}",
            names,
        )

    def emit_make_series(
        self, op: MakeSeriesOp, sql: str, cols: list[str]
    ) -> tuple[str, list[str]]:
        on = _q(op.on.parts[0])
        if isinstance(op.step, (StringLit, TimespanLit)):
            usec = (
                op.step.microseconds
                if isinstance(op.step, TimespanLit)
                else _duration_usec(op.step.value, op.step.span)
            )
            fr = f"CAST({self.expr(op.start)} AS TIMESTAMP)"
            to = f"CAST({self.expr(op.stop)} AS TIMESTAMP)"
            bin_i = (
                f"CAST(floor((unix_micros({on}) - unix_micros({fr}))"
                f" / {usec}) AS BIGINT)"
            )
            nbins = (
                f"CAST(ceil((unix_micros({to}) - unix_micros({fr}))"
                f" / {usec}) AS INT)"
            )
            axis = (
                f"timestamp_micros(CAST(unix_micros({fr}) + j * {usec}"
                f" AS BIGINT))"
            )
        else:
            step = self.expr(op.step, 5)
            fr = f"({self.expr(op.start)})"
            to = f"({self.expr(op.stop)})"
            bin_i = f"CAST(floor(({on} - {fr}) / {step}) AS BIGINT)"
            nbins = f"CAST(ceil(({to} - {fr}) / {step}) AS INT)"
            axis = f"({fr} + j * {step})"
        filt = (
            f"SELECT * FROM ({sql}) WHERE {on} >= {fr} AND {on} < {to}"
        )
        key_items, key_names = [], []
        for c in op.keys:
            name, item = self.col_spec(c)
            key_items.append(item)
            key_names.append(name)
        agg_items = [
            f"{self.expr(s.col.expr)} AS {_q(f'__v{i}')}"
            for i, s in enumerate(op.series)
        ]
        g_select = ", ".join(
            key_items + [f"{bin_i} AS {_q('__bin')}"] + agg_items
        )
        group_cols = [_q(n) for n in key_names] + [_q("__bin")]
        g = (
            f"SELECT {g_select} FROM ({filt})"
            f" GROUP BY {', '.join(group_cols)}"
        )
        map_items = [
            f"map_from_entries(collect_list(struct({_q('__bin')},"
            f" {_q(f'__v{i}')}))) AS {_q(f'__m{i}')}"
            for i in range(len(op.series))
        ]
        m_select = ", ".join([_q(n) for n in key_names] + map_items)
        m = f"SELECT {m_select} FROM ({g})"
        if key_names:
            m += f" GROUP BY {', '.join(_q(n) for n in key_names)}"
        seq = f"sequence(0, CAST({nbins} AS BIGINT) - 1)"
        out_items = [_q(n) for n in key_names]
        out_names = list(key_names)
        for i, s in enumerate(op.series):
            name = (
                s.col.name
                if s.col.name is not None
                else s.col.expr.source(self.text).strip()
            )
            default = (
                self.expr(s.default) if s.default is not None else "NULL"
            )
            out_items.append(
                f"transform({seq}, j -> coalesce(element_at("
                f"{_q(f'__m{i}')}, j), {default})) AS {_q(name)}"
            )
            out_names.append(name)
        out_items.append(f"transform({seq}, j -> {axis}) AS {on}")
        out_names.append(op.on.parts[0])
        return f"SELECT {', '.join(out_items)} FROM ({m})", out_names

    def emit_lookup(
        self, op: LookupOp, left_sql: str, left_cols: list[str]
    ) -> tuple[str, list[str]]:
        right_sql, right_cols = self.emit_query(op.right)
        keys = [k.parts[0] for k in op.keys]
        for ident, k in zip(op.keys, keys):
            if k not in left_cols:
                raise ParseError(
                    f"lookup key {k!r} not found on left side", ident.span
                )
            if k not in right_cols:
                raise ParseError(
                    f"lookup key {k!r} not found in lookup table", ident.span
                )
        kind = "LEFT JOIN" if op.flavor == "leftouter" else "JOIN"
        on = " AND ".join(
            f"{_q('$left')}.{_q(k)} = {_q('$right')}.{_q(k)}" for k in keys
        )
        out_items, out_names = [], []
        for c in left_cols:
            out_items.append(f"{_q('$left')}.{_q(c)} AS {_q(c)}")
            out_names.append(c)
        for c in right_cols:
            if c in keys:
                continue  # key appears once, from the left
            name = f"$right.{c}" if c in left_cols else c
            out_items.append(f"{_q('$right')}.{_q(c)} AS {_q(name)}")
            out_names.append(name)
        sql = (
            f"SELECT /*+ BROADCAST({_q('$right')}) */ {', '.join(out_items)}"
            f" FROM ({left_sql}) AS {_q('$left')}"
            f" {kind} ({right_sql}) AS {_q('$right')} ON {on}"
        )
        return sql, out_names

    def emit_top_nested(
        self, op: TopNestedOp, inner: str, cols: list[str]
    ) -> tuple[str, list[str]]:
        """SQL twin of KQL ``top-nested`` (incl. ``with others``):
        level i is ONE GROUP BY over the source (all surviving key
        expressions re-emitted), an equi-join against level i-1's
        survivors, and a ``row_number`` rank window per parent
        combination (``ORDER BY``+``LIMIT`` at level 1).  ``with
        others`` relabels non-surviving keys via a LEFT JOIN against
        the survivor mark set and re-aggregates, exactly like the
        DataFrame path (`compiler._top_nested`)."""

        def name_expr(spec: ColSpec) -> tuple[str, str]:
            if spec.name is not None and spec.expr is not None:
                return spec.name, self.expr(spec.expr)
            if spec.name is not None:
                return spec.name, _q(spec.name)
            return (
                spec.expr.source(self.text).strip(),
                self.expr(spec.expr),
            )

        key_names: list[str] = []
        out_names: list[str] = []
        key_exprs: list[str] = []
        has_others = any(lvl.others is not None for lvl in op.levels)
        sel: str | None = None  # survivors SQL: k1, a1, …, ki, ai
        cur = f"SELECT * FROM {inner}"  # row frame (others path)
        cur_cols = list(cols)

        for lvl in op.levels:
            kname, kexpr = name_expr(lvl.key)
            aname, aexpr = name_expr(lvl.agg)
            for name in (kname, aname):
                if name in out_names:
                    raise ParseError(
                        f"top-nested: duplicate output column"
                        f" {name!r} — name the key/aggregate"
                        " (Name = expr)",
                        lvl.span,
                    )
            prev = list(key_names)

            def topk(base: str) -> str:
                order = (
                    f"{_q(aname)} {'ASC' if lvl.asc else 'DESC'},"
                    f" {_q(kname)} ASC"
                )
                if lvl.count is None:
                    return base
                n = self.expr(lvl.count)
                if prev:
                    part = ", ".join(_q(p) for p in prev)
                    keep = ", ".join(
                        _q(c) for c in (*out_names, kname, aname)
                    )
                    return (
                        f"SELECT {keep} FROM (SELECT *, row_number()"
                        f" OVER (PARTITION BY {part} ORDER BY {order})"
                        f" AS __tn_rn FROM ({base}) AS __tn_r)"
                        f" AS __tn_w WHERE __tn_rn <= {n}"
                    )
                return f"SELECT * FROM ({base}) ORDER BY {order} LIMIT {n}"

            def joined(grouped: str) -> str:
                if sel is None:
                    return grouped
                on = " AND ".join(
                    f"__tn_g.{_q(p)} = __tn_p.{_q(p)}" for p in prev
                )
                items = ", ".join(
                    [f"__tn_p.{_q(c)}" for c in out_names]
                    + [f"__tn_g.{_q(kname)}", f"__tn_g.{_q(aname)}"]
                )
                return (
                    f"SELECT {items} FROM ({grouped}) AS __tn_g"
                    f" JOIN ({sel}) AS __tn_p ON {on}"
                )

            if not has_others:
                gitems = ", ".join(
                    [
                        f"{e} AS {_q(n)}"
                        for e, n in zip(key_exprs, key_names)
                    ]
                    + [f"{kexpr} AS {_q(kname)}", f"{aexpr} AS {_q(aname)}"]
                )
                gby = ", ".join((*key_exprs, kexpr))
                grouped = (
                    f"SELECT {gitems} FROM {inner} GROUP BY {gby}"
                )
                sel = topk(joined(grouped))
            else:
                # materialize this level's key on the row frame
                # (extend semantics: replace in place if it exists)
                if kname in cur_cols:
                    items = ", ".join(
                        f"{kexpr} AS {_q(c)}" if c == kname else _q(c)
                        for c in cur_cols
                    )
                else:
                    items = ", ".join(
                        [_q(c) for c in cur_cols]
                        + [f"{kexpr} AS {_q(kname)}"]
                    )
                    cur_cols.append(kname)
                cur = f"SELECT {items} FROM ({cur}) AS __tn_c"
                keys_i = ", ".join(_q(n) for n in (*prev, kname))
                grouped = (
                    f"SELECT {keys_i}, {aexpr} AS {_q(aname)}"
                    f" FROM ({cur}) AS __tn_s GROUP BY {keys_i}"
                )
                survivors = topk(joined(grouped))
                if lvl.others is None:
                    sel = survivors
                else:
                    label = _qs(lvl.others)
                    marks = (
                        f"SELECT {keys_i}, TRUE AS __tn_m"
                        f" FROM ({survivors}) AS __tn_sv"
                    )
                    mon = " AND ".join(
                        f"__tn_c.{_q(n)} = __tn_m.{_q(n)}"
                        for n in (*prev, kname)
                    )
                    citems = ", ".join(
                        (
                            f"CASE WHEN __tn_m.__tn_m THEN"
                            f" __tn_c.{_q(c)} ELSE {label} END"
                            f" AS {_q(c)}"
                        )
                        if c == kname
                        else f"__tn_c.{_q(c)}"
                        for c in cur_cols
                    )
                    cur = (
                        f"SELECT {citems} FROM ({cur}) AS __tn_c"
                        f" LEFT JOIN ({marks}) AS __tn_m ON {mon}"
                    )
                    regrouped = (
                        f"SELECT {keys_i}, {aexpr} AS {_q(aname)}"
                        f" FROM ({cur}) AS __tn_s GROUP BY {keys_i}"
                    )
                    sel = joined(regrouped)
            key_names.append(kname)
            key_exprs.append(kexpr)
            out_names.extend((kname, aname))
        final = ", ".join(_q(n) for n in out_names)
        return f"SELECT {final} FROM ({sel}) AS __tn_o", out_names

    def emit_ipv4_lookup(
        self, op: Ipv4LookupOp, left_sql: str, left_cols: list[str]
    ) -> tuple[str, list[str]]:
        """SQL twin of ``evaluate ipv4_lookup`` / ``ipv6_lookup``:
        broadcast the parsed lookup, CROSS JOIN the (≤33-row v4 /
        ≤129-row v6) distinct-prefix set, hash equi-join on (prefix,
        masked ip).  The v6 branch pre-computes the fact side's
        32-nibble hex canon ONCE in a subquery so the parse doesn't
        re-run per (row × prefix).  The DataFrame-only
        ``return_unmatched`` flag is rejected (it needs generated row
        identity)."""
        pname = "ipv6_lookup" if op.v6 else "ipv4_lookup"
        if op.return_unmatched:
            raise ParseError(
                f"{pname}: return_unmatched is only supported on"
                " the DataFrame backend",
                op.span,
            )
        right_sql, right_cols = self.emit_query(op.right)
        ip_name = op.ip_col.parts[0]
        if ip_name not in left_cols:
            raise ParseError(
                f"{pname}: unknown source ip column {ip_name!r}",
                op.ip_col.span,
            )
        range_name = op.range_col.parts[0]
        if range_name not in right_cols:
            raise ParseError(
                f"{pname}: unknown ip-range column {range_name!r}"
                " in the lookup table",
                op.range_col.span,
            )

        def masked4(v: str, prefix: str) -> str:
            return (
                f"(CASE WHEN ({prefix}) BETWEEN 0 AND 32 THEN"
                f" CAST(floor({v} / power(2.0D, 32 - ({prefix})))"
                f" AS BIGINT) END)"
            )

        P, RKEY = "__pql_ip_pfx", "__pql_ip_rkey"
        CANON, PAIR = "__pql_ip_canon", "__pql_ip_pair"
        if op.v6:
            base = _sql_hex32(_sql_slash_addr(_q(range_name)))
            pfx = _sql_range_prefix6(_q(range_name))
            rmask = _sql_pair_masked(_sql_ipv6_pair(base), pfx)
        else:
            rng = f"split({_q(range_name)}, '/')"
            base = _sql_ip_long(f"try_element_at({rng}, 1)")
            pfx = (
                f"COALESCE(TRY_CAST(try_element_at({rng}, 2)"
                " AS BIGINT), 32)"
            )
            rmask = masked4(base, pfx)
        parsed = (
            f"SELECT * FROM (SELECT *, {pfx} AS {_q(P)},"
            f" {rmask} AS {_q(RKEY)} FROM ({right_sql})"
            f" AS {_q('__pql_ipt')}) AS {_q('__pql_ipp')}"
            f" WHERE {_q(RKEY)} IS NOT NULL"
        )
        out_items, out_names = [], []
        for c in left_cols:
            out_items.append(f"{_q('$left')}.{_q(c)} AS {_q(c)}")
            out_names.append(c)
        for c in right_cols:
            name = f"$right.{c}" if c in left_cols else c
            out_items.append(f"{_q('$right')}.{_q(c)} AS {_q(name)}")
            out_names.append(name)
        # LITERAL-datatable lookups (the typical threat-intel/geo
        # list): the distinct prefix set is known at COMPILE time, so
        # the emission mirrors the DataFrame compiler's Generate shape
        # exactly — one LATERAL VIEW explode of per-prefix
        # (prefix, masked-key) structs, each key a literal-mask
        # bitwise AND (v6) / literal shiftrightunsigned (v4) over the
        # ONCE-projected parse, then one broadcast hash equi-join.
        # This avoids the cross-join fallback below, whose executed
        # plan is a BroadcastNestedLoopJoin widening the FULL fact row
        # (maps/strings included) |prefixes|× before the hash join.
        from .compiler import literal_lookup_prefixes

        right_ast = op.right
        if (
            not right_ast.operators
            and isinstance(right_ast.source, TableRef)
            and right_ast.source.name in self.bound_ast
        ):
            # follow a tabular-let binding to its underlying AST (the
            # gate-typical `let nets = datatable(...)` shape)
            right_ast = self.bound_ast[right_ast.source.name]
        pfx_vals = literal_lookup_prefixes(
            right_ast, op.range_col.parts[0], op.v6
        )
        if pfx_vals is not None:
            from .functions import _mask64

            IPP, LKEY = "__pql_ip_parsed", "__pql_ip_lkey"
            # the width hint sits on a bare passthrough block BELOW
            # the parse projections: the expensive parse then runs
            # ABOVE the exchange, i.e. cluster-wide — the SQL twin of
            # rebalance()-then-parse.  The hint must carry an EXPLICIT
            # number: argless REBALANCE/REPARTITION shuffles are
            # AQE-coalescible, and on small shuffle bytes AQE folded
            # the exchange back to the raw 1-2 scan splits,
            # serializing the per-row parse (measured 13 s vs 2.8 s at
            # sf1 for the v6 lookup).  CollapseProject keeps the parse
            # projections separate (the canon is referenced several
            # times, above its inline-cost threshold).
            rep = (
                f"REPARTITION({self.width})" if self.width
                else "REPARTITION"
            )
            wide = (
                f"(SELECT /*+ {rep} */ * FROM ({left_sql})"
                f" AS {_q('__pql_iplw')})"
            )
            if op.v6:
                lsrc = (
                    f"(SELECT *,"
                    f" {_sql_ipv6_pair(_q(CANON))} AS {_q(IPP)}"
                    f" FROM (SELECT *, {_sql_hex32(_q(ip_name))}"
                    f" AS {_q(CANON)} FROM {wide}"
                    f" AS {_q('__pql_ipl')}) AS {_q('__pql_iplc')})"
                )

                def key(p: int) -> str:
                    mh = _mask64(min(p, 64))
                    ml = _mask64(p - 64)
                    return (
                        f"named_struct('h', ({_q(IPP)}).h"
                        f" & CAST('{mh}' AS BIGINT),"
                        f" 'l', ({_q(IPP)}).l"
                        f" & CAST('{ml}' AS BIGINT))"
                    )

                ktype = "struct<h:bigint,l:bigint>"
            else:
                lsrc = (
                    f"(SELECT *,"
                    f" {_sql_ip_long(_q(ip_name))} AS {_q(IPP)}"
                    f" FROM {wide} AS {_q('__pql_ipl')})"
                )

                def key(p: int) -> str:
                    # v >>> (32-p) on a uint32-as-long is
                    # equality-identical to the parsed side's
                    # floor(v / 2^(32-p)) for v >= 0
                    if p >= 32:
                        return _q(IPP)
                    return (
                        f"shiftrightunsigned({_q(IPP)}, {32 - p})"
                    )

                ktype = "bigint"
            if pfx_vals:
                structs = ", ".join(
                    f"named_struct('p', CAST({p} AS BIGINT),"
                    f" 'k', {key(p)})"
                    for p in pfx_vals
                )
                pairs = (
                    f"(CASE WHEN {_q(IPP)} IS NOT NULL"
                    f" THEN array({structs}) END)"
                )
            else:  # no valid CIDR in the lookup → nothing can match
                pairs = (
                    f"CAST(array() AS"
                    f" array<struct<p:bigint,k:{ktype}>>)"
                )
            keyed = (
                f"(SELECT *, {_q('__pql_pk')}.p AS {_q(P)},"
                f" {_q('__pql_pk')}.k AS {_q(LKEY)}"
                f" FROM {lsrc} AS {_q('__pql_ipkb')}"
                f" LATERAL VIEW explode({pairs}) {_q('__pql_pkt')}"
                f" AS {_q('__pql_pk')})"
            )
            sql = (
                f"SELECT /*+ BROADCAST({_q('$right')}) */"
                f" {', '.join(out_items)}"
                f" FROM {keyed} AS {_q('$left')}"
                f" JOIN ({parsed}) AS {_q('$right')}"
                f" ON {_q('$left')}.{_q(P)} = {_q('$right')}.{_q(P)}"
                f" AND {_q('$left')}.{_q(LKEY)}"
                f" = {_q('$right')}.{_q(RKEY)}"
            )
            return sql, out_names
        # table-backed lookups: the prefixes are data, so fall back to
        # the distinct-prefix CROSS JOIN.  The fact-side parse
        # subqueries carry a REBALANCE hint: the exchange spreads a
        # 1-2-split parquet scan across the cluster instead of
        # serializing the key work and materializes the parse below it
        # (measured at sf1: v4 6.1 → 3.9 s, v6 14.9 → 12.8 s — the
        # BroadcastNestedLoopJoin row-widening noted above is the
        # remaining cost of this shape).
        rep = (
            f"REPARTITION({self.width})" if self.width
            else "REPARTITION"
        )
        wide = (
            f"(SELECT /*+ {rep} */ * FROM ({left_sql})"
            f" AS {_q('__pql_iplw')})"
        )
        if op.v6:
            # fact-side canon → (h, l) pair computed once per row;
            # only the two bitwise-AND masks run per (row × prefix)
            left_src = (
                f"(SELECT *,"
                f" {_sql_ipv6_pair(_q(CANON))} AS {_q(PAIR)}"
                f" FROM (SELECT *, {_sql_hex32(_q(ip_name))}"
                f" AS {_q(CANON)} FROM {wide}"
                f" AS {_q('__pql_ipl')}) AS {_q('__pql_iplc')})"
            )
            lkey = _sql_pair_masked(
                f"{_q('$left')}.{_q(PAIR)}", f"{_q('$p')}.{_q(P)}"
            )
        else:
            # fact-side uint32 parse computed once per row too (the
            # v4 twin of the v6 canon subquery) — only the cheap
            # masked shift runs per (row × prefix)
            left_src = (
                f"(SELECT *,"
                f" {_sql_ip_long(_q(ip_name))} AS {_q(CANON)}"
                f" FROM {wide} AS {_q('__pql_ipl')})"
            )
            lkey = masked4(
                f"{_q('$left')}.{_q(CANON)}", f"{_q('$p')}.{_q(P)}"
            )
        sql = (
            # BOTH small sides hinted: the ≤33-row distinct-prefix set
            # must plan as a Broadcast NESTED-LOOP fan-out (narrow
            # per-row expansion), never a CartesianProduct — without
            # the $p hint Spark's size estimate for the derived
            # DISTINCT aggregate picks Cartesian (seen when the auto
            # backend made this the default execution path, r12)
            f"SELECT /*+ BROADCAST({_q('$right')}, {_q('$p')}) */"
            f" {', '.join(out_items)}"
            f" FROM {left_src} AS {_q('$left')}"
            f" CROSS JOIN (SELECT DISTINCT {_q(P)} FROM ({parsed})"
            f" AS {_q('__pql_ipd')}) AS {_q('$p')}"
            f" JOIN ({parsed}) AS {_q('$right')}"
            f" ON {_q('$right')}.{_q(P)} = {_q('$p')}.{_q(P)}"
            f" AND {lkey} = {_q('$right')}.{_q(RKEY)}"
        )
        return sql, out_names

    def emit_join(
        self, op: JoinOp, left_sql: str, left_cols: list[str]
    ) -> tuple[str, list[str]]:
        right_sql, right_cols = self.emit_query(op.right)
        if op.strategy is not None:
            # KQL hint.strategy → Spark SQL join hint on the right
            # alias (hints pass through Catalyst verbatim)
            hint = {
                "broadcast": "BROADCAST",
                "shuffle": "SHUFFLE_HASH",
                "shuffle_merge": "MERGE",
            }[op.strategy]
            right_sql = (
                f"SELECT /*+ {hint}(__pql_hinted) */ * FROM"
                f" ({right_sql}) AS __pql_hinted"
            )
        if op.flavor == "innerunique":  # dedup whole left (pql.go:201-214)
            left_sql = f"SELECT DISTINCT * FROM ({left_sql})"
        kind = {
            "leftouter": "LEFT JOIN",
            "rightouter": "RIGHT JOIN",
            "fullouter": "FULL JOIN",
            "leftsemi": "LEFT SEMI JOIN",
            "leftanti": "LEFT ANTI JOIN",
            "rightsemi": "LEFT SEMI JOIN",  # sides swapped below
            "rightanti": "LEFT ANTI JOIN",
        }.get(op.flavor, "JOIN")
        self.join_sides = (left_cols, right_cols)
        try:
            conds = [self.join_condition(c) for c in op.conditions]
        finally:
            self.join_sides = None
        on = " AND ".join(f"({c})" for c in conds) if conds else "TRUE"
        if op.flavor in ("rightsemi", "rightanti"):
            # right side drives: emit with relation order swapped; alias
            # names keep their $left/$right meaning for the ON clause
            sql = (
                f"SELECT {_q('$right')}.* FROM ({right_sql}) AS"
                f" {_q('$right')} {kind} ({left_sql}) AS {_q('$left')}"
                f" ON {on}"
            )
            return sql, right_cols
        if op.flavor in ("leftsemi", "leftanti"):
            sql = (
                f"SELECT {_q('$left')}.* FROM ({left_sql}) AS {_q('$left')}"
                f" {kind} ({right_sql}) AS {_q('$right')} ON {on}"
            )
            return sql, left_cols
        out_items, out_names = [], []
        for c in left_cols:
            out_items.append(f"{_q('$left')}.{_q(c)} AS {_q(c)}")
            out_names.append(c)
        for c in right_cols:
            name = f"$right.{c}" if c in left_cols else c
            out_items.append(f"{_q('$right')}.{_q(c)} AS {_q(name)}")
            out_names.append(name)
        sql = (
            f"SELECT {', '.join(out_items)} FROM ({left_sql}) AS {_q('$left')}"
            f" {kind} ({right_sql}) AS {_q('$right')} ON {on}"
        )
        return sql, out_names

    def join_condition(self, cond: Expr) -> str:
        if isinstance(cond, Ident) and cond.simple:
            # bare `on K` sugar ⇒ $left.K == $right.K (pql.go:326-346)
            k = _q(cond.parts[0])
            return f"{_q('$left')}.{k} = {_q('$right')}.{k}"
        return self.expr(cond)

    def _limit(self, e: Expr) -> str:
        """LIMIT operand: Spark requires a foldable INTEGER — a
        substituted long-typed parameter (e.g. an invoked function's
        `n: long`) arrives as CAST(.. AS BIGINT) and is rejected, so
        non-literal operands are re-cast to INT."""
        s = self.expr(e)
        return s if s.lstrip("-").isdigit() else f"CAST({s} AS INT)"

    def sort_term(self, term: SortTerm) -> str:
        direction = "ASC" if term.asc else "DESC"
        nulls = "NULLS FIRST" if term.nulls_first else "NULLS LAST"
        return f"{self.expr(term.expr)} {direction} {nulls}"

    def col_spec(self, spec: ColSpec) -> tuple[str, str]:
        """Returns (output name, SELECT item) per the naming rules:
        Name=Expr | bare Name (identity) | bare Expr (source text)."""
        if spec.name is not None and spec.expr is not None:
            return spec.name, f"{self.expr(spec.expr)} AS {_q(spec.name)}"
        if spec.name is not None:
            return spec.name, _q(spec.name)
        name = spec.expr.source(self.text).strip()
        return name, f"{self.expr(spec.expr)} AS {_q(name)}"

    # ---------------------------------------------------------- expressions

    def expr(self, e: Expr, parent_prec: int = -1) -> str:
        if isinstance(e, NumberLit):
            # float literals get the D suffix so Spark SQL types them
            # DOUBLE like the DataFrame backend's F.lit(float), not
            # DECIMAL (matters for strictly-typed fns: array_position…)
            return f"{e.text}D" if e.is_float else e.text
        if isinstance(e, StringLit):
            return _qs(e.value)
        if isinstance(e, TimespanLit):
            return f"INTERVAL {e.microseconds} MICROSECOND"
        if isinstance(e, DatetimeLit):
            return f"TIMESTAMP {_qs(e.value)}"
        if isinstance(e, Ident):
            return self.ident(e)
        if isinstance(e, UnaryExpr):
            inner = self.expr(e.operand, 5)
            return f"{e.op}{inner}" if e.op == "-" else inner
        if isinstance(e, BinaryExpr):
            return self.binary(e, parent_prec)
        if isinstance(e, InExpr):
            lhs = self.expr(e.lhs, 2)
            if e.op in ("in", "!in"):
                items = ", ".join(self.expr(i) for i in e.items)
                kw = "IN" if e.op == "in" else "NOT IN"
                return f"{lhs} {kw} ({items})"
            if e.op in ("in~", "!in~"):
                items = ", ".join(
                    f"lower({self.expr(i)})" for i in e.items
                )
                kw = "IN" if e.op == "in~" else "NOT IN"
                return f"lower({lhs}) {kw} ({items})"
            # has_any / has_all over whole-term matches
            terms = [
                "array_contains(split(lower({l}), '[^a-zA-Z0-9]+'),"
                " lower({r}))".format(l=lhs, r=self.expr(i))
                for i in e.items
            ]
            glue = " OR " if e.op == "has_any" else " AND "
            return "(" + glue.join(terms) + ")"
        if isinstance(e, BetweenExpr):
            pred = (
                f"{self.expr(e.lhs, 2)} BETWEEN {self.expr(e.lo, 3)}"
                f" AND {self.expr(e.hi, 3)}"
            )
            return f"(NOT ({pred}))" if e.negated else f"({pred})"
        if isinstance(e, ToScalarExpr):
            sub_sql, sub_cols = self.emit_query(e.tab)
            first = _q(sub_cols[0]) if sub_cols else "*"
            return (
                f"(SELECT {first} FROM ({sub_sql}) LIMIT 1)"
            )
        if isinstance(e, IndexExpr):
            return (
                f"element_at({self.expr(e.base)}, {self.expr(e.index)})"
            )
        if isinstance(e, CallExpr):
            return self.call(e)
        raise ParseError(
            f"SQL backend: unsupported expression {type(e).__name__}", e.span
        )

    def ident(self, e: Ident) -> str:
        if e.simple and not e.quoted[0]:
            name = e.parts[0]
            if name in ("true", "false", "null"):
                return name.upper()
            if name in self.scope:
                return self.scope[name]
        if self._flat_cols is not None and len(e.parts) > 1:
            # graph-match scope: `a.id` names ONE flat column (the
            # DataFrame backend's literal dotted name), not a
            # struct-field path
            full = ".".join(e.parts)
            if full in self._flat_cols:
                return _q(full)
        return ".".join(_q(p) for p in e.parts)

    def _references_both_sides(self, e: Expr) -> bool:
        if self.join_sides is None:
            return False
        left_cols, right_cols = self.join_sides
        seen = {"left": False, "right": False}

        def walk(node: Expr) -> None:
            if isinstance(node, Ident):
                head = node.parts[0]
                if head == "$left":
                    seen["left"] = True
                elif head == "$right":
                    seen["right"] = True
                elif node.simple:
                    if node.parts[0] in left_cols:
                        seen["left"] = True
                    if node.parts[0] in right_cols:
                        seen["right"] = True
            for attr in ("lhs", "rhs", "operand", "base", "index"):
                child = getattr(node, attr, None)
                if isinstance(child, Expr):
                    walk(child)
            for child in getattr(node, "items", []) or []:
                walk(child)
            for child in getattr(node, "args", []) or []:
                walk(child)

        walk(e)
        return seen["left"] and seen["right"]

    def binary(self, e: BinaryExpr, parent_prec: int) -> str:
        op = e.op
        if op in ("==", "!="):
            sql_op = "=" if op == "==" else "<>"
            lhs, rhs = self.expr(e.lhs, 2), self.expr(e.rhs, 2)
            if self._references_both_sides(e):
                # raw equality inside join ON so Catalyst keeps the
                # equi-join key (pql.go:673-691, SURVEY §4)
                return f"{lhs} {sql_op} {rhs}"
            return f"coalesce({lhs} {sql_op} {rhs}, FALSE)"
        if op in ("=~", "!~"):
            sql_op = "=" if op == "=~" else "<>"
            return (
                f"lower({self.expr(e.lhs)}) {sql_op} lower({self.expr(e.rhs)})"
            )
        if op in ("/", "%"):
            # NULL on zero divisor, same as the DataFrame backend
            fn = "try_divide" if op == "/" else "try_mod"
            return f"{fn}({self.expr(e.lhs)}, {self.expr(e.rhs)})"
        if op == "matches regex":
            return f"({self.expr(e.lhs)} RLIKE {self.expr(e.rhs)})"
        neg = op.startswith("!")
        stripped = op.lstrip("!")
        base_op = stripped.removesuffix("_cs")
        if base_op in _STRING_PRED_SQL:
            lhs, rhs = self.expr(e.lhs), self.expr(e.rhs)
            if stripped == base_op:  # bare form folds case (KQL)
                lhs, rhs = f"lower({lhs})", f"lower({rhs})"
            out = _STRING_PRED_SQL[base_op].format(l=lhs, r=rhs)
            return f"(NOT {out})" if neg else out
        prec = _PREC[op]
        sql_op = op.upper() if op in ("and", "or") else op
        out = (
            f"{self.expr(e.lhs, prec)} {sql_op} {self.expr(e.rhs, prec + 1)}"
        )
        return f"({out})" if prec < parent_prec else out

    def call(self, e: CallExpr) -> str:
        name = e.func.lower()
        args = e.args
        if e.func in self.let_funcs:
            if e.func in self._inlining:
                raise ParseError(
                    f"recursive let-function {e.func!r} is not supported",
                    e.span,
                )
            fd = self.let_funcs[e.func]
            if len(args) != len(fd.params):
                raise ParseError(
                    f"{e.func}() takes {len(fd.params)} argument(s),"
                    f" got {len(args)}",
                    e.span,
                )
            from .parser import _DATATABLE_TYPES

            saved = dict(self.scope)
            self._inlining.add(e.func)
            try:
                for (pname, ptype), a in zip(fd.params, args):
                    sql = self.expr(a)
                    if ptype is not None:
                        sql = f"CAST({sql} AS {_DATATABLE_TYPES[ptype]})"
                    self.scope[pname] = sql
                return f"({self.expr(fd.body)})"
            finally:
                self.scope = saved
                self._inlining.discard(e.func)

        def argc(n_min: int, n_max: int) -> None:
            if not (n_min <= len(args) <= n_max):
                want = (
                    str(n_min) if n_min == n_max else f"{n_min}..{n_max}"
                )
                raise ParseError(
                    f"{e.func}() takes {want} argument(s), got {len(args)}",
                    e.span,
                )

        def lit_int(i: int) -> int:
            a = args[i]
            if isinstance(a, NumberLit) and not a.is_float:
                return int(a.text)
            raise ParseError(
                f"{e.func}() argument {i + 1} must be an integer literal",
                e.span,
            )

        if name == "column_ifexists":
            argc(2, 2)
            a0 = args[0]
            if isinstance(a0, Ident) and len(a0.parts) == 1:
                cname = a0.parts[0]
            elif isinstance(a0, StringLit):
                cname = a0.value
            else:
                raise ParseError(
                    "column_ifexists() first argument must be a"
                    " column name",
                    e.span,
                )
            cur = getattr(self, "_cur_cols", None)
            if cur is not None and cname in cur:
                return _q(cname)
            return self.expr(args[1])
        if name == "pack_all":
            # string-valued bag of every current column, like the DF
            # compiler's create_map (r7: the operator-level column
            # context `_cur_cols` is exactly the needed schema)
            argc(0, 0)
            cur = getattr(self, "_cur_cols", None)
            if not cur:
                raise ParseError(
                    "pack_all() needs a table context", e.span
                )
            pairs = ", ".join(
                f"{_qs(c)}, CAST({_q(c)} AS STRING)" for c in cur
            )
            return f"map({pairs})"
        if name in (
            "row_number", "prev", "next",
            "row_cumsum", "row_rank_dense", "row_rank_min",
        ):
            if self.window is None:
                raise ParseError(
                    f"{e.func}() requires a preceding 'serialize'", e.span
                )
            part, terms = self.window
            over = []
            if part:
                over.append(
                    "PARTITION BY " + ", ".join(_q(p) for p in part)
                )
            over.append(
                "ORDER BY " + ", ".join(self.sort_term(t) for t in terms)
            )
            spec = " ".join(over)
            if name == "row_number":
                argc(0, 0)
                return f"CAST(row_number() OVER ({spec}) AS BIGINT)"
            if name in ("row_rank_dense", "row_rank_min"):
                argc(1, 1)
                # KQL ranks by the TERM's order, not the serialize order
                rspec = " ".join(
                    (["PARTITION BY " + ", ".join(_q(p) for p in part)]
                     if part else [])
                    + [f"ORDER BY {self.expr(args[0])}"]
                )
                fn = "dense_rank" if name == "row_rank_dense" else "rank"
                return f"CAST({fn}() OVER ({rspec}) AS BIGINT)"
            if name == "row_cumsum":
                argc(1, 1)
                return (
                    f"sum({self.expr(args[0])}) OVER ({spec} ROWS BETWEEN"
                    " UNBOUNDED PRECEDING AND CURRENT ROW)"
                )
            argc(1, 3)
            fn = "lag" if name == "prev" else "lead"
            n = self.expr(args[1]) if len(args) >= 2 else "1"
            base = f"{fn}({self.expr(args[0])}, {n}) OVER ({spec})"
            if len(args) == 3:
                return f"coalesce({base}, {self.expr(args[2])})"
            return base
        if name == "not":
            argc(1, 1)
            return f"NOT ({self.expr(args[0])})"
        if name == "now":
            argc(0, 0)
            return "current_timestamp()"
        if name == "ago":
            argc(1, 1)
            if isinstance(args[0], TimespanLit):
                usec = args[0].microseconds
            elif isinstance(args[0], StringLit):
                usec = _duration_usec(args[0].value, e.span)
            else:
                raise ParseError(
                    "ago() takes a timespan literal, e.g. ago(1h)", e.span
                )
            return f"(current_timestamp() - INTERVAL {usec} MICROSECOND)"
        if name == "isnull":
            argc(1, 1)
            return f"(({self.expr(args[0])}) IS NULL)"
        if name == "isnotnull":
            argc(1, 1)
            return f"(({self.expr(args[0])}) IS NOT NULL)"
        if name == "strcat":
            if not args:
                raise ParseError("strcat() takes at least 1 argument", e.span)
            return f"concat({', '.join(self.expr(a) for a in args)})"
        if name == "count":
            argc(0, 0)
            return "count(1)"
        if name == "countif":
            argc(1, 1)
            return f"count(CASE WHEN {self.expr(args[0])} THEN 1 END)"
        if name == "dcount":
            argc(1, 2)
            if len(args) == 1:
                return f"count(DISTINCT {self.expr(args[0])})"
            from .functions import hll_lgk

            acc = lit_int(1)
            return (
                f"hll_sketch_estimate(hll_sketch_agg("
                f"{self.expr(args[0])}, {hll_lgk(name, acc, e.span)}))"
            )
        if name == "hll":
            argc(1, 2)
            from .functions import hll_lgk

            if len(args) == 1:
                return f"hll_sketch_agg({self.expr(args[0])})"
            return (
                f"hll_sketch_agg({self.expr(args[0])},"
                f" {hll_lgk(name, lit_int(1), e.span)})"
            )
        if name == "hll_merge":
            argc(1, 1)
            return f"hll_union_agg({self.expr(args[0])})"
        if name == "dcount_hll":
            argc(1, 1)
            return f"hll_sketch_estimate({self.expr(args[0])})"
        if name == "dcount_intersect":
            # inclusion-exclusion over HLL sketches (twin of the
            # DataFrame build; clamped at 0)
            argc(2, 3)
            ss = [self.expr(a) for a in args]

            def est(s: str) -> str:
                return f"hll_sketch_estimate({s})"

            def uni(*parts: str) -> str:
                out = parts[0]
                for p in parts[1:]:
                    out = f"hll_union({out}, {p}, true)"
                return est(out)

            if len(ss) == 2:
                a, b = ss
                raw = f"{est(a)} + {est(b)} - {uni(a, b)}"
            else:
                a, b, c = ss
                raw = (
                    f"{est(a)} + {est(b)} + {est(c)}"
                    f" - {uni(a, b)} - {uni(a, c)} - {uni(b, c)}"
                    f" + {uni(a, b, c)}"
                )
            return f"greatest({raw}, CAST(0 AS BIGINT))"
        if name == "dcountif":
            argc(2, 2)
            return (
                f"count(DISTINCT CASE WHEN {self.expr(args[1])}"
                f" THEN {self.expr(args[0])} END)"
            )
        if name == "count_distinct":
            argc(1, 1)
            return f"count(DISTINCT {self.expr(args[0])})"
        if name == "count_distinctif":
            argc(2, 2)
            return (
                f"count(DISTINCT CASE WHEN {self.expr(args[1])}"
                f" THEN {self.expr(args[0])} END)"
            )
        if name == "take_anyif":
            argc(2, 2)
            return (
                f"any_value(CASE WHEN {self.expr(args[1])}"
                f" THEN {self.expr(args[0])} END, true)"
            )
        if name in ("sumif", "avgif", "minif", "maxif"):
            argc(2, 2)
            fn = name[:3]
            return (
                f"{fn}(CASE WHEN {self.expr(args[1])}"
                f" THEN {self.expr(args[0])} END)"
            )
        if name == "series_outliers":
            argc(1, 1)
            a = self.expr(args[0])
            mean = (
                f"(aggregate({a}, 0.0D, (acc, x) ->"
                f" acc + CAST(x AS DOUBLE)) / size({a}))"
            )
            std = (
                f"sqrt(aggregate({a}, 0.0D, (acc, x) ->"
                f" acc + (CAST(x AS DOUBLE) - {mean})"
                f" * (CAST(x AS DOUBLE) - {mean})) / size({a}))"
            )
            return (
                f"transform({a}, x -> CASE WHEN {std} > 0.0D THEN"
                f" (CAST(x AS DOUBLE) - {mean}) / {std}"
                f" ELSE 0.0D END)"
            )
        if name in ("series_sum", "array_sum"):
            argc(1, 1)
            a = self.expr(args[0])
            return (
                f"aggregate({a}, 0.0D, (acc, x) ->"
                f" acc + CAST(x AS DOUBLE))"
            )
        if name == "series_avg":
            argc(1, 1)
            a = self.expr(args[0])
            return (
                f"(CASE WHEN size({a}) > 0 THEN"
                f" aggregate({a}, 0.0D, (acc, x) -> acc + CAST(x AS DOUBLE))"
                f" / size({a}) END)"
            )
        if name == "series_min":
            argc(1, 1)
            return f"array_min({self.expr(args[0])})"
        if name == "series_max":
            argc(1, 1)
            return f"array_max({self.expr(args[0])})"
        if name == "series_fill_const":
            argc(2, 2)
            return (
                f"transform({self.expr(args[0])}, x ->"
                f" coalesce(x, {self.expr(args[1])}))"
            )
        if name == "series_fill_forward":
            argc(1, 1)
            return (
                f"aggregate({self.expr(args[0])},"
                f" CAST(array() AS ARRAY<DOUBLE>), (acc, x) ->"
                f" concat(acc, array(coalesce(CAST(x AS DOUBLE),"
                f" try_element_at(acc, -1)))))"
            )
        if name == "series_fill_backward":
            argc(1, 1)
            return (
                f"reverse(aggregate(reverse({self.expr(args[0])}),"
                f" CAST(array() AS ARRAY<DOUBLE>), (acc, x) ->"
                f" concat(acc, array(coalesce(CAST(x AS DOUBLE),"
                f" try_element_at(acc, -1))))))"
            )
        if name == "series_fill_linear":
            argc(1, 1)
            a = self.expr(args[0])
            run = (
                "CASE WHEN {p} > 0 THEN sequence(1, {p})"
                " ELSE CAST(array() AS ARRAY<INT>) END"
            )
            return (
                f"aggregate({a},"
                " named_struct('out', CAST(array() AS ARRAY<DOUBLE>),"
                " 'pend', 0, 'last', CAST(NULL AS DOUBLE)),"
                " (acc, x) -> CASE WHEN CAST(x AS DOUBLE) IS NOT NULL THEN"
                " named_struct('out', concat(acc.out, transform("
                + run.format(p="acc.pend")
                + ", k -> coalesce(acc.last + (CAST(x AS DOUBLE) - acc.last)"
                " * k / (acc.pend + 1), CAST(x AS DOUBLE))),"
                " array(CAST(x AS DOUBLE))), 'pend', 0,"
                " 'last', CAST(x AS DOUBLE))"
                " ELSE named_struct('out', acc.out, 'pend', acc.pend + 1,"
                " 'last', acc.last) END,"
                " acc -> concat(acc.out, transform("
                + run.format(p="acc.pend")
                + ", k -> acc.last)))"
            )
        if name == "series_fir":
            argc(2, 4)

            def bool_lit(i: int, default: bool) -> bool:
                if len(args) <= i:
                    return default
                a = args[i]
                if isinstance(a, Ident) and a.name in ("true", "false"):
                    return a.name == "true"
                raise ParseError(
                    f"{e.func}() argument {i + 1} must be true or"
                    " false",
                    e.span,
                )

            normalize = bool_lit(2, True)
            center = bool_lit(3, False)
            # twin of the DataFrame build incl. its singleton-array
            # let-bindings (arr+filter struct, then the per-i window)
            half = "CAST(floor((size(__fr_s.f) - 1) / 2) AS INT)"
            if center:
                back = f"((size(__fr_s.f) - 1) - {half})"
                fwd = half
            else:
                back = "(size(__fr_s.f) - 1)"
                fwd = "0"
            lo = f"greatest(1, __fr_i - {back})"
            hi = f"least(size(__fr_s.a), __fr_i + {fwd})"
            win = (
                "named_struct("
                f"'w', slice(__fr_s.a, {lo}, {hi} - {lo} + 1),"
                f" 'fs', slice(__fr_s.f, size(__fr_s.f)"
                f" - ({hi} - {lo}), {hi} - {lo} + 1))"
            )
            num = (
                "aggregate(zip_with(__fr_p.w, __fr_p.fs,"
                " (__fr_x, __fr_c) -> CAST(__fr_x AS DOUBLE)"
                " * CAST(__fr_c AS DOUBLE)), 0.0D,"
                " (__fr_ac, __fr_v) -> __fr_ac"
                " + coalesce(__fr_v, 0.0D))"
            )
            if normalize:
                den = (
                    "aggregate(__fr_p.fs, 0.0D, (__fr_ac, __fr_c) ->"
                    " __fr_ac + CAST(__fr_c AS DOUBLE))"
                )
                body = (
                    f"CASE WHEN {den} <> 0.0D THEN {num} / {den} END"
                )
            else:
                body = num
            at = (
                f"element_at(transform(array({win}), __fr_p ->"
                f" {body}), 1)"
            )
            pair = (
                f"array(named_struct('a', {self.expr(args[0])},"
                f" 'f', {self.expr(args[1])}))"
            )
            return (
                f"element_at(transform({pair}, __fr_s ->"
                " CASE WHEN size(__fr_s.a) > 0 THEN"
                " transform(sequence(1, size(__fr_s.a)), __fr_i ->"
                f" {at}) ELSE CAST(array() AS ARRAY<DOUBLE>) END), 1)"
            )
        if name == "series_seasonal":
            argc(2, 2)
            p = lit_int(1)
            if p < 1:
                raise ParseError(
                    f"{e.func}() period must be >= 1", e.span
                )
            members = (
                "filter(sequence(1, size(__ss_a)), __ss_j ->"
                f" pmod(__ss_j - 1, {p}) = pmod(__ss_i - 1, {p}))"
            )
            mean = (
                f"(aggregate({members}, 0.0D, (__ss_ac, __ss_j) ->"
                " __ss_ac + CAST(element_at(__ss_a, __ss_j)"
                f" AS DOUBLE)) / size({members}))"
            )
            return (
                f"element_at(transform(array({self.expr(args[0])}),"
                " __ss_a -> CASE WHEN size(__ss_a) > 0 THEN"
                " transform(sequence(1, size(__ss_a)), __ss_i ->"
                f" {mean}) ELSE CAST(array() AS ARRAY<DOUBLE>) END), 1)"
            )
        if name in ("series_fft", "series_ifft"):
            # twin of the DataFrame direct-DFT fold (same let-binding
            # struct, same per-(k, j) term order for bit equality)
            argc(1, 2)
            inverse = name == "series_ifft"
            sign = "1.0D" if inverse else "-1.0D"
            xr = self.expr(args[0])
            xi = (
                self.expr(args[1])
                if len(args) == 2
                else f"transform({xr}, __ff_z -> 0.0D)"
            )
            theta = (
                "(2.0D * pi() * CAST(__ff_j - 1 AS DOUBLE)"
                " * CAST(__ff_k - 1 AS DOUBLE)"
                " / CAST(size(__ff_s.r) AS DOUBLE))"
            )
            term = (
                "named_struct("
                f"'re', __ff_a.re"
                f" + CAST(element_at(__ff_s.r, __ff_j) AS DOUBLE)"
                f" * cos({theta})"
                f" - CAST(element_at(__ff_s.i, __ff_j) AS DOUBLE)"
                f" * ({sign} * sin({theta})),"
                f" 'im', __ff_a.im"
                f" + CAST(element_at(__ff_s.r, __ff_j) AS DOUBLE)"
                f" * ({sign} * sin({theta}))"
                f" + CAST(element_at(__ff_s.i, __ff_j) AS DOUBLE)"
                f" * cos({theta}))"
            )
            tot = (
                "aggregate(sequence(1, size(__ff_s.r)),"
                " named_struct('re', 0.0D, 'im', 0.0D),"
                f" (__ff_a, __ff_j) -> {term})"
            )
            if inverse:
                one = (
                    f"named_struct('re', {tot}.re"
                    " / size(__ff_s.r),"
                    f" 'im', {tot}.im / size(__ff_s.r))"
                )
            else:
                one = tot
            coefs = (
                "(CASE WHEN size(__ff_s.r) > 0 THEN"
                f" transform(sequence(1, size(__ff_s.r)),"
                f" __ff_k -> {one})"
                " ELSE CAST(array() AS"
                " ARRAY<STRUCT<re: DOUBLE, im: DOUBLE>>) END)"
            )
            pair = f"array(named_struct('r', {xr}, 'i', {xi}))"
            return (
                f"element_at(transform({pair}, __ff_s ->"
                f" named_struct('real', transform({coefs},"
                " __ff_c -> __ff_c.re),"
                f" 'imag', transform({coefs},"
                " __ff_c -> __ff_c.im))), 1)"
            )
        if name == "series_iir":
            # twin of the DataFrame recursive-filter fold (same
            # let-binding struct + per-index zip_with sums)
            argc(3, 3)
            lo = "greatest(1, __ir_i - size(__ir_s.b) + 1)"
            ylo = "greatest(1, __ir_i - size(__ir_s.a) + 1)"
            num = (
                "aggregate(zip_with("
                f"reverse(slice(__ir_s.x, {lo}, __ir_i - {lo} + 1)),"
                f" slice(__ir_s.b, 1, __ir_i - {lo} + 1),"
                " (__ir_xv, __ir_c) ->"
                " coalesce(CAST(__ir_xv AS DOUBLE), 0.0D)"
                " * CAST(__ir_c AS DOUBLE)), 0.0D,"
                " (__ir_t, __ir_v) -> __ir_t + coalesce(__ir_v, 0.0D))"
            )
            fb = (
                "aggregate(zip_with("
                f"reverse(slice(__ir_y, {ylo},"
                f" __ir_i - 1 - {ylo} + 1)),"
                f" slice(__ir_s.a, 2, __ir_i - {ylo}),"
                " (__ir_yv, __ir_c) -> __ir_yv"
                " * CAST(__ir_c AS DOUBLE)), 0.0D,"
                " (__ir_t, __ir_v) -> __ir_t + coalesce(__ir_v, 0.0D))"
            )
            pair = (
                f"array(named_struct('x', {self.expr(args[0])},"
                f" 'b', {self.expr(args[1])},"
                f" 'a', {self.expr(args[2])}))"
            )
            return (
                f"element_at(transform({pair}, __ir_s ->"
                " CASE WHEN size(__ir_s.x) > 0 THEN"
                " aggregate(sequence(1, size(__ir_s.x)),"
                " CAST(array() AS ARRAY<DOUBLE>),"
                " (__ir_y, __ir_i) -> concat(__ir_y, array("
                f"({num} - {fb})"
                " / CAST(element_at(__ir_s.a, 1) AS DOUBLE))))"
                " ELSE CAST(array() AS ARRAY<DOUBLE>) END), 1)"
            )
        if name == "series_periods_detect":
            argc(4, 4)
            pmin, pmax, topn = lit_int(1), lit_int(2), lit_int(3)
            if not (1 <= pmin <= pmax) or topn < 1:
                raise ParseError(
                    f"{e.func}() needs 1 <= min <= max and n >= 1",
                    e.span,
                )
            a0 = self.expr(args[0])
            mean = (
                f"(aggregate({a0}, 0.0D, (__pd_ac, __pd_x) ->"
                f" __pd_ac + CAST(__pd_x AS DOUBLE)) / size({a0}))"
            )
            dm = (
                f"transform({a0}, __pd_x -> CAST(__pd_x AS DOUBLE)"
                f" - {mean})"
            )
            score = (
                "CASE WHEN __pd_den > 0.0D THEN"
                " aggregate(CASE WHEN size(__pd_dm) > __pd_l THEN"
                " sequence(1, size(__pd_dm) - __pd_l)"
                " ELSE CAST(array() AS ARRAY<INT>) END, 0.0D,"
                " (__pd_ac, __pd_i) -> __pd_ac"
                " + element_at(__pd_dm, __pd_i)"
                " * element_at(__pd_dm, __pd_i + __pd_l)) / __pd_den"
                " ELSE 0.0D END"
            )
            top = (
                "slice(reverse(array_sort(transform(sequence("
                f"{pmin}, {pmax}), __pd_l -> named_struct("
                f"'score', {score}, 'period',"
                " CAST(__pd_l AS BIGINT))))), 1,"
                f" {min(topn, pmax - pmin + 1)})"
            )
            result = (
                f"element_at(transform(array({top}), __pd_t ->"
                " named_struct("
                "'periods', transform(__pd_t, __pd_c ->"
                " __pd_c.period),"
                " 'scores', transform(__pd_t, __pd_c ->"
                " round(__pd_c.score, 4)))), 1)"
            )
            with_den = (
                "element_at(transform(array(aggregate(__pd_dm, 0.0D,"
                " (__pd_ac, __pd_x) -> __pd_ac + __pd_x * __pd_x)),"
                f" __pd_den -> {result}), 1)"
            )
            return (
                f"element_at(transform(array({dm}), __pd_dm ->"
                f" {with_den}), 1)"
            )
        if name == "series_moving_avg":
            argc(2, 2)
            if not isinstance(args[1], NumberLit) or args[1].is_float:
                raise ParseError(
                    "series_moving_avg() window must be an integer literal",
                    e.span,
                )
            k = int(args[1].text)
            a = self.expr(args[0])
            win = (
                f"slice({a}, greatest(1, i - {k - 1}), least(i, {k}))"
            )
            return (
                f"transform(sequence(1, size({a})), i ->"
                f" aggregate({win}, 0.0D, (acc, x) -> acc + CAST(x AS"
                f" DOUBLE)) / size({win}))"
            )
        def lit_str0(i: int, what: str = "string literal") -> str:
            if i >= len(args) or not isinstance(args[i], StringLit):
                raise ParseError(
                    f"{e.func}() argument {i + 1} must be a {what}",
                    e.span,
                )
            return args[i].value

        if name in ("max_of", "min_of"):
            if len(args) < 2:
                raise ParseError(
                    f"{e.func}() takes at least 2 arguments", e.span
                )
            fn = "greatest" if name == "max_of" else "least"
            return f"{fn}({', '.join(self.expr(a) for a in args)})"
        if name == "bin_at":
            argc(3, 3)
            if isinstance(args[1], (StringLit, TimespanLit)):
                usec = (
                    args[1].microseconds
                    if isinstance(args[1], TimespanLit)
                    else _duration_usec(args[1].value, e.span)
                )
                x, fp = self.expr(args[0]), self.expr(args[2])
                return (
                    f"timestamp_micros(CAST(floor((unix_micros({x})"
                    f" - unix_micros({fp})) / {usec}) AS BIGINT)"
                    f" * {usec} + unix_micros({fp}))"
                )
            x = self.expr(args[0], 4)
            sz = self.expr(args[1], 5)
            fp = self.expr(args[2], 4)
            return f"(floor(({x} - {fp}) / {sz}) * {sz} + {fp})"
        if name == "rand":
            argc(0, 1)
            if len(args) == 1:
                return (
                    f"CAST(floor(rand() * {self.expr(args[0], 5)})"
                    " AS BIGINT)"
                )
            return "rand()"
        if name == "range" and len(args) in (2, 3):
            return f"sequence({', '.join(self.expr(a) for a in args)})"
        if name == "zip":
            if len(args) < 2:
                raise ParseError("zip() takes at least 2 arrays", e.span)
            arrs = f"array({', '.join(self.expr(a) for a in args)})"
            return (
                f"element_at(transform(array({arrs}), __z_as ->"
                " CASE WHEN array_max(transform(__z_as, __z_a ->"
                " size(__z_a))) > 0 THEN"
                " transform(sequence(1, array_max(transform(__z_as,"
                " __z_a -> size(__z_a)))), __z_i -> transform(__z_as,"
                " __z_a -> try_element_at(__z_a, __z_i))) END), 1)"
            )
        if name == "array_split":
            argc(2, 2)
            idx = (
                f"array({self.expr(args[1])})"
                if isinstance(args[1], NumberLit)
                else self.expr(args[1])
            )
            norm = (
                "transform({idx}, __s_i -> greatest(0, least("
                "size(__s_a), CAST(CASE WHEN __s_i < 0 THEN"
                " size(__s_a) + __s_i ELSE __s_i END AS INT))))"
            ).format(idx=idx)
            return (
                f"element_at(transform(array({self.expr(args[0])}),"
                " __s_a -> element_at(transform(array(concat("
                f"array(0), {norm}, array(size(__s_a)))), __s_p ->"
                " transform(sequence(1, size(__s_p) - 1), __s_k ->"
                " slice(__s_a, element_at(__s_p, __s_k) + 1,"
                " element_at(__s_p, __s_k + 1)"
                " - element_at(__s_p, __s_k)))), 1)), 1)"
            )
        if name == "isinf":
            argc(1, 1)
            x = f"CAST({self.expr(args[0])} AS DOUBLE)"
            return (
                f"coalesce({x} = double('Infinity') OR"
                f" {x} = double('-Infinity'), FALSE)"
            )
        if name == "isascii":
            argc(1, 1)
            return (
                f"coalesce({self.expr(args[0])} rlike"
                " '^[\\\\x00-\\\\x7F]*$', FALSE)"
            )
        if name == "translate":
            argc(3, 3)
            return (
                f"translate({self.expr(args[2])}, {self.expr(args[0])},"
                f" {self.expr(args[1])})"
            )
        if name == "hash_sha256":
            argc(1, 1)
            return f"sha2(CAST({self.expr(args[0])} AS STRING), 256)"
        if name == "url_encode_component":
            argc(1, 1)
            return (
                f"replace(url_encode({self.expr(args[0])}), '+', '%20')"
            )
        if name == "toguid":
            argc(1, 1)
            return (
                "element_at(transform(array(CAST("
                f"{self.expr(args[0])} AS STRING)), __tg_s ->"
                " CASE WHEN __tg_s rlike"
                " '^[0-9A-Fa-f]{8}-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{4}"
                "-[0-9A-Fa-f]{4}-[0-9A-Fa-f]{12}$'"
                " THEN lower(__tg_s) END), 1)"
            )
        if name == "todecimal":
            argc(1, 1)
            return f"TRY_CAST({self.expr(args[0])} AS DECIMAL(38,18))"
        if name == "endofweek":
            argc(1, 1)
            x = self.expr(args[0])
            return (
                f"(date_trunc('DAY', {x}) - make_interval(0, 0, 0,"
                f" dayofweek({x}) - 1, 0, 0, 0)"
                " + make_interval(0, 0, 0, 7, 0, 0, 0)"
                " - INTERVAL 1 MICROSECOND)"
            )
        if name == "datetime_part":
            argc(2, 2)
            part = lit_str0(0, "part literal").lower()
            x = self.expr(args[1])
            simple = {
                "year": "YEAR", "quarter": "QUARTER", "month": "MONTH",
                "week_of_year": "WEEK", "day": "DAY",
                "dayofyear": "DOY", "hour": "HOUR", "minute": "MINUTE",
            }
            if part in simple:
                return (
                    f"CAST(date_part('{simple[part]}', {x}) AS BIGINT)"
                )
            if part == "second":
                return (
                    f"CAST(floor(date_part('SECOND', {x})) AS BIGINT)"
                )
            if part == "millisecond":
                return (
                    f"CAST(pmod(floor(unix_micros({x}) / 1000), 1000)"
                    " AS BIGINT)"
                )
            if part == "microsecond":
                return f"CAST(pmod(unix_micros({x}), 1000000) AS BIGINT)"
            if part == "nanosecond":
                return (
                    f"CAST(pmod(unix_micros({x}), 1000000) * 1000"
                    " AS BIGINT)"
                )
            raise ParseError(
                f"datetime_part(): unsupported part {part!r}", e.span
            )
        if name == "format_bytes":
            argc(1, 3)
            prec = lit_int(1) if len(args) >= 2 else 0
            units = ["Bytes", "KB", "MB", "GB", "TB", "PB", "EB"]
            x = f"CAST({self.expr(args[0])} AS DOUBLE)"

            def render(v: str) -> str:
                r = f"round({v}, {prec})"
                return (
                    f"CAST(CAST({r} AS BIGINT) AS STRING)"
                    if prec == 0 else f"CAST({r} AS STRING)"
                )

            if len(args) == 3:
                unit = lit_str0(2, "units literal")
                if unit not in units:
                    raise ParseError(
                        f"format_bytes(): unknown unit {unit!r}", e.span
                    )
                k = units.index(unit)
                return (
                    f"concat({render(f'{x} / {float(1024 ** k)!r}D')},"
                    f" ' {unit}')"
                )
            out = f"concat({render(x)}, ' Bytes')"
            for k in range(1, len(units)):
                thr = f"{float(1024 ** k)!r}D"
                out = (
                    f"CASE WHEN {x} >= {thr} THEN"
                    f" concat({render(f'{x} / {thr}')},"
                    f" ' {units[k]}') ELSE {out} END"
                )
            return out
        if name == "format_timespan":
            argc(2, 2)
            pattern = lit_str0(1, "format literal")
            from .functions import parse_ts_format

            itv = self.expr(args[0])
            pieces: list[str] = []
            for kind, text in parse_ts_format(pattern):
                if kind == "lit":
                    esc = text.replace("'", "''")
                    pieces.append(f"'{esc}'")
                    continue
                ch, n = text[0], len(text)
                if ch == "f":
                    frac = (
                        f"(date_part('SECOND', {itv})"
                        f" - floor(date_part('SECOND', {itv})))"
                    )
                    pieces.append(
                        f"lpad(CAST(CAST(floor({frac} * {10 ** n})"
                        f" AS BIGINT) AS STRING), {n}, '0')"
                    )
                    continue
                unit = {
                    "d": "DAY", "h": "HOUR", "H": "HOUR",
                    "m": "MINUTE", "s": "SECOND",
                }[ch]
                v = f"CAST(floor(date_part('{unit}', {itv})) AS BIGINT)"
                s = f"CAST({v} AS STRING)"
                pieces.append(
                    f"lpad({s}, {n}, '0')" if n > 1 else s
                )
            return f"concat({', '.join(pieces)})"
        if name == "parse_version":
            argc(1, 1)
            comp = ", ".join(
                "lpad(coalesce(try_element_at(split(__pv_s,"
                f" '\\\\.'), {i + 1}), '0'), 8, '0')"
                for i in range(4)
            )
            return (
                "element_at(transform(array(CAST("
                f"{self.expr(args[0])} AS STRING)), __pv_s ->"
                " CASE WHEN __pv_s rlike '^\\\\d+(\\\\.\\\\d+){0,3}$'"
                " AND size(split(__pv_s, '\\\\.')) <= 4 THEN"
                f" concat_ws('.', {comp}) END), 1)"
            )
        if name == "parse_path":
            argc(1, 1)
            return (
                "element_at(transform(array(replace(CAST("
                f"{self.expr(args[0])} AS STRING), '\\\\', '/')),"
                " __pp_s -> named_struct("
                "'RootPath', regexp_extract(__pp_s,"
                " '^((?:[A-Za-z]:)?/)', 1),"
                "'DirectoryPath', regexp_extract(__pp_s,"
                " '^(.*)/[^/]*$', 1),"
                "'DirectoryName', regexp_extract(regexp_extract(__pp_s,"
                " '^(.*)/[^/]*$', 1), '([^/]+)$', 1),"
                "'Filename', regexp_extract(__pp_s, '([^/]*)$', 1),"
                "'Extension', regexp_extract(__pp_s,"
                " '\\\\.([^./]+)$', 1))), 1)"
            )
        if name in _SQL_SERIES_BINOPS:
            argc(2, 2)
            op = _SQL_SERIES_BINOPS[name]
            return (
                f"zip_with({self.expr(args[0])}, {self.expr(args[1])},"
                f" (__e_x, __e_y) -> {op('CAST(__e_x AS DOUBLE)', 'CAST(__e_y AS DOUBLE)')})"
            )
        if name in _SQL_SERIES_UNOPS:
            argc(1, 1)
            fn = _SQL_SERIES_UNOPS[name]
            return (
                f"transform({self.expr(args[0])}, __e_x ->"
                f" {fn}(CAST(__e_x AS DOUBLE)))"
            )
        if name in (
            "series_dot_product", "series_magnitude",
            "series_cosine_similarity", "series_pearson_correlation",
        ):
            argc(1 if name == "series_magnitude" else 2,
                 1 if name == "series_magnitude" else 2)

            def dot(a: str, b: str) -> str:
                return (
                    f"aggregate(zip_with({a}, {b}, (__d_x, __d_y) ->"
                    " CAST(__d_x AS DOUBLE) * CAST(__d_y AS DOUBLE)),"
                    " 0.0D, (__d_acc, __d_v) ->"
                    " __d_acc + coalesce(__d_v, 0.0D))"
                )

            if name == "series_dot_product":
                return dot(self.expr(args[0]), self.expr(args[1]))
            if name == "series_magnitude":
                return (
                    "element_at(transform(array("
                    f"{self.expr(args[0])}), __m_a ->"
                    f" sqrt({dot('__m_a', '__m_a')})), 1)"
                )
            pair = (
                f"array(named_struct('a', {self.expr(args[0])},"
                f" 'b', {self.expr(args[1])}))"
            )
            if name == "series_cosine_similarity":
                denom = (
                    f"(sqrt({dot('__c_p.a', '__c_p.a')})"
                    f" * sqrt({dot('__c_p.b', '__c_p.b')}))"
                )
                return (
                    f"element_at(transform({pair}, __c_p ->"
                    f" CASE WHEN {denom} > 0 THEN"
                    f" {dot('__c_p.a', '__c_p.b')} / {denom} END), 1)"
                )
            n = "CAST(least(size(__c_p.a), size(__c_p.b)) AS DOUBLE)"
            ones_a = "transform(__c_p.a, __o_x -> 1.0D)"
            ones_b = "transform(__c_p.b, __o_x -> 1.0D)"
            sx = dot("__c_p.a", ones_a)
            sy = dot("__c_p.b", ones_b)
            sxx = dot("__c_p.a", "__c_p.a")
            syy = dot("__c_p.b", "__c_p.b")
            sxy = dot("__c_p.a", "__c_p.b")
            denom = (
                f"sqrt(({n} * {sxx} - {sx} * {sx})"
                f" * ({n} * {syy} - {sy} * {sy}))"
            )
            return (
                f"element_at(transform({pair}, __c_p ->"
                f" CASE WHEN {denom} > 0 THEN"
                f" ({n} * {sxy} - {sx} * {sy}) / {denom} END), 1)"
            )
        if name in ("geo_distance_2points", "geo_point_in_circle"):
            n_args = 4 if name == "geo_distance_2points" else 5
            argc(n_args, n_args)
            lon1, lat1, lon2, lat2 = (
                f"CAST({self.expr(a)} AS DOUBLE)" for a in args[:4]
            )
            h = (
                f"(pow(sin((radians({lat2}) - radians({lat1})) / 2), 2)"
                f" + cos(radians({lat1})) * cos(radians({lat2}))"
                f" * pow(sin((radians({lon2}) - radians({lon1})) / 2),"
                " 2))"
            )
            ok = (
                f"({lon1} BETWEEN -180 AND 180 AND {lat1} BETWEEN -90"
                f" AND 90 AND {lon2} BETWEEN -180 AND 180 AND {lat2}"
                " BETWEEN -90 AND 90)"
            )
            dist = (
                f"(CASE WHEN {ok} THEN 2.0D * 6371008.8D"
                f" * asin(least(1.0D, sqrt({h}))) END)"
            )
            if name == "geo_distance_2points":
                return dist
            return f"({dist} <= CAST({self.expr(args[4])} AS DOUBLE))"
        if name == "geo_point_to_cell":
            # text twin of operators/geo.geo_point_to_cell: Morton
            # interleave of equirectangular bins; exact powers of two
            # keep every intermediate < 2^53, so values are
            # bit-identical across backends (and in DuckDB oracles).
            # Literal level → unrolled shift/AND terms over let-bound
            # bins (the DataFrame backend's fast path); Column level →
            # the sequence-fold.
            argc(3, 3)
            lon, lat = (
                f"CAST({self.expr(a)} AS DOUBLE)" for a in args[:2]
            )
            lit_lvl = (
                int(args[2].text, 0)
                if isinstance(args[2], NumberLit)
                and not args[2].is_float
                else None
            )
            if lit_lvl is not None:
                if not 0 <= lit_lvl <= 26:
                    return "CAST(NULL AS BIGINT)"
                n = f"{float(1 << lit_lvl)!r}D"
                top = f"CAST({(1 << lit_lvl) - 1} AS BIGINT)"
                x = (
                    f"LEAST({top},"
                    f" FLOOR(({lon} + 180.0D) / 360.0D * {n}))"
                )
                y = (
                    f"LEAST({top},"
                    f" FLOOR(({lat} + 90.0D) / 180.0D * {n}))"
                )
                if lit_lvl == 0:
                    cell = "CAST(0 AS BIGINT)"
                else:
                    terms = " + ".join(
                        f"shiftleft(shiftright(__gcx, {i}) & 1,"
                        f" {2 * i + 1})"
                        f" + shiftleft(shiftright(__gcy, {i}) & 1,"
                        f" {2 * i})"
                        for i in range(lit_lvl)
                    )
                    cell = _sql_let(
                        x, "__gcx",
                        _sql_let(
                            y, "__gcy", f"CAST({terms} AS BIGINT)"
                        ),
                    )
                ok = (
                    f"({lon} BETWEEN -180 AND 180 AND {lat}"
                    " BETWEEN -90 AND 90)"
                )
                return f"(CASE WHEN {ok} THEN {cell} END)"
            lvl = f"CAST({self.expr(args[2])} AS INT)"
            n = f"pow(2.0D, {lvl})"
            top = f"(CAST({n} AS BIGINT) - 1)"
            x = f"LEAST({top}, FLOOR(({lon} + 180.0D) / 360.0D * {n}))"
            y = f"LEAST({top}, FLOOR(({lat} + 90.0D) / 180.0D * {n}))"
            fold = (
                f"aggregate(sequence(0, {lvl} - 1),"
                " CAST(0 AS BIGINT), (acc, i) -> acc"
                f" + (CAST(FLOOR({x} / pow(2.0D, i)) AS BIGINT) % 2)"
                " * CAST(pow(2.0D, 2 * i + 1) AS BIGINT)"
                f" + (CAST(FLOOR({y} / pow(2.0D, i)) AS BIGINT) % 2)"
                " * CAST(pow(2.0D, 2 * i) AS BIGINT))"
            )
            ok = (
                f"({lon} BETWEEN -180 AND 180 AND {lat} BETWEEN -90"
                f" AND 90 AND {lvl} BETWEEN 0 AND 26)"
            )
            return (
                f"(CASE WHEN {ok} THEN CASE WHEN {lvl} = 0 THEN"
                f" CAST(0 AS BIGINT) ELSE {fold} END END)"
            )
        if name == "geo_cell_center":
            # text twin of operators/geo.geo_cell_center (struct of
            # the cell's center lon/lat; round-trip inverse of
            # geo_point_to_cell)
            argc(2, 2)
            cell = self.expr(args[0])
            c = "__gcc"
            lit_lvl = (
                int(args[1].text, 0)
                if isinstance(args[1], NumberLit)
                and not args[1].is_float
                else None
            )
            if lit_lvl is not None:
                if not 0 <= lit_lvl <= 26:
                    return "CAST(NULL AS STRUCT<lon: DOUBLE, lat: DOUBLE>)"
                if lit_lvl == 0:
                    x = y = "CAST(0 AS BIGINT)"
                else:
                    x = " + ".join(
                        f"shiftleft(shiftright({c}, {2 * i + 1}) & 1,"
                        f" {i})"
                        for i in range(lit_lvl)
                    )
                    y = " + ".join(
                        f"shiftleft(shiftright({c}, {2 * i}) & 1, {i})"
                        for i in range(lit_lvl)
                    )
                w_lon = repr(360.0 / float(1 << lit_lvl))
                w_lat = repr(180.0 / float(1 << lit_lvl))
                body = (
                    f"named_struct('lon', -180.0D +"
                    f" (CAST({x} AS DOUBLE) + 0.5D) * {w_lon}D,"
                    f" 'lat', -90.0D +"
                    f" (CAST({y} AS DOUBLE) + 0.5D) * {w_lat}D)"
                )
                return _sql_let(
                    cell, c,
                    f"CASE WHEN {c} IS NOT NULL THEN {body} END",
                )
            lvl = f"CAST({self.expr(args[1])} AS INT)"
            n = f"pow(2.0D, {lvl})"

            def compact(off: int) -> str:
                return (
                    f"aggregate(sequence(0, {lvl} - 1),"
                    " CAST(0 AS BIGINT), (acc, i) -> acc"
                    f" + (CAST(FLOOR({c} / pow(2.0D, 2 * i + {off}))"
                    " AS BIGINT) % 2)"
                    " * CAST(pow(2.0D, i) AS BIGINT))"
                )

            lon = (
                f"(-180.0D + (CAST({compact(1)} AS DOUBLE) + 0.5D)"
                f" * (360.0D / {n}))"
            )
            lat = (
                f"(-90.0D + (CAST({compact(0)} AS DOUBLE) + 0.5D)"
                f" * (180.0D / {n}))"
            )
            body = (
                f"CASE WHEN {lvl} = 0 THEN"
                " named_struct('lon', 0.0D, 'lat', 0.0D)"
                f" ELSE named_struct('lon', {lon}, 'lat', {lat}) END"
            )
            return _sql_let(
                cell, c,
                f"CASE WHEN {c} IS NOT NULL AND {lvl} BETWEEN 0 AND 26"
                f" THEN {body} END",
            )
        if name in ("set_union", "set_intersect", "set_difference"):
            if len(args) < 2:
                raise ParseError(
                    f"{name}() takes at least 2 arguments", e.span
                )
            parts = [self.expr(a) for a in args]
            if name == "set_union":
                out = parts[0]
                for a in parts[1:]:
                    out = f"array_union({out}, {a})"
                return out
            if name == "set_intersect":
                out = parts[0]
                for a in parts[1:]:
                    out = f"array_intersect({out}, {a})"
                return f"array_distinct({out})"
            rest = parts[1]
            for a in parts[2:]:
                rest = f"array_union({rest}, {a})"
            return f"array_distinct(array_except({parts[0]}, {rest}))"
        if name == "bag_has_key":
            argc(2, 2)
            return (
                f"map_contains_key({self.expr(args[0])},"
                f" {self.expr(args[1])})"
            )
        if name == "bag_remove_keys":
            argc(2, 2)
            return (
                f"map_filter({self.expr(args[0])}, (__bk_k, __bk_v) ->"
                f" NOT array_contains({self.expr(args[1])}, __bk_k))"
            )
        if name == "bag_set_key":
            argc(3, 3)
            return (
                f"map_concat(map_filter({self.expr(args[0])},"
                f" (__bk_k, __bk_v) -> __bk_k != {self.expr(args[1])}),"
                f" map({self.expr(args[1])}, {self.expr(args[2])}))"
            )
        if name == "bag_merge":
            if len(args) < 2:
                raise ParseError(
                    f"{name}() takes at least 2 arguments", e.span
                )
            out = self.expr(args[0])
            for m in args[1:]:
                out = (
                    f"map_zip_with({out}, {self.expr(m)},"
                    " (k, v1, v2) -> coalesce(v1, v2))"
                )
            return out
        if name == "set_has_element":
            argc(2, 2)
            return (
                f"array_contains({self.expr(args[0])},"
                f" {self.expr(args[1])})"
            )
        if name in ("array_rotate_left", "array_rotate_right"):
            argc(2, 2)
            n = f"CAST({self.expr(args[1])} AS INT)"
            if name == "array_rotate_right":
                n = f"(-{n})"
            body = (
                "element_at(transform(array(pmod({n}, size(__ar_a))),"
                " __ar_k -> CASE WHEN size(__ar_a) > 0 THEN"
                " concat(slice(__ar_a, __ar_k + 1, size(__ar_a) - __ar_k),"
                " slice(__ar_a, 1, __ar_k)) ELSE __ar_a END), 1)"
            ).format(n=n)
            return (
                f"element_at(transform(array({self.expr(args[0])}),"
                f" __ar_a -> {body}), 1)"
            )
        if name in ("array_shift_left", "array_shift_right"):
            argc(2, 3)
            fill = self.expr(args[2]) if len(args) == 3 else "NULL"
            n = f"CAST({self.expr(args[1])} AS INT)"
            if name == "array_shift_right":
                n = f"(-{n})"
            pad = (
                f"array_repeat({fill},"
                " CAST(least({k}, size(__as_a)) AS INT))"
            )
            body = (
                "element_at(transform(array("
                f"least(greatest({n}, -size(__as_a)), size(__as_a))),"
                " __as_k -> CASE WHEN __as_k >= 0 THEN"
                " concat(slice(__as_a, __as_k + 1, size(__as_a) - __as_k), "
                + pad.format(k="__as_k")
                + ") ELSE concat("
                + pad.format(k="(-__as_k)")
                + ", slice(__as_a, 1, size(__as_a) + __as_k)) END), 1)"
            )
            return (
                f"element_at(transform(array({self.expr(args[0])}),"
                f" __as_a -> {body}), 1)"
            )
        if name == "array_iff":
            argc(3, 3)
            cond = self.expr(args[0])
            t, f = self.expr(args[1]), self.expr(args[2])
            return (
                f"element_at(transform(array({t}), __ai_t ->"
                f" element_at(transform(array({f}), __ai_f ->"
                f" transform({cond}, (__ai_c, __ai_i) ->"
                " CASE WHEN CAST(__ai_c AS BOOLEAN) THEN"
                " try_element_at(__ai_t, __ai_i + 1)"
                " WHEN NOT CAST(__ai_c AS BOOLEAN) THEN"
                " try_element_at(__ai_f, __ai_i + 1) END)), 1)), 1)"
            )
        if name == "extractjson":
            argc(2, 2)
            return (
                f"get_json_object({self.expr(args[1])},"
                f" {self.expr(args[0])})"
            )
        if name in (
            "ipv4_compare", "ipv4_is_in_range", "ipv4_is_private",
            "format_ipv4", "format_ipv4_mask", "parse_ipv4",
        ):
            def ip_long(c: str) -> str:
                octs = [
                    f"TRY_CAST(try_element_at(split({c}, '\\\\.'),"
                    f" {i + 1}) AS BIGINT)"
                    for i in range(4)
                ]
                valid = f"size(split({c}, '\\\\.')) = 4" + "".join(
                    f" AND {o} BETWEEN 0 AND 255" for o in octs
                )
                val = (
                    f"((({octs[0]} * 256 + {octs[1]}) * 256 +"
                    f" {octs[2]}) * 256 + {octs[3]})"
                )
                return f"(CASE WHEN {valid} THEN {val} END)"

            def bound(c: str, v: str) -> str:
                # let-bind the (long) ip value so the octet parse isn't
                # re-emitted at every use
                return f"element_at(transform(array({c}), {v} -> {v}), 1)"

            def masked(v: str, prefix: str) -> str:
                return (
                    f"(CASE WHEN ({prefix}) BETWEEN 0 AND 32 THEN"
                    f" CAST(floor({v} / power(2.0D, 32 - ({prefix})))"
                    f" AS BIGINT) END)"
                )

            if name == "parse_ipv4":
                argc(1, 1)
                return ip_long(self.expr(args[0]))
            if name in ("format_ipv4", "format_ipv4_mask"):
                argc(1, 2)
                v = "__ip_v"
                prefix = (
                    f"TRY_CAST({self.expr(args[1])} AS BIGINT)"
                    if len(args) == 2
                    else "CAST(32 AS BIGINT)"
                )
                dotted = (
                    "concat_ws('.',"
                    f" CAST(CAST({v} / 16777216 AS BIGINT) AS STRING),"
                    f" CAST(pmod(CAST({v} / 65536 AS BIGINT), 256)"
                    " AS STRING),"
                    f" CAST(pmod(CAST({v} / 256 AS BIGINT), 256)"
                    " AS STRING),"
                    f" CAST(pmod({v}, 256) AS STRING))"
                )
                if name == "format_ipv4_mask":
                    dotted = (
                        f"concat({dotted}, '/',"
                        f" CAST({prefix} AS STRING))"
                    )
                inner = f"CASE WHEN {v} IS NOT NULL THEN {dotted} END"
                net = (
                    f"(CASE WHEN ({prefix}) BETWEEN 0 AND 32 THEN "
                    + masked(ip_long(self.expr(args[0])), prefix)
                    + f" * CAST(power(2.0D, 32 - ({prefix}))"
                    " AS BIGINT) END)"
                )
                return (
                    "element_at(transform(array("
                    + net
                    + f"), {v} -> {inner}), 1)"
                )
            if name == "ipv4_compare":
                argc(2, 3)
                prefix = (
                    f"TRY_CAST({self.expr(args[2])} AS BIGINT)"
                    if len(args) == 3
                    else "32"
                )
                a = masked(ip_long(self.expr(args[0])), prefix)
                b = masked(ip_long(self.expr(args[1])), prefix)
                return (
                    "element_at(transform(array(named_struct("
                    f"'a', {a}, 'b', {b})), __ipc ->"
                    " CAST(CASE WHEN __ipc.a < __ipc.b THEN -1"
                    " WHEN __ipc.a > __ipc.b THEN 1"
                    " WHEN __ipc.a = __ipc.b THEN 0 END AS BIGINT)), 1)"
                )
            if name == "ipv4_is_in_range":
                argc(2, 2)
                r = self.expr(args[1])
                base = ip_long(f"try_element_at(split({r}, '/'), 1)")
                prefix = (
                    f"coalesce(TRY_CAST(try_element_at(split({r}, '/'),"
                    " 2) AS BIGINT), 32)"
                )
                return (
                    f"({masked(ip_long(self.expr(args[0])), prefix)}"
                    f" = {masked(base, prefix)})"
                )
            argc(1, 1)  # ipv4_is_private
            v = "__ip_v"
            inner = (
                f"(shiftrightunsigned({v}, 24) = 10"
                f" OR shiftrightunsigned({v}, 20) = 2753"
                f" OR shiftrightunsigned({v}, 16) = 49320)"
            )
            return (
                "element_at(transform(array("
                + ip_long(self.expr(args[0]))
                + f"), {v} -> {inner}), 1)"
            )
        if name == "parse_url":
            argc(1, 1)
            u = "__urlv"
            ui = f"split(coalesce(try_parse_url({u}, 'USERINFO'), ''), ':', -1)"
            body = (
                "named_struct("
                f"'Scheme', try_parse_url({u}, 'PROTOCOL'),"
                f" 'Host', try_parse_url({u}, 'HOST'),"
                f" 'Port', regexp_extract(coalesce(try_parse_url({u},"
                " 'AUTHORITY'), ''), ':([0-9]+)$', 1),"
                f" 'Path', try_parse_url({u}, 'PATH'),"
                f" 'Username', coalesce(element_at({ui}, 1), ''),"
                f" 'Password', coalesce(try_element_at({ui}, 2), ''),"
                f" 'Fragment', coalesce(try_parse_url({u}, 'REF'), ''),"
                f" 'QueryParameters', str_to_map(coalesce(try_parse_url({u},"
                " 'QUERY'), ''), '&', '='))"
            )
            return (
                f"element_at(transform(array({self.expr(args[0])}),"
                f" {u} -> {body}), 1)"
            )
        if name == "parse_urlquery":
            argc(1, 1)
            return (
                f"str_to_map(regexp_replace({self.expr(args[0])},"
                " '^\\\\?', ''), '&', '=')"
            )
        if name == "totimespan":
            argc(1, 1)
            if isinstance(args[0], TimespanLit):
                return self.expr(args[0])
            s = "__tsv"
            full = (
                f"rlike({s}, "
                + r"'^(\\d+\\.)?\\d{1,2}:\\d{1,2}:\\d{1,2}(\\.\\d+)?$')"
            )
            d = (
                f"coalesce(TRY_CAST(regexp_extract({s}, "
                + r"'^(\\d+)\\.', 1) AS BIGINT), 0)"
            )
            hh = (
                f"TRY_CAST(regexp_extract({s}, "
                + r"'^(?:\\d+\\.)?(\\d{1,2}):', 1) AS BIGINT)"
            )
            mm = (
                f"TRY_CAST(regexp_extract({s}, "
                + r"':(\\d{1,2}):', 1) AS BIGINT)"
            )
            ss = (
                f"TRY_CAST(regexp_extract({s}, "
                + r"':(\\d{1,2}(?:\\.\\d+)?)$', 1) AS DECIMAL(18, 6))"
            )
            body = (
                f"(CASE WHEN {full} THEN"
                f" make_dt_interval({d}, {hh}, {mm}, {ss}) END)"
            )
            return (
                "element_at(transform(array("
                f"CAST({self.expr(args[0])} AS STRING)),"
                f" {s} -> {body}), 1)"
            )
        if name in ("make_bag", "make_bag_if"):
            argc(1 if name == "make_bag" else 2,
                 1 if name == "make_bag" else 2)
            x = self.expr(args[0])
            if name == "make_bag_if":
                x = (
                    f"(CASE WHEN {self.expr(args[1])} THEN {x} END)"
                )
            es = "__bagv"
            body = (
                f"map_from_entries(aggregate({es}, slice({es}, 1, 0),"
                " (__acc, __en) -> CASE WHEN exists(__acc,"
                " __a -> __a.key = __en.key) THEN __acc"
                " ELSE concat(__acc, array(__en)) END))"
            )
            return (
                "element_at(transform(array(flatten(collect_list("
                f"map_entries({x})))), {es} -> {body}), 1)"
            )
        if name in (
            "parse_ipv6", "parse_ipv6_mask", "ipv6_compare",
            "ipv6_is_match", "ipv6_is_in_range", "ipv6_is_in_any_range",
            "ipv4_is_match", "ipv4_is_in_any_range",
        ):
            # text twins of functions._ipv6_family (module-level
            # _sql_* helpers, shared with emit_ipv4_lookup's
            # ipv6_lookup branch)
            ip_long = _sql_ip_long
            let = _sql_let
            hex32 = _sql_hex32
            mask = _sql_mask6
            colons = _sql_colons
            slash_addr = _sql_slash_addr
            slash_prefix = _sql_slash_prefix
            range_prefix6 = _sql_range_prefix6

            if name == "parse_ipv6":
                argc(1, 1)
                return colons(hex32(self.expr(args[0])))
            if name == "parse_ipv6_mask":
                argc(2, 2)
                return colons(
                    mask(
                        hex32(self.expr(args[0])),
                        f"CAST({self.expr(args[1])} AS BIGINT)",
                    )
                )
            if name == "ipv6_compare":
                argc(2, 3)
                prefix = (
                    f"CAST({self.expr(args[2])} AS BIGINT)"
                    if len(args) == 3
                    else "128"
                )
                a = mask(hex32(self.expr(args[0])), prefix)
                b = mask(hex32(self.expr(args[1])), prefix)
                return (
                    "element_at(transform(array(named_struct("
                    f"'a', {a}, 'b', {b})), __i6c ->"
                    " CAST(CASE WHEN __i6c.a < __i6c.b THEN -1"
                    " WHEN __i6c.a > __i6c.b THEN 1"
                    " WHEN __i6c.a = __i6c.b THEN 0 END AS BIGINT)), 1)"
                )
            if name == "ipv6_is_match":
                argc(2, 3)
                parg = (
                    f"CAST({self.expr(args[2])} AS BIGINT)"
                    if len(args) == 3
                    else "128"
                )
                a_sql, b_sql = self.expr(args[0]), self.expr(args[1])
                prefix = (
                    f"least({range_prefix6(a_sql)},"
                    f" {range_prefix6(b_sql)}, {parg})"
                )
                pv = "__i6p"
                a = mask(hex32(slash_addr(a_sql)), pv)
                b = mask(hex32(slash_addr(b_sql)), pv)
                return let(prefix, pv, f"({a} = {b})")
            if name in ("ipv6_is_in_range", "ipv6_is_in_any_range"):
                argc(2, 99 if name == "ipv6_is_in_any_range" else 2)
                ipv = "__i6ip"

                def in_rng(rng_sql: str) -> str:
                    pv = "__i6rp"
                    r = mask(hex32(slash_addr(rng_sql)), pv)
                    return let(
                        range_prefix6(rng_sql),
                        pv,
                        f"({mask(ipv, pv)} = {r})",
                    )

                terms = " OR ".join(
                    in_rng(self.expr(a)) for a in args[1:]
                )
                return let(
                    hex32(self.expr(args[0])), ipv, f"({terms})"
                )
            if name == "ipv4_is_match":
                argc(2, 3)
                parg = (
                    f"CAST({self.expr(args[2])} AS BIGINT)"
                    if len(args) == 3
                    else "32"
                )
                a_sql, b_sql = self.expr(args[0]), self.expr(args[1])
                prefix = (
                    f"least({slash_prefix(a_sql, 32)},"
                    f" {slash_prefix(b_sql, 32)}, {parg})"
                )
                pv = "__i4p"

                def m4(c: str) -> str:
                    return (
                        f"(CASE WHEN {pv} BETWEEN 0 AND 32 THEN"
                        f" CAST(floor({ip_long(slash_addr(c))} /"
                        f" power(2.0D, 32 - {pv})) AS BIGINT) END)"
                    )

                return let(
                    prefix, pv, f"({m4(a_sql)} = {m4(b_sql)})"
                )
            # ipv4_is_in_any_range
            argc(2, 99)
            ipv = "__i4ip"

            def v4_rng(rng_sql: str) -> str:
                pv = "__i4rp"
                base = ip_long(slash_addr(rng_sql))

                def m(v: str) -> str:
                    return (
                        f"(CASE WHEN {pv} BETWEEN 0 AND 32 THEN"
                        f" CAST(floor({v} / power(2.0D, 32 - {pv}))"
                        " AS BIGINT) END)"
                    )

                return let(
                    slash_prefix(rng_sql, 32),
                    pv,
                    f"({m(ipv)} = {m(base)})",
                )

            terms = " OR ".join(v4_rng(self.expr(a)) for a in args[1:])
            return let(
                ip_long(self.expr(args[0])), ipv, f"({terms})"
            )
        if name in ("binary_and", "binary_or", "binary_xor"):
            argc(2, 2)
            sym = {"binary_and": "&", "binary_or": "|",
                   "binary_xor": "^"}[name]
            return (
                f"(CAST({self.expr(args[0])} AS BIGINT) {sym}"
                f" CAST({self.expr(args[1])} AS BIGINT))"
            )
        if name == "binary_not":
            argc(1, 1)
            return f"(~CAST({self.expr(args[0])} AS BIGINT))"
        if name in ("binary_shift_left", "binary_shift_right"):
            argc(2, 2)
            if not isinstance(args[1], NumberLit) or args[1].is_float:
                raise ParseError(
                    f"{name}() argument 2 must be an integer literal",
                    e.span,
                )
            fn = (
                "shiftleft" if name == "binary_shift_left"
                else "shiftright"
            )
            return (
                f"{fn}(CAST({self.expr(args[0])} AS BIGINT),"
                f" {int(args[1].text)})"
            )
        if name == "series_stats":
            argc(1, 1)

            def bind(x: str, v: str, body: str) -> str:
                return f"element_at(transform(array({x}), {v} -> {body}), 1)"

            a0 = self.expr(args[0])
            mean = (
                "(aggregate(__ss_a, 0.0D, (acc, x) -> acc + x)"
                " / size(__ss_a))"
            )
            var = (
                "CASE WHEN size(__ss_a) > 1 THEN"
                " aggregate(__ss_a, 0.0D, (acc, x) ->"
                " acc + (x - __ss_av) * (x - __ss_av))"
                " / CAST(size(__ss_a) - 1 AS DOUBLE) END"
            )
            final = (
                "named_struct("
                "'min', array_min(__ss_a),"
                " 'min_idx', array_position(__ss_a, array_min(__ss_a))"
                " - 1,"
                " 'max', array_max(__ss_a),"
                " 'max_idx', array_position(__ss_a, array_max(__ss_a))"
                " - 1,"
                " 'avg', __ss_av,"
                " 'stdev', sqrt(__ss_v),"
                " 'variance', __ss_v)"
            )
            return bind(
                f"transform({a0}, x -> CAST(x AS DOUBLE))",
                "__ss_a",
                bind(mean, "__ss_av", bind(var, "__ss_v", final)),
            )
        if name == "series_fit_line":
            argc(1, 1)

            def bind(x: str, v: str, body: str) -> str:
                return f"element_at(transform(array({x}), {v} -> {body}), 1)"

            a0 = self.expr(args[0])
            n = "CAST(size(__sf_a) AS DOUBLE)"
            xmean = f"(({n} - 1) / 2.0D)"
            sxx = f"({n} * ({n} * {n} - 1) / 12.0D)"
            mean = (
                "(aggregate(__sf_a, 0.0D, (acc, x) -> acc + x)"
                f" / size(__sf_a))"
            )
            sxy = (
                "aggregate(zip_with(__sf_a,"
                " sequence(0, size(__sf_a) - 1),"
                f" (y, i) -> (CAST(i AS DOUBLE) - {xmean})"
                " * (y - __sf_ym)), 0.0D, (acc, x) -> acc + x)"
            )
            slope = (
                f"CASE WHEN {sxx} > 0.0D THEN {sxy} / {sxx}"
                " ELSE 0.0D END"
            )
            inter = f"(__sf_ym - __sf_sl * {xmean})"
            line = (
                "transform(sequence(0, size(__sf_a) - 1),"
                f" i -> {inter} + __sf_sl * CAST(i AS DOUBLE))"
            )
            var = (
                f"CASE WHEN {n} > 1.0D THEN"
                " aggregate(__sf_a, 0.0D, (acc, x) ->"
                " acc + (x - __sf_ym) * (x - __sf_ym))"
                f" / ({n} - 1) END"
            )
            rvar = (
                f"CASE WHEN {n} > 1.0D THEN"
                " aggregate(zip_with(__sf_a, __sf_lf, (y, p) -> y - p),"
                " 0.0D, (acc, x) -> acc + x * x)"
                f" / ({n} - 1) END"
            )
            final = (
                "named_struct("
                "'rsquare', CASE WHEN __sf_v > 0.0D"
                " THEN 1.0D - __sf_rv / __sf_v"
                " ELSE CASE WHEN __sf_v IS NOT NULL THEN 1.0D END END,"
                " 'slope', __sf_sl,"
                " 'variance', __sf_v,"
                " 'rvariance', __sf_rv,"
                f" 'interception', {inter},"
                " 'line_fit', __sf_lf)"
            )
            return bind(
                f"transform({a0}, x -> CAST(x AS DOUBLE))",
                "__sf_a",
                bind(
                    mean,
                    "__sf_ym",
                    bind(
                        slope,
                        "__sf_sl",
                        bind(
                            line,
                            "__sf_lf",
                            bind(var, "__sf_v", bind(rvar, "__sf_rv", final)),
                        ),
                    ),
                ),
            )
        if name == "series_fit_2lines":
            argc(1, 1)

            def bind(x: str, v: str, body: str) -> str:
                return f"element_at(transform(array({x}), {v} -> {body}), 1)"

            def m_of(s: str) -> str:
                return f"CAST(size({s}) AS DOUBLE)"

            def sy_of(s: str) -> str:
                return f"aggregate({s}, 0.0D, (acc, x) -> acc + x)"

            def sxy_of(s: str) -> str:
                sxy0 = (
                    f"aggregate(zip_with({s},"
                    f" sequence(0, size({s}) - 1),"
                    " (y, i) -> CAST(i AS DOUBLE) * y), 0.0D,"
                    " (acc, x) -> acc + x)"
                )
                return (
                    f"({sxy0} - ({m_of(s)} - 1) / 2.0D * {sy_of(s)})"
                )

            def sxx_of(s: str) -> str:
                m = m_of(s)
                return f"({m} * ({m} * {m} - 1) / 12.0D)"

            def ssres_of(s: str) -> str:
                sstot = (
                    f"(aggregate({s}, 0.0D, (acc, x) -> acc + x * x)"
                    f" - {sy_of(s)} * {sy_of(s)} / {m_of(s)})"
                )
                return (
                    f"(CASE WHEN {sxx_of(s)} > 0.0D THEN {sstot}"
                    f" - {sxy_of(s)} * {sxy_of(s)} / {sxx_of(s)}"
                    f" ELSE {sstot} END)"
                )

            def fit_of(s: str, kv: str) -> str:
                slope = (
                    f"CASE WHEN {sxx_of(s)} > 0.0D THEN"
                    f" {sxy_of(s)} / {sxx_of(s)} ELSE 0.0D END"
                )
                return bind(
                    slope,
                    f"__f2_sl{kv}",
                    bind(
                        f"{sy_of(s)} / {m_of(s)} - __f2_sl{kv}"
                        f" * ({m_of(s)} - 1) / 2.0D",
                        f"__f2_ic{kv}",
                        f"transform(sequence(0, size({s}) - 1),"
                        f" i -> __f2_ic{kv} + __f2_sl{kv}"
                        " * CAST(i AS DOUBLE))",
                    ),
                )

            a0 = self.expr(args[0])
            left = "slice(__f2_a, 1, __f2_k)"
            right = "slice(__f2_a, __f2_k + 1, size(__f2_a) - __f2_k)"
            costs = (
                "transform(sequence(2, size(__f2_a) - 2), __f2_k ->"
                f" {ssres_of(left)} + {ssres_of(right)})"
            )
            kl = "slice(__f2_a, 1, __f2_b + 1)"
            kr = (
                "slice(__f2_a, __f2_b + 2,"
                " size(__f2_a) - (__f2_b + 1))"
            )
            nn = "CAST(size(__f2_a) AS DOUBLE)"
            sstot_all = (
                "(aggregate(__f2_a, 0.0D, (acc, x) -> acc + x * x)"
                f" - {sy_of('__f2_a')} * {sy_of('__f2_a')} / {nn})"
            )
            final = bind(
                sstot_all,
                "__f2_t",
                bind(
                    "element_at(__f2_c, CAST(__f2_b AS INT))",
                    "__f2_r",
                    "named_struct("
                    "'rsquare', CASE WHEN __f2_t > 0.0D THEN"
                    " 1.0D - __f2_r / __f2_t ELSE 1.0D END,"
                    " 'split_idx', CAST(__f2_b + 1 AS BIGINT),"
                    f" 'variance', CASE WHEN {nn} > 1.0D THEN"
                    f" __f2_t / ({nn} - 1) END,"
                    f" 'rvariance', CASE WHEN {nn} > 1.0D THEN"
                    f" __f2_r / ({nn} - 1) END,"
                    f" 'line_fit', concat({fit_of(kl, 'l')},"
                    f" {fit_of(kr, 'r')}))",
                ),
            )
            return bind(
                f"transform({a0}, x -> CAST(x AS DOUBLE))",
                "__f2_a",
                "CASE WHEN size(__f2_a) >= 4 THEN "
                + bind(
                    costs,
                    "__f2_c",
                    bind(
                        "CAST(array_position(__f2_c,"
                        " array_min(__f2_c)) AS BIGINT)",
                        "__f2_b",
                        final,
                    ),
                )
                + " END",
            )
        if name == "series_decompose_forecast":
            # text twin of functions.py's series_decompose_forecast:
            # train the additive decomposition on the first n-points
            # elements, horizon = OLS-extrapolated trend + centered
            # phase pattern; NULL when the training slice is shorter
            # than max(period, 2).  Same let-binding singleton-array
            # device and identical FP op order as the DataFrame build,
            # so results are bit-identical across backends.
            argc(3, 3)
            for k in (1, 2):
                if not isinstance(args[k], NumberLit) or args[k].is_float:
                    raise ParseError(
                        f"{name}() period/points must be integer"
                        " literals",
                        e.span,
                    )
            p = int(args[1].text)
            points = int(args[2].text)
            if p < 1:
                raise ParseError(f"{name}() period must be >= 1", e.span)
            if points < 1:
                raise ParseError(f"{name}() points must be >= 1", e.span)
            lo, hi = (p - 1) // 2, p // 2

            def bind(x: str, v: str, body: str) -> str:
                return (
                    f"element_at(transform(array({x}), {v} ->"
                    f" {body}), 1)"
                )

            def mean(a: str) -> str:
                return (
                    f"(aggregate({a}, 0.0D, (acc, x) -> acc + x)"
                    f" / size({a}))"
                )

            full, ad = "__fc_full", "__fc_ad"
            win = (
                f"slice({ad}, greatest(1, __i - {lo}),"
                f" least(__i + {hi}, size({ad}))"
                f" - greatest(1, __i - {lo}) + 1)"
            )
            trend = (
                f"transform(sequence(1, size({ad})), __i -> {mean(win)})"
            )
            psums = (
                f"transform(sequence(0, {p - 1}), __q ->"
                f" {mean(f'filter(__fc_de, (__x, __j) -> (__j % {p}) == __q)')})"
            )
            raw = (
                f"transform(sequence(1, size({ad})), __i ->"
                f" element_at(__fc_ps, CAST((__i - 1) % {p} + 1 AS INT)))"
            )
            md = f"CAST(size({ad}) AS DOUBLE)"
            xbar = f"(({md} + 1.0D) / 2.0D)"
            sxx = f"({md} * ({md} * {md} - 1.0D) / 12.0D)"
            slope = (
                f"(aggregate(zip_with(sequence(1, size({ad})),"
                " __fc_tr, (__i, __t) ->"
                f" (CAST(__i AS DOUBLE) - {xbar}) * __t), 0.0D,"
                f" (acc, x) -> acc + x) / {sxx})"
            )
            horizon = (
                f"transform(sequence(1, size({full})), __i -> CASE"
                f" WHEN __i <= size({ad}) THEN"
                " element_at(__fc_tr, CAST(__i AS INT))"
                " + element_at(__fc_raw, CAST(__i AS INT)) - __fc_rawm"
                " ELSE __fc_in + __fc_sl * CAST(__i AS DOUBLE)"
                f" + element_at(__fc_ps,"
                f" CAST((__i - 1) % {p} + 1 AS INT)) - __fc_rawm"
                " END)"
            )
            trained = bind(
                trend,
                "__fc_tr",
                bind(
                    f"zip_with({ad}, __fc_tr, (x, t) -> x - t)",
                    "__fc_de",
                    bind(
                        psums,
                        "__fc_ps",
                        bind(
                            raw,
                            "__fc_raw",
                            bind(
                                mean("__fc_raw"),
                                "__fc_rawm",
                                bind(
                                    mean("__fc_tr"),
                                    "__fc_trm",
                                    bind(
                                        slope,
                                        "__fc_sl",
                                        bind(
                                            f"(__fc_trm - __fc_sl * {xbar})",
                                            "__fc_in",
                                            horizon,
                                        ),
                                    ),
                                ),
                            ),
                        ),
                    ),
                ),
            )
            body = (
                f"CASE WHEN (size({full}) - {points}) >="
                f" greatest({p}, 2) THEN "
                + bind(
                    f"slice(transform({full}, x -> CAST(x AS DOUBLE)),"
                    f" 1, size({full}) - {points})",
                    ad,
                    trained,
                )
                + " END"
            )
            return bind(self.expr(args[0]), full, body)
        if name in ("series_decompose", "series_decompose_anomalies"):
            # twin of the DataFrame build (functions.py) including its
            # let-binding-via-singleton-array trick, so both backends
            # produce byte-identical expression semantics without
            # exponential text duplication
            anomalies = name == "series_decompose_anomalies"
            argc(2, 3 if anomalies else 2)
            if not isinstance(args[1], NumberLit) or args[1].is_float:
                raise ParseError(
                    f"{name}() period must be an integer literal", e.span
                )
            p = int(args[1].text)
            if p < 1:
                raise ParseError(f"{name}() period must be >= 1", e.span)
            threshold = 1.5
            if anomalies and len(args) == 3:
                if not isinstance(args[2], NumberLit):
                    raise ParseError(
                        f"{name}() threshold must be a number literal",
                        e.span,
                    )
                threshold = float(args[2].text)
            lo, hi = (p - 1) // 2, p // 2

            def bind(x: str, v: str, body: str) -> str:
                return f"element_at(transform(array({x}), {v} -> {body}), 1)"

            def mean(a: str) -> str:
                return (
                    f"(aggregate({a}, 0.0D, (acc, x) -> acc + x)"
                    f" / size({a}))"
                )

            a0 = self.expr(args[0])
            ad = "__sd_ad"
            win = (
                f"slice({ad}, greatest(1, __i - {lo}),"
                f" least(__i + {hi}, size({ad}))"
                f" - greatest(1, __i - {lo}) + 1)"
            )
            trend = (
                f"transform(sequence(1, size({ad})), __i -> {mean(win)})"
            )
            psums = (
                f"transform(sequence(0, {p - 1}), __q ->"
                f" {mean(f'filter(__sd_de, (__x, __j) -> (__j % {p}) == __q)')})"
            )
            raw = (
                f"transform(sequence(1, size({ad})), __i ->"
                f" element_at(__sd_ps, CAST((__i - 1) % {p} + 1 AS INT)))"
            )
            seasonal = bind(
                raw,
                "__sd_raw",
                bind(
                    mean("__sd_raw"),
                    "__sd_sm",
                    "transform(__sd_raw, x -> x - __sd_sm)",
                ),
            )
            if not anomalies:
                final = (
                    "named_struct("
                    "'baseline', __sd_ba, 'seasonal', __sd_se,"
                    " 'trend', __sd_tr, 'residual', __sd_re)"
                )
            else:
                score = (
                    "transform(__sd_re, x -> CASE WHEN __sd_rs > 0.0D"
                    " THEN (x - __sd_rm) / __sd_rs ELSE 0.0D END)"
                )
                flags = (
                    f"transform(__sd_sc, z -> CAST(CASE"
                    f" WHEN z >= {threshold!r}D THEN 1"
                    f" WHEN z <= {-threshold!r}D THEN -1"
                    f" ELSE 0 END AS BIGINT))"
                )
                rstd = (
                    "sqrt(aggregate(__sd_re, 0.0D, (acc, x) ->"
                    " acc + (x - __sd_rm) * (x - __sd_rm))"
                    " / size(__sd_re))"
                )
                final = bind(
                    mean("__sd_re"),
                    "__sd_rm",
                    bind(
                        rstd,
                        "__sd_rs",
                        bind(
                            score,
                            "__sd_sc",
                            "named_struct('ad_flag', "
                            + flags
                            + ", 'ad_score', __sd_sc,"
                            " 'baseline', __sd_ba)",
                        ),
                    ),
                )
            return bind(
                f"transform({a0}, x -> CAST(x AS DOUBLE))",
                ad,
                bind(
                    trend,
                    "__sd_tr",
                    bind(
                        f"zip_with({ad}, __sd_tr, (x, t) -> x - t)",
                        "__sd_de",
                        bind(
                            psums,
                            "__sd_ps",
                            bind(
                                seasonal,
                                "__sd_se",
                                bind(
                                    "zip_with(__sd_tr, __sd_se,"
                                    " (t, s) -> t + s)",
                                    "__sd_ba",
                                    bind(
                                        f"zip_with({ad}, __sd_ba,"
                                        " (x, b) -> x - b)",
                                        "__sd_re",
                                        final,
                                    ),
                                ),
                            ),
                        ),
                    ),
                ),
            )
        if name in ("iff", "iif"):
            argc(3, 3)
            return (
                f"CASE WHEN coalesce({self.expr(args[0])}, FALSE)"
                f" THEN {self.expr(args[1])} ELSE {self.expr(args[2])} END"
            )
        if name == "tolower":
            argc(1, 1)
            return f"lower({self.expr(args[0])})"
        if name == "toupper":
            argc(1, 1)
            return f"upper({self.expr(args[0])})"
        if name == "bin":
            argc(2, 2)
            if isinstance(args[1], (StringLit, TimespanLit)):
                usec = (
                    args[1].microseconds
                    if isinstance(args[1], TimespanLit)
                    else _duration_usec(args[1].value, e.span)
                )
                x = self.expr(args[0])
                return (
                    f"timestamp_micros(CAST(floor(unix_micros({x}) /"
                    f" {usec}) AS BIGINT) * {usec})"
                )
            return (
                f"(floor({self.expr(args[0], 4)} / {self.expr(args[1], 5)})"
                f" * {self.expr(args[1], 5)})"
            )
        # ---- EXTENSION (KQL scalar/aggregate surface) — text twins of
        # the DataFrame compiler's rewrites in functions.compile_call;
        # kept in the same order for side-by-side review.
        if name in KQL_RENAMES:
            target = KQL_RENAMES[name]
            return f"{target}({', '.join(self.expr(a) for a in args)})"

        def lit_str(i: int, what: str = "string literal") -> str:
            if i >= len(args) or not isinstance(args[i], StringLit):
                raise ParseError(
                    f"{e.func}() argument {i + 1} must be a {what}",
                    e.span,
                )
            return args[i].value

        if name == "substring":
            argc(2, 3)
            length = self.expr(args[2]) if len(args) == 3 else "2147483647"
            return (
                f"substring({self.expr(args[0])},"
                f" ({self.expr(args[1])}) + 1, {length})"
            )
        if name in ("has_ipv4", "has_any_ipv4", "has_ipv4_prefix"):
            argc(2, 2 if name != "has_any_ipv4" else 99)
            src = self.expr(args[0])
            octs = [
                "TRY_CAST(try_element_at(split(__hi_x, '\\\\.'),"
                f" {i + 1}) AS BIGINT)"
                for i in range(4)
            ]
            ipl = (
                "(CASE WHEN size(split(__hi_x, '\\\\.')) = 4"
                + "".join(f" AND {o} BETWEEN 0 AND 255" for o in octs)
                + " THEN 1 END)"
            )
            cand = (
                f"filter(regexp_extract_all({src},"
                " '(?<!\\\\w)(?<!\\\\d\\\\.)"
                "((?:\\\\d{1,3}\\\\.){3}\\\\d{1,3})"
                "(?!\\\\w)(?!\\\\.\\\\d)', 1),"
                f" __hi_x -> {ipl} IS NOT NULL)"
            )
            if name == "has_ipv4_prefix":
                return (
                    f"exists({cand}, __hi_x ->"
                    f" startswith(__hi_x, {self.expr(args[1])}))"
                )
            conds = " OR ".join(
                f"__hi_x = {self.expr(a)}" for a in args[1:]
            )
            return f"exists({cand}, __hi_x -> ({conds}))"
        if name == "parse_csv":
            # twin of the DataFrame build: first line, quote-aware
            # comma split, unwrap + unescape quoted fields
            argc(1, 1)
            line = f"substring_index({self.expr(args[0])}, '\\n', 1)"
            fields = (
                f"split({line},"
                " ',(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)')"
            )
            return (
                f"transform({fields}, __pc_f -> CASE WHEN"
                " __pc_f RLIKE '^\".*\"$' THEN"
                " replace(substring(__pc_f, 2, length(__pc_f) - 2),"
                " '\"\"', '\"') ELSE __pc_f END)"
            )
        if name == "split":
            argc(2, 3)
            delim = _qs(escape_regex(lit_str(1)))
            parts = f"split({self.expr(args[0])}, {delim})"
            if len(args) == 3:
                return (
                    f"try_element_at({parts}, ({self.expr(args[2])}) + 1)"
                )
            return parts
        if name == "indexof":
            argc(2, 2)
            return (
                f"(instr({self.expr(args[0])}, {self.expr(args[1])}) - 1)"
            )
        if name == "countof":
            argc(2, 3)
            s, sub = self.expr(args[0]), self.expr(args[1])
            if len(args) == 3:
                kind = lit_str(2, "kind literal")
                if kind not in ("normal", "regex"):
                    raise ParseError(
                        "countof() kind must be 'normal' or 'regex'",
                        e.span,
                    )
                if kind == "regex":
                    regex = lit_str(1, "regex string literal")
                    rq = regex.replace("'", "''")
                    return (
                        f"CAST(size(regexp_extract_all({s}, '{rq}', 0))"
                        " AS BIGINT)"
                    )
            return (
                f"CAST((length({s}) - length(replace({s}, {sub}, '')))"
                f" / length({sub}) AS BIGINT)"
            )
        if name == "indexof_regex":
            argc(2, 2)
            return (
                f"CAST(regexp_instr({self.expr(args[0])},"
                f" {self.expr(args[1])}) - 1 AS BIGINT)"
            )
        if name == "extract":
            argc(3, 3)
            regex = lit_str(0, "regex string literal")
            if not isinstance(args[1], NumberLit) or args[1].is_float:
                raise ParseError(
                    "extract() capture group must be an integer literal",
                    e.span,
                )
            return (
                f"regexp_extract({self.expr(args[2])},"
                f" {_qs(regex)}, {int(args[1].text)})"
            )
        if name == "extract_all":
            argc(2, 2)
            regex = lit_str(0, "regex string literal")
            group = 1 if "(" in regex.replace("(?:", "") else 0
            return (
                f"regexp_extract_all({self.expr(args[1])},"
                f" {_qs(regex)}, {group})"
            )
        if name in ("trim", "trim_start", "trim_end") and len(args) == 2:
            regex = lit_str(0, "regex string literal")
            pats = {
                "trim": f"^(?:{regex})+|(?:{regex})+$",
                "trim_start": f"^(?:{regex})+",
                "trim_end": f"(?:{regex})+$",
            }
            return (
                f"regexp_replace({self.expr(args[1])},"
                f" {_qs(pats[name])}, '')"
            )
        if name == "strcat_array":
            argc(2, 2)
            delim = _qs(lit_str(1))
            return (
                f"concat_ws({delim}, CAST({self.expr(args[0])}"
                f" AS ARRAY<STRING>))"
            )
        if name == "strcat_delim":
            if len(args) < 2:
                raise ParseError(
                    "strcat_delim() takes at least 2 arguments", e.span
                )
            delim = _qs(lit_str(0))
            items = ", ".join(
                f"coalesce(CAST({self.expr(a)} AS STRING), '')"
                for a in args[1:]
            )
            return f"concat_ws({delim}, {items})"
        if name == "strcmp":
            argc(2, 2)
            a, b = self.expr(args[0]), self.expr(args[1])
            return (
                f"CASE WHEN {a} < {b} THEN -1 WHEN {a} > {b} THEN 1"
                f" WHEN {a} = {b} THEN 0 END"
            )
        if name == "tohex":
            argc(1, 1)
            return f"lower(hex({self.expr(args[0])}))"
        if name == "hash":
            argc(1, 2)
            h = f"xxhash64({self.expr(args[0])})"
            if len(args) == 2:
                return f"pmod({h}, {self.expr(args[1])})"
            return h
        if name == "base64_encode_tostring":
            argc(1, 1)
            return f"base64(CAST({self.expr(args[0])} AS BINARY))"
        if name == "base64_decode_tostring":
            argc(1, 1)
            return f"CAST(unbase64({self.expr(args[0])}) AS STRING)"
        if name == "isempty":
            argc(1, 1)
            return (
                f"coalesce(CAST({self.expr(args[0])} AS STRING) = '',"
                " TRUE)"
            )
        if name == "isnotempty":
            argc(1, 1)
            return (
                f"coalesce(CAST({self.expr(args[0])} AS STRING) <> '',"
                " FALSE)"
            )
        if name == "isfinite":
            argc(1, 1)
            x = f"CAST({self.expr(args[0])} AS DOUBLE)"
            return (
                f"coalesce(NOT isnan({x}) AND abs({x}) <"
                " CAST('Infinity' AS DOUBLE), FALSE)"
            )
        if name == "case":
            if len(args) < 3 or len(args) % 2 == 0:
                raise ParseError(
                    "case() takes pred1, val1, …, predN, valN, else "
                    "(an odd number of arguments, at least 3)",
                    e.span,
                )
            whens = " ".join(
                f"WHEN coalesce({self.expr(args[i])}, FALSE)"
                f" THEN {self.expr(args[i + 1])}"
                for i in range(0, len(args) - 1, 2)
            )
            return f"CASE {whens} ELSE {self.expr(args[-1])} END"
        if name in ("toint", "tolong", "todouble", "toreal", "tobool",
                    "toboolean", "todatetime"):
            argc(1, 1)
            target = {
                "toint": "INT", "tolong": "BIGINT", "todouble": "DOUBLE",
                "toreal": "DOUBLE", "tobool": "BOOLEAN",
                "toboolean": "BOOLEAN", "todatetime": "TIMESTAMP",
            }[name]
            return f"TRY_CAST({self.expr(args[0])} AS {target})"
        if name == "tostring":
            argc(1, 1)
            return f"coalesce(CAST({self.expr(args[0])} AS STRING), '')"
        if name in ("startofday", "startofmonth", "startofyear"):
            argc(1, 1)
            unit = name.removeprefix("startof").upper()
            return f"date_trunc('{unit}', {self.expr(args[0])})"
        if name == "startofweek":
            argc(1, 1)
            x = self.expr(args[0])
            return (
                f"(date_trunc('DAY', {x}) - make_interval(0, 0, 0,"
                f" dayofweek({x}) - 1, 0, 0, 0))"
            )
        if name in ("endofday", "endofmonth", "endofyear"):
            argc(1, 1)
            unit = name.removeprefix("endof")
            x = self.expr(args[0])
            nxt = {
                "day": "make_interval(0, 0, 0, 1, 0, 0, 0)",
                "month": "make_interval(0, 1, 0, 0, 0, 0, 0)",
                "year": "make_interval(1, 0, 0, 0, 0, 0, 0)",
            }[unit]
            return (
                f"(date_trunc('{unit.upper()}', {x}) + {nxt}"
                " - INTERVAL 1 MICROSECOND)"
            )
        if name in ("datetime_add", "datetime_diff"):
            argc(3, 3)
            part = lit_str(0, "datetime-part literal")
            if part.lower() not in _DT_PARTS:
                raise ParseError(f"bad datetime part {part!r}", e.span)
            if name == "datetime_add":
                return (
                    f"timestampadd({part.upper()}, {self.expr(args[1])},"
                    f" {self.expr(args[2])})"
                )
            return (
                f"timestampdiff({part.upper()}, {self.expr(args[2])},"
                f" {self.expr(args[1])})"
            )
        if name == "dayofweek":
            argc(1, 1)
            return f"(dayofweek({self.expr(args[0])}) - 1)"
        if name == "array_index_of":
            argc(2, 2)
            return (
                f"(array_position({self.expr(args[0])},"
                f" {self.expr(args[1])}) - 1)"
            )
        if name == "array_slice":
            argc(3, 3)
            a = self.expr(args[0])
            lo, hi = self.expr(args[1]), self.expr(args[2])
            return f"slice({a}, ({lo}) + 1, ({hi}) - ({lo}) + 1)"
        if name == "jaccard_index":
            argc(2, 2)
            a, b = self.expr(args[0]), self.expr(args[1])
            return (
                f"(CASE WHEN size(array_union({a}, {b})) > 0 THEN"
                f" CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
                f" / size(array_union({a}, {b})) END)"
            )
        if name in ("array_sort_asc", "array_sort_desc"):
            argc(1, 99)
            asc = name == "array_sort_asc"
            if len(args) == 1:
                return (
                    f"sort_array({self.expr(args[0])},"
                    f" {'true' if asc else 'false'})"
                )
            # multi-array form: twin of the DataFrame build — order by
            # the first array (nulls last, stable), gather the rest
            flip = 1 if asc else -1
            stable = (
                "CAST(sign(CAST(__as_l.i - __as_r.i AS DOUBLE)) AS INT)"
            )
            cmp = (
                "CASE"
                " WHEN __as_l.v IS NULL AND __as_r.v IS NULL"
                f" THEN {stable}"
                " WHEN __as_l.v IS NULL THEN 1"
                " WHEN __as_r.v IS NULL THEN -1"
                f" WHEN __as_l.v < __as_r.v THEN {-flip}"
                f" WHEN __as_l.v > __as_r.v THEN {flip}"
                f" ELSE {stable} END"
            )
            keyed = (
                "transform(sequence(1, size(__as_s.a0)), __as_i ->"
                " named_struct('v', element_at(__as_s.a0, __as_i),"
                " 'i', __as_i))"
            )
            order = (
                f"transform(array_sort({keyed},"
                f" (__as_l, __as_r) -> {cmp}), __as_t -> __as_t.i)"
            )
            fields = ", ".join(
                f"'a{j}', CASE WHEN size(__as_s.a0) > 0 THEN"
                f" transform({order}, __as_i ->"
                f" try_element_at(__as_s.a{j}, __as_i))"
                f" ELSE __as_s.a{j} END"
                for j in range(len(args))
            )
            pair = "array(named_struct(" + ", ".join(
                f"'a{j}', {self.expr(a)}" for j, a in enumerate(args)
            ) + "))"
            return (
                f"element_at(transform({pair}, __as_s ->"
                f" named_struct({fields})), 1)"
            )
        if name in ("arg_max", "arg_min"):
            argc(2, 2)
            fn = "max_by" if name == "arg_max" else "min_by"
            return (
                f"{fn}({self.expr(args[1])}, {self.expr(args[0])})"
            )
        if name in ("make_list", "make_set", "make_list_if",
                    "make_set_if"):
            base = 2 if name.endswith("_if") else 1
            argc(base, base)
            x = (
                f"CASE WHEN {self.expr(args[1])} THEN"
                f" {self.expr(args[0])} END"
                if name.endswith("_if")
                else self.expr(args[0])
            )
            collected = f"collect_list({x})"
            if name.startswith("make_set"):
                collected = f"array_distinct({collected})"
            return f"sort_array({collected})"
        if name == "percentiles":
            if len(args) < 2:
                raise ParseError(
                    "percentiles() takes a column and at least one "
                    "percentile", e.span,
                )
            for a in args[1:]:
                if not isinstance(a, NumberLit):
                    raise ParseError(
                        "percentiles() percentile args must be numeric "
                        "literals", e.span,
                    )
            ps = ", ".join(
                f"{self.expr(a)} / 100.0D" for a in args[1:]
            )
            return f"percentile({self.expr(args[0])}, array({ps}))"
        if name == "percentile":
            argc(2, 2)
            return (
                f"percentile({self.expr(args[0])},"
                f" {self.expr(args[1], 4)} / 100.0D)"
            )
        if name in ("percentilew", "percentilesw"):
            if len(args) < 3:
                raise ParseError(
                    f"{e.func}() takes a column, a weight, and at least"
                    " one percentile", e.span,
                )
            freq = f"CAST({self.expr(args[1])} AS BIGINT)"
            if name == "percentilew":
                argc(3, 3)
                return (
                    f"percentile({self.expr(args[0])},"
                    f" {self.expr(args[2], 4)} / 100.0D, {freq})"
                )
            ps = ", ".join(
                f"{self.expr(a)} / 100.0D" for a in args[2:]
            )
            return (
                f"percentile({self.expr(args[0])}, array({ps}), {freq})"
            )
        if name in ("binary_all_and", "binary_all_or", "binary_all_xor"):
            argc(1, 1)
            target = {
                "binary_all_and": "bit_and",
                "binary_all_or": "bit_or",
                "binary_all_xor": "bit_xor",
            }[name]
            return f"{target}(CAST({self.expr(args[0])} AS BIGINT))"
        # passthrough (pql.go:770-787)
        return f"{e.func}({', '.join(self.expr(a) for a in args)})"


def _prepare_emitter(
    text: str,
    columns: Mapping[str, Sequence[str]] | ColumnsOf,
    params: Mapping[str, object] | None,
    width: int | None = None,
    view_name_of: ColumnsOf | None = None,
    externaldata_view_of=None,
) -> tuple[_SqlEmitter, TabularExpr]:
    columns_of: ColumnsOf = (
        columns if callable(columns) else lambda n: columns[n]
    )
    statements = parse(text)
    tabular = [s for s in statements if isinstance(s, TabularExpr)]
    if not tabular:
        raise QueryError(text, [ParseError("no tabular query", Span(0, 0))])
    if len(tabular) > 1:
        raise QueryError(
            text,
            [ParseError("batch queries not supported", tabular[1].span)],
        )
    emitter = _SqlEmitter(
        text, columns_of, dict(params or {}), width, view_name_of,
        externaldata_view_of,
    )
    for stmt in statements:
        if stmt is tabular[0]:
            break  # lets after the query are skipped (pql.go:58-62)
        if isinstance(stmt, LetStatement):
            if stmt.func is not None:
                emitter.let_funcs[stmt.name] = stmt.func
            elif stmt.tabular is not None:
                # EXTENSION tabular let → named subquery binding (same
                # mechanism as `as`)
                emitter.bound[stmt.name] = emitter.emit_query(stmt.tabular)
                emitter.bound_ast[stmt.name] = stmt.tabular
            else:
                emitter.scope[stmt.name] = emitter.expr(stmt.expr)
    return emitter, tabular[0]


def compile_to_sql(
    text: str,
    columns: Mapping[str, Sequence[str]] | ColumnsOf,
    params: Mapping[str, object] | None = None,
    width: int | None = None,
    view_name_of: ColumnsOf | None = None,
    externaldata_view_of=None,
) -> str:
    """Compile one PQL query to a Spark SQL string.

    ``columns`` supplies each referenced table's column list (mapping or
    callable) — required to expand ``*`` at joins and reproduce the
    ``$right.<col>`` duplicate-naming rule.  ``width`` (optional) pins
    expensive-parse repartition hints to an explicit partition count
    (AQE coalesces argless hints); pass the cluster's default
    parallelism when a session is at hand, as ``PqlEngine`` does.
    ``view_name_of`` (optional) maps each logical table name to the
    catalog view name the SQL should reference — the engine passes a
    collision-proof temp-view prefix so running a query never replaces
    a user's same-named temp view.  ``externaldata_view_of`` (optional)
    maps an ``externaldata`` source with reader options (csv/json) to a
    temp-view name the caller promises to register — the engine's
    device for serving option-bearing formats on the SQL path.
    """
    emitter, expr = _prepare_emitter(
        text, columns, params, width, view_name_of, externaldata_view_of
    )
    if expr.operators and isinstance(
        expr.operators[-1], (FacetOp, ForkOp)
    ):
        raise QueryError(
            text,
            [
                ParseError(
                    "multi-output query (facet/fork): use"
                    " compile_to_sql_multi",
                    expr.operators[-1].span,
                )
            ],
        )
    try:
        sql, _ = emitter.emit_query(expr)
    except ParseError as e:
        raise QueryError(text, [e]) from None
    return sql


def compile_to_sql_multi(
    text: str,
    columns: Mapping[str, Sequence[str]] | ColumnsOf,
    params: Mapping[str, object] | None = None,
) -> dict[str, str]:
    """Compile a multi-output (``facet``/``fork``) PQL query to one
    Spark SQL string per output table (same names as the DataFrame
    backend's ``MultiResult``).  Single-output queries come back as
    ``{"main": sql}``."""
    emitter, expr = _prepare_emitter(text, columns, params)
    last = expr.operators[-1] if expr.operators else None
    try:
        if not isinstance(last, (FacetOp, ForkOp)):
            sql, _ = emitter.emit_query(expr)
            return {"main": sql}
        base = TabularExpr(
            source=expr.source,
            operators=expr.operators[:-1],
            span=expr.span,
        )
        base_sql, base_cols = emitter.emit_query(base)
        out: dict[str, str] = {}
        if isinstance(last, FacetOp):
            if last.with_ops:
                sql, cols = base_sql, list(base_cols)
                for op in last.with_ops:
                    sql, cols = emitter.emit_op(op, sql, cols)
                out["main"] = sql
            for ident in last.by:
                c = ident.parts[0]
                if c not in base_cols:
                    raise ParseError(
                        f"facet by: unknown column {c!r}", ident.span
                    )
                if c in out:
                    raise ParseError(
                        f"facet by: duplicate output table {c!r}",
                        ident.span,
                    )
                out[c] = (
                    f"SELECT {_q(c)}, count(1) AS count_ FROM"
                    f" ({base_sql}) GROUP BY {_q(c)}"
                )
        else:
            for i, br in enumerate(last.branches):
                name = br.name or f"fork_{i}"
                if name in out:
                    raise ParseError(
                        f"fork: duplicate branch name {name!r}", br.span
                    )
                saved = (emitter.last_sort, emitter.window)
                emitter.last_sort, emitter.window = None, None
                try:
                    sql, cols = base_sql, list(base_cols)
                    for op in br.ops:
                        sql, cols = emitter.emit_op(op, sql, cols)
                finally:
                    emitter.last_sort, emitter.window = saved
                out[name] = sql
        return out
    except ParseError as e:
        raise QueryError(text, [e]) from None
