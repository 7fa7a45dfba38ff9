"""PQL recursive-descent parser.

Parses the operator surface of the reference grammar
(``/root/reference/parser/parser.go``): 11 tabular operators (+ aliases),
precedence-climbing expressions (parser.go:888-1007), and ``let``
statements.  Like the reference, each ``|``-separated pipeline segment is
parsed by an isolated sub-parser so one bad operator doesn't cascade, and
all errors are accumulated with line:col positions
(parser.go:1221-1279, 1368-1418).
"""

from __future__ import annotations

from dataclasses import dataclass

from .ast_nodes import (
    BagUnpackOp,
    Ipv4LookupOp,
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
    DiffPatternsOp,
    DiffPatternsTextOp,
    FunnelCompletionOp,
    FunnelSequenceOp,
    NarrowOp,
    FacetOp,
    ForkBranch,
    ForkOp,
    FuncDef,
    ToScalarExpr,
    SampleDistinctOp,
    ScanOp,
    ScanStep,
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
    Ident,
    IndexExpr,
    InExpr,
    GetSchemaOp,
    JoinOp,
    LetStatement,
    LookupOp,
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
    RenderOp,
    SampleOp,
    AutoclusterOp,
    InvokeOp,
    ConsumeOp,
    ReduceOp,
    SearchOp,
    SequenceDetectOp,
    SerializeOp,
    SeriesSpec,
    SortOp,
    TopHittersOp,
    TopNestedLevel,
    TopNestedOp,
    UnionOp,
    SortTerm,
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
from .lexer import LexError, Span, Token, TokenKind, scan


@dataclass
class ParseError(Exception):
    message: str
    span: Span

    def __str__(self) -> str:
        return self.message


def _line_col(source: str, offset: int) -> tuple[int, int]:
    line = source.count("\n", 0, offset) + 1
    nl = source.rfind("\n", 0, offset)
    col = offset - nl
    return line, col


class QueryError(ValueError):
    """Accumulated parse/compile errors with line:col positions
    (multi-error reporting, parser.go:1368-1418)."""

    def __init__(self, source: str, errors: list[ParseError]):
        self.errors = errors
        msgs = []
        for e in errors:
            line, col = _line_col(source, e.span.start)
            msgs.append(f"{line}:{col}: {e.message}")
        super().__init__("; ".join(msgs))


# binary operator precedence, high → low (parser.go:991-1007)
_PRECEDENCE = {
    TokenKind.STAR: 4,
    TokenKind.SLASH: 4,
    TokenKind.MOD: 4,
    TokenKind.PLUS: 3,
    TokenKind.MINUS: 3,
    TokenKind.EQ: 2,
    TokenKind.NE: 2,
    TokenKind.CI_EQ: 2,
    TokenKind.CI_NE: 2,
    TokenKind.LT: 2,
    TokenKind.LE: 2,
    TokenKind.GT: 2,
    TokenKind.GE: 2,
    TokenKind.IN: 2,
    TokenKind.AND: 1,
    TokenKind.OR: 0,
}

_BINOP_TEXT = {
    TokenKind.STAR: "*",
    TokenKind.SLASH: "/",
    TokenKind.MOD: "%",
    TokenKind.PLUS: "+",
    TokenKind.MINUS: "-",
    TokenKind.EQ: "==",
    TokenKind.NE: "!=",
    TokenKind.CI_EQ: "=~",
    TokenKind.CI_NE: "!~",
    TokenKind.LT: "<",
    TokenKind.LE: "<=",
    TokenKind.GT: ">",
    TokenKind.GE: ">=",
    TokenKind.AND: "and",
    TokenKind.OR: "or",
}

# EXTENSION: KQL string-predicate word operators (comparison precedence;
# the reference has no word-shaped binary operators)
_WORD_OPS = {
    "contains", "contains_cs", "!contains", "!contains_cs",
    "startswith", "startswith_cs", "!startswith", "!startswith_cs",
    "endswith", "endswith_cs", "!endswith", "!endswith_cs",
    "has", "has_cs", "!has", "!has_cs",
}

# EXTENSION: in-family word operators taking a parenthesized term list
_IN_OPS = {"in~", "!in", "!in~", "has_any", "has_all"}

# operator aliases (parser.go:182-199)
_OP_ALIASES = {"filter": "where", "order": "sort", "limit": "take"}

# reference flavors (parser.go:742-746) plus EXTENSION: the full KQL
# flavor set the reference rejects (SURVEY §2.3) — Spark supports all of
# them natively via the join `how=` parameter.
_JOIN_FLAVORS = {
    "inner", "innerunique", "leftouter",
    "rightouter", "fullouter",
    "leftsemi", "rightsemi", "leftanti", "rightanti",
}
# EXTENSION join physical-strategy hints (KQL hint.strategy) → Spark
# join hints; `shuffle` = KQL's shufflekey analog (hash-partitioned)
_JOIN_STRATEGIES = {"broadcast", "shuffle", "shuffle_merge"}

# KQL alias spellings, normalized at parse time
_JOIN_FLAVOR_ALIASES = {
    "anti": "leftanti",
    "leftantisemi": "leftanti",
    "rightantisemi": "rightanti",
}


def parse(source: str) -> list[Statement]:
    """Parse PQL source into statements. Raises QueryError on any failure."""
    try:
        tokens = scan(source)
    except LexError as e:
        raise QueryError(source, [ParseError(e.message, e.span)]) from None
    statements: list[Statement] = []
    errors: list[ParseError] = []
    for group in _split_on(tokens, TokenKind.SEMI):
        if not group:
            continue
        try:
            statements.append(_parse_statement(group, source))
        except ParseError as e:
            errors.append(e)
    if errors:
        raise QueryError(source, errors)
    if not statements:
        raise QueryError(
            source, [ParseError("empty query", Span(0, len(source)))]
        )
    return statements


def _split_on(tokens: list[Token], kind: TokenKind) -> list[list[Token]]:
    """Split a token list on top-level occurrences of ``kind`` (depth
    tracked across () and [])."""
    groups: list[list[Token]] = [[]]
    depth = 0
    for tok in tokens:
        if tok.kind in (TokenKind.LPAREN, TokenKind.LBRACKET):
            depth += 1
        elif tok.kind in (TokenKind.RPAREN, TokenKind.RBRACKET):
            depth -= 1
        if depth == 0 and tok.kind is kind:
            groups.append([])
        else:
            groups[-1].append(tok)
    return groups


def _parse_statement(tokens: list[Token], source: str) -> Statement:
    first = tokens[0]
    if first.kind is TokenKind.IDENT and first.value == "let":
        return _parse_let(tokens, source)
    if first.kind is TokenKind.IDENT and first.value == "print":
        return _parse_print(tokens, source)
    return _parse_tabular(tokens, source)


def _parse_print(tokens: list[Token], source: str) -> TabularExpr:
    """EXTENSION: ``print [name =] expr, …`` — one-row result (KQL
    print); compiles as a project over a single empty row."""
    segments = _split_on(tokens, TokenKind.PIPE)
    p = _P(segments[0], source)
    kw = p.take()  # 'print'
    cols = p.parse_colspec_list()
    p.expect_end()
    src = DatatableSource(
        schema=[], values=[], span=kw.span
    )
    ops: list[Op] = [
        ProjectOp(cols=cols, span=Span(kw.span.start, cols[-1].span.end))
    ]
    errors: list[ParseError] = []
    for seg in segments[1:]:
        if not seg:
            errors.append(ParseError("empty pipeline segment", kw.span))
            continue
        try:
            ops.append(_parse_operator(_P(seg, source)))
        except ParseError as e:
            errors.append(e)
    if errors:
        raise errors[0] if len(errors) == 1 else _merge(errors, source)
    return TabularExpr(
        source=src, operators=ops, span=Span(kw.span.start, ops[-1].span.end)
    )


# PQL/KQL type name → Spark SQL type for datatable schemas
_DATATABLE_TYPES = {
    "long": "bigint",
    "int": "int",
    "real": "double",
    "double": "double",
    "string": "string",
    "bool": "boolean",
    "boolean": "boolean",
    "datetime": "timestamp",
    "timestamp": "timestamp",
}


def _parse_range(p: _P, kw: Token) -> RangeSource:
    """``range x from 1 to 100 step 5`` — inclusive integer sequence."""
    name = p.take()
    w = p.expect(TokenKind.IDENT, "'from'")
    if w.value != "from":
        raise ParseError(f"expected 'from', got {w.value!r}", w.span)
    start = p.parse_expr()
    w = p.expect(TokenKind.IDENT, "'to'")
    if w.value != "to":
        raise ParseError(f"expected 'to', got {w.value!r}", w.span)
    stop = p.parse_expr()
    w = p.expect(TokenKind.IDENT, "'step'")
    if w.value != "step":
        raise ParseError(f"expected 'step', got {w.value!r}", w.span)
    step = p.parse_expr()
    return RangeSource(
        name=name.value,
        start=start,
        stop=stop,
        step=step,
        span=Span(kw.span.start, step.span.end),
    )


def _parse_externaldata(p: _P, kw: Token) -> ExternalDataSource:
    """``externaldata (c: type, …) ["uri", …] with (k="v", …)`` (KQL)."""
    p.expect(TokenKind.LPAREN, "'('")
    schema: list[tuple[str, str]] = []
    while True:
        name = p.take()
        if name.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected column name", name.span)
        p.expect(TokenKind.COLON, "':'")
        ty = p.expect(TokenKind.IDENT, "type name")
        if ty.value not in _DATATABLE_TYPES:
            raise ParseError(
                f"unknown externaldata type {ty.value!r} (supported: "
                f"{', '.join(sorted(_DATATABLE_TYPES))})",
                ty.span,
            )
        schema.append((name.value, ty.value))
        if not p.match(TokenKind.COMMA):
            break
    p.expect(TokenKind.RPAREN, "')'")
    p.expect(TokenKind.LBRACKET, "'['")
    uris: list[str] = []
    while True:
        u = p.take()
        if u.kind is not TokenKind.STRING:
            raise ParseError("expected URI string literal", u.span)
        uris.append(u.value)
        if not p.match(TokenKind.COMMA):
            break
    rb = p.expect(TokenKind.RBRACKET, "']'")
    options: list[tuple[str, str]] = []
    end = rb.span.end
    if p.match_word("with"):
        p.expect(TokenKind.LPAREN, "'('")
        while True:
            k = p.expect(TokenKind.IDENT, "option name")
            p.expect(TokenKind.ASSIGN, "'='")
            v = p.take()
            if v.kind is not TokenKind.STRING:
                raise ParseError("expected option string literal", v.span)
            options.append((k.value, v.value))
            if not p.match(TokenKind.COMMA):
                break
        rp = p.expect(TokenKind.RPAREN, "')'")
        end = rp.span.end
    return ExternalDataSource(
        schema=schema, uris=uris, options=options,
        span=Span(kw.span.start, end),
    )


def _parse_datatable(p: _P, kw: Token) -> DatatableSource:
    """``datatable (c1: long, c2: string) [v, v, …]`` — row-major flat
    literal list, like KQL."""
    p.expect(TokenKind.LPAREN, "'('")
    schema: list[tuple[str, str]] = []
    while True:
        name = p.take()
        if name.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected column name", name.span)
        p.expect(TokenKind.COLON, "':'")
        ty = p.expect(TokenKind.IDENT, "type name")
        if ty.value not in _DATATABLE_TYPES:
            raise ParseError(
                f"unknown datatable type {ty.value!r} (supported: "
                f"{', '.join(sorted(_DATATABLE_TYPES))})",
                ty.span,
            )
        schema.append((name.value, ty.value))
        if not p.match(TokenKind.COMMA):
            break
    p.expect(TokenKind.RPAREN, "')'")
    lb = p.expect(TokenKind.LBRACKET, "'['")
    values: list[Expr] = []
    if p.peek() is not None and p.peek().kind is not TokenKind.RBRACKET:
        while True:
            values.append(p.parse_expr())
            if p.match(TokenKind.COMMA):
                if (
                    p.peek() is not None
                    and p.peek().kind is TokenKind.RBRACKET
                ):
                    break  # trailing comma
                continue
            break
    rb = p.expect(TokenKind.RBRACKET, "']'")
    if len(values) % len(schema) != 0:
        raise ParseError(
            f"datatable value count {len(values)} is not a multiple of "
            f"the {len(schema)}-column schema",
            Span(lb.span.start, rb.span.end),
        )
    return DatatableSource(
        schema=schema, values=values, span=Span(kw.span.start, rb.span.end)
    )


def _parse_let(tokens: list[Token], source: str) -> LetStatement:
    p = _P(tokens, source)
    kw = p.expect_ident("let")
    name = p.expect(TokenKind.IDENT, "let binding name")
    p.expect(TokenKind.ASSIGN, "'='")
    rest = tokens[p.i :]
    # EXTENSION (KQL stored function): `let f = (x: long, …) { expr };`
    # — `(params…) {` after `=` is unambiguous (a parenthesized scalar
    # expression is never followed by `{`)
    if rest and rest[0].kind is TokenKind.LPAREN:
        depth = 0
        for j, t in enumerate(rest):
            if t.kind is TokenKind.LPAREN:
                depth += 1
            elif t.kind is TokenKind.RPAREN:
                depth -= 1
                if depth == 0:
                    break
        if (
            depth == 0
            and j + 1 < len(rest)
            and rest[j + 1].kind is TokenKind.LBRACE
        ):
            return _parse_let_func(p, kw, name)
    # EXTENSION (KQL materialize): `let m = materialize(<tabular>);`
    # strips the wrapper and binds a plain tabular let, as the SQL
    # backend always has: nothing is cached, and Spark reuses the
    # bound plan's identical exchanges across references
    if (
        len(rest) >= 3
        and rest[0].kind is TokenKind.IDENT
        and rest[0].value == "materialize"
        and rest[1].kind is TokenKind.LPAREN
        and rest[-1].kind is TokenKind.RPAREN
    ):
        tab = _parse_tabular(rest[2:-1], source)
        return LetStatement(
            name=name.value, expr=None, tabular=tab,
            span=Span(kw.span.start, rest[-1].span.end),
        )
    # EXTENSION (KQL tabular let; the reference rejects it): a RHS with a
    # top-level `|`, or a datatable/range source, binds a TABLE.  A bare
    # identifier stays a scalar substitution (reference semantics).
    top = _split_on(rest, TokenKind.PIPE)
    is_tabular = len(top) > 1 or (
        rest
        and rest[0].kind is TokenKind.IDENT
        and (
            rest[0].value in ("datatable", "externaldata")
            or (
                rest[0].value == "range"
                and len(rest) > 2
                and rest[1].kind in (TokenKind.IDENT, TokenKind.QIDENT)
                and rest[2].kind is TokenKind.IDENT
                and rest[2].value == "from"
            )
        )
    )
    if is_tabular:
        tab = _parse_tabular(rest, source)
        return LetStatement(
            name=name.value, expr=None, tabular=tab,
            span=Span(kw.span.start, tab.span.end),
        )
    expr = p.parse_expr()
    p.expect_end()
    return LetStatement(
        name=name.value, expr=expr, span=Span(kw.span.start, expr.span.end)
    )


def _parse_let_func(p: _P, kw: Token, name: Token) -> LetStatement:
    """``let f = (x: long[, …]) { <scalar expr> };`` — parse the param
    list and brace-delimited body."""
    p.expect(TokenKind.LPAREN, "'('")
    params: list[tuple[str, str | None]] = []
    if p.peek() is not None and p.peek().kind is not TokenKind.RPAREN:
        while True:
            pn = p.take()
            if pn.kind is not TokenKind.IDENT:
                raise ParseError("expected parameter name", pn.span)
            ty: str | None = None
            if p.match(TokenKind.COLON):
                if p.peek() is not None and p.peek().kind is TokenKind.LPAREN:
                    # EXTENSION tabular parameter: `t: (*)`
                    p.take()
                    p.expect(TokenKind.STAR, "'*'")
                    p.expect(TokenKind.RPAREN, "')'")
                    ty = "(*)"
                else:
                    tt = p.expect(TokenKind.IDENT, "type name")
                    if tt.value not in _DATATABLE_TYPES:
                        raise ParseError(
                            f"unknown parameter type {tt.value!r}", tt.span
                        )
                    ty = tt.value
            params.append((pn.value, ty))
            if not p.match(TokenKind.COMMA):
                break
    p.expect(TokenKind.RPAREN, "')'")
    p.expect(TokenKind.LBRACE, "'{'")
    if any(ty == "(*)" for _, ty in params):
        # EXTENSION tabular-bodied function ("view"): body is a full
        # pipeline whose source may be the tabular parameter
        depth = 1
        body_toks: list[Token] = []
        while True:
            t = p.take()
            if t.kind is TokenKind.LBRACE:
                depth += 1
            elif t.kind is TokenKind.RBRACE:
                depth -= 1
                if depth == 0:
                    rb = t
                    break
            body_toks.append(t)
        p.expect_end()
        if params[0][1] != "(*)":
            raise ParseError(
                "the tabular '(*)' parameter must come first",
                name.span,
            )
        tab = _parse_tabular(body_toks, p.source)
        fd = FuncDef(
            params=params, body=None, tab_body=tab,
            span=Span(kw.span.start, rb.span.end),
        )
        return LetStatement(
            name=name.value, expr=None, func=fd,
            span=Span(kw.span.start, rb.span.end),
        )
    body = p.parse_expr()
    rb = p.expect(TokenKind.RBRACE, "'}'")
    p.expect_end()
    fd = FuncDef(
        params=params, body=body, span=Span(kw.span.start, rb.span.end)
    )
    return LetStatement(
        name=name.value, expr=None, func=fd,
        span=Span(kw.span.start, rb.span.end),
    )


def _parse_find(p: _P, kw: Token) -> tuple[TableRef, list[Op]]:
    """EXTENSION (KQL ``find`` operator, simplified):
    ``find [withsource = Col] in (T1, T2, …) where Pred
    [project C1, C2, …]``

    Desugars to a pure composition of existing operators — each table
    extends a provenance column (default ``source_``), the branches
    bag-union by name (outer, null-filled), the predicate filters, and
    an optional project trims columns.  Both backends get it for free.
    Divergence from KQL: no ``pack_(*)`` of non-common columns and no
    ``project-smart`` — the outer union keeps every column.
    """
    ws = "source_"
    if p.match_word("withsource"):
        p.expect(TokenKind.ASSIGN, "'='")
        t = p.take()
        if t.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected column name", t.span)
        ws = t.value
    t = p.take()
    if t.kind is not TokenKind.IN:
        raise ParseError("find: expected 'in'", t.span)
    p.expect(TokenKind.LPAREN, "'('")
    tables: list[TableRef] = []
    while True:
        t = p.take()
        if t.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected table name", t.span)
        tables.append(
            TableRef(
                name=t.value,
                quoted=t.kind is TokenKind.QIDENT,
                span=t.span,
            )
        )
        if not p.match(TokenKind.COMMA):
            break
    p.expect(TokenKind.RPAREN, "')'")
    wt = p.take()
    if wt.kind is not TokenKind.IDENT or wt.value not in (
        "where", "filter"
    ):
        raise ParseError("find: expected 'where'", wt.span)
    pred = p.parse_expr()
    proj: ProjectOp | None = None
    pw = p.match_word("project")
    if pw is not None:
        cols = []
        while True:
            t = p.take()
            if t.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError("expected column name", t.span)
            cols.append(
                ColSpec(
                    name=t.value,
                    expr=Ident(
                        parts=[t.value],
                        quoted=[t.kind is TokenKind.QIDENT],
                        span=t.span,
                    ),
                    span=t.span,
                )
            )
            if not p.match(TokenKind.COMMA):
                break
        proj = ProjectOp(
            cols=cols, span=Span(pw.span.start, cols[-1].span.end)
        )

    def tagged(ref: TableRef) -> TabularExpr:
        ext = ExtendOp(
            cols=[
                ColSpec(
                    name=ws,
                    expr=StringLit(value=ref.name, span=ref.span),
                    span=ref.span,
                )
            ],
            span=ref.span,
        )
        return TabularExpr(
            source=ref, operators=[ext], span=ref.span
        )

    first = tagged(tables[0])
    ops: list[Op] = list(first.operators)
    if len(tables) > 1:
        ops.append(
            UnionOp(
                others=[tagged(r) for r in tables[1:]],
                withsource=None,
                kind="outer",
                span=kw.span,
            )
        )
    ops.append(
        WhereOp(predicate=pred, span=Span(kw.span.start, pred.span.end))
    )
    if proj is not None:
        ops.append(proj)
    return tables[0], ops


def _parse_tabular(tokens: list[Token], source: str) -> TabularExpr:
    segments = _split_on(tokens, TokenKind.PIPE)
    errors: list[ParseError] = []
    src_seg = segments[0]
    if not src_seg:
        raise ParseError("expected table name", Span(0, 0))
    p = _P(src_seg, source)
    tok = p.take()
    if tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError("expected table name", tok.span)
    table: TableRef | DatatableSource | RangeSource | ExternalDataSource
    find_ops: list[Op] | None = None
    if (
        tok.kind is TokenKind.IDENT
        and tok.value == "find"
        and p.peek() is not None
        and (
            p.peek().kind is TokenKind.IN
            or (
                p.peek().kind is TokenKind.IDENT
                and p.peek().value == "withsource"
            )
        )
    ):  # `find in (…) where …` — otherwise `find` is a table name
        table, find_ops = _parse_find(p, tok)
    elif tok.kind is TokenKind.IDENT and tok.value == "datatable":
        table = _parse_datatable(p, tok)
    elif tok.kind is TokenKind.IDENT and tok.value == "externaldata":
        table = _parse_externaldata(p, tok)
    elif (
        tok.kind is TokenKind.IDENT
        and tok.value == "range"
        and p.peek() is not None
        and p.peek().kind in (TokenKind.IDENT, TokenKind.QIDENT)
        and p.peek(1) is not None
        and p.peek(1).kind is TokenKind.IDENT
        and p.peek(1).value == "from"
    ):  # `range x from …` — otherwise `range` is a plain table name
        table = _parse_range(p, tok)
    else:
        table = TableRef(
            name=tok.value, quoted=tok.kind is TokenKind.QIDENT, span=tok.span
        )
    try:
        p.expect_end()
    except ParseError as e:
        errors.append(e)
    ops: list[Op] = list(find_ops) if find_ops else []
    for seg in segments[1:]:
        if not seg:
            errors.append(ParseError("empty pipeline segment", table.span))
            continue
        try:
            ops.append(_parse_operator(_P(seg, source)))
        except ParseError as e:
            errors.append(e)
    if errors:
        raise errors[0] if len(errors) == 1 else _merge(errors, source)
    end = ops[-1].span.end if ops else table.span.end
    return TabularExpr(
        source=table, operators=ops, span=Span(table.span.start, end)
    )


def _merge(errors: list[ParseError], source: str) -> ParseError:
    msgs = []
    for e in errors:
        line, col = _line_col(source, e.span.start)
        msgs.append(f"{line}:{col}: {e.message}")
    return ParseError("; ".join(msgs), errors[0].span)


def _parse_operator(p: "_P") -> Op:
    tok = p.take()
    if tok.kind is not TokenKind.IDENT:
        raise ParseError("expected operator name", tok.span)
    name = _OP_ALIASES.get(tok.value, tok.value)
    # hyphenated extension operators (project-away, mv-expand): the
    # lexer yields IDENT MINUS IDENT
    nxt, nxt2 = p.peek(), p.peek(1)
    if (
        nxt is not None
        and nxt.kind is TokenKind.MINUS
        and nxt2 is not None
        and nxt2.kind is TokenKind.IDENT
        and f"{name}-{nxt2.value}" in _OPERATORS
    ):
        p.take()
        suffix = p.take()
        name = f"{name}-{suffix.value}"
    fn = _OPERATORS.get(name)
    if fn is None:
        raise ParseError(f"unknown operator {tok.value!r}", tok.span)
    op = fn(p, tok)
    p.expect_end()
    return op


# --------------------------------------------------------------- sub-parsers


class _P:
    """Token cursor over one isolated segment."""

    def __init__(self, tokens: list[Token], source: str):
        self.tokens = tokens
        self.source = source
        self.i = 0

    # -- cursor primitives

    def peek(self, offset: int = 0) -> Token | None:
        j = self.i + offset
        return self.tokens[j] if j < len(self.tokens) else None

    def at_end(self) -> bool:
        return self.i >= len(self.tokens)

    def take(self) -> Token:
        if self.at_end():
            raise ParseError("unexpected end of input", self._end_span())
        tok = self.tokens[self.i]
        self.i += 1
        return tok

    def _end_span(self) -> Span:
        if self.tokens:
            last = self.tokens[-1].span
            return Span(last.end, last.end)
        return Span(0, 0)

    def expect(self, kind: TokenKind, what: str) -> Token:
        tok = self.peek()
        if tok is None or tok.kind is not kind:
            span = tok.span if tok else self._end_span()
            got = tok.kind.value if tok else "end of input"
            raise ParseError(f"expected {what}, got {got}", span)
        return self.take()

    def expect_ident(self, word: str | None = None) -> Token:
        tok = self.expect(TokenKind.IDENT, word or "identifier")
        if word is not None and tok.value != word:
            raise ParseError(f"expected {word!r}, got {tok.value!r}", tok.span)
        return tok

    def expect_end(self) -> None:
        if not self.at_end():
            tok = self.tokens[self.i]
            raise ParseError(f"unexpected {tok.value!r}", tok.span)

    def match_word(self, *words: str) -> Token | None:
        tok = self.peek()
        if tok is not None and tok.kind is TokenKind.IDENT and tok.value in words:
            return self.take()
        return None

    def match(self, kind: TokenKind) -> Token | None:
        tok = self.peek()
        if tok is not None and tok.kind is kind:
            return self.take()
        return None

    # -- expressions (precedence climbing, parser.go:888-1007)

    def parse_expr(self, min_prec: int = 0) -> Expr:
        lhs = self.parse_unary()
        while True:
            tok = self.peek()
            if tok is None:
                return lhs
            if tok.kind is TokenKind.IDENT and tok.value in _WORD_OPS:
                prec, op_text = 2, tok.value
            elif (
                tok.kind is TokenKind.IDENT
                and tok.value == "matches"
                and self.peek(1) is not None
                and self.peek(1).kind is TokenKind.IDENT
                and self.peek(1).value == "regex"
            ):
                # KQL `x matches regex "pat"` — case-sensitive RE match
                prec, op_text = 2, "matches regex"
                if prec >= min_prec:
                    self.take()  # consume 'matches'; 'regex' below
            elif tok.kind is TokenKind.IDENT and tok.value in _IN_OPS:
                if 2 < min_prec:
                    return lhs
                self.take()
                lhs = self._parse_in(lhs, op=tok.value)
                continue
            elif tok.kind is TokenKind.IDENT and tok.value in (
                "between", "!between",
            ):
                if 2 < min_prec:
                    return lhs
                self.take()
                lhs = self._parse_between(lhs, negated=tok.value[0] == "!")
                continue
            else:
                prec = _PRECEDENCE.get(tok.kind)
                if prec is None:
                    return lhs
                op_text = None
            if prec < min_prec:
                return lhs
            self.take()
            if tok.kind is TokenKind.IN:
                lhs = self._parse_in(lhs)
                continue
            rhs = self.parse_expr(prec + 1)
            lhs = BinaryExpr(
                op=op_text or _BINOP_TEXT[tok.kind],
                lhs=lhs,
                rhs=rhs,
                span=Span(lhs.span.start, rhs.span.end),
            )

    def _parse_between(self, lhs: Expr, negated: bool) -> Expr:
        """EXTENSION: ``x between (lo .. hi)`` — inclusive range."""
        self.expect(TokenKind.LPAREN, "'(' after 'between'")
        lo = self.parse_expr()
        self.expect(TokenKind.DOTDOT, "'..'")
        hi = self.parse_expr()
        rp = self.expect(TokenKind.RPAREN, "')'")
        return BetweenExpr(
            lhs=lhs, lo=lo, hi=hi, negated=negated,
            span=Span(lhs.span.start, rp.span.end),
        )

    def _parse_in(self, lhs: Expr, op: str = "in") -> Expr:
        """``x in (a, b, …)`` — literal list, no subqueries
        (parser.go:912-956); EXTENSION spellings via ``op``."""
        self.expect(TokenKind.LPAREN, f"'(' after {op!r}")
        items: list[Expr] = []
        while True:
            items.append(self.parse_expr())
            if self.match(TokenKind.COMMA):
                if self.peek() is not None and self.peek().kind is TokenKind.RPAREN:
                    break  # trailing comma
                continue
            break
        rp = self.expect(TokenKind.RPAREN, "')'")
        return InExpr(
            lhs=lhs, items=items, op=op,
            span=Span(lhs.span.start, rp.span.end),
        )

    def parse_unary(self) -> Expr:
        tok = self.peek()
        if tok is not None and tok.kind in (TokenKind.PLUS, TokenKind.MINUS):
            self.take()
            operand = self.parse_unary()
            return UnaryExpr(
                op=tok.value,
                operand=operand,
                span=Span(tok.span.start, operand.span.end),
            )
        return self.parse_postfix()

    def parse_postfix(self) -> Expr:
        expr = self.parse_primary()
        while True:
            tok = self.peek()
            if tok is not None and tok.kind is TokenKind.LBRACKET:
                self.take()
                index = self.parse_expr()
                rb = self.expect(TokenKind.RBRACKET, "']'")
                expr = IndexExpr(
                    base=expr, index=index, span=Span(expr.span.start, rb.span.end)
                )
                continue
            return expr

    def parse_primary(self) -> Expr:
        tok = self.take()
        if tok.kind is TokenKind.NUMBER:
            return NumberLit(text=tok.value, span=tok.span)
        if tok.kind is TokenKind.TIMESPAN:
            return TimespanLit(microseconds=int(tok.value), span=tok.span)
        if tok.kind is TokenKind.STRING:
            return StringLit(value=tok.value, span=tok.span)
        if tok.kind is TokenKind.LPAREN:
            inner = self.parse_expr()
            self.expect(TokenKind.RPAREN, "')'")
            return inner  # parens unwrapped (pql.go:593-600)
        if tok.kind in (TokenKind.IDENT, TokenKind.QIDENT):
            nxt = self.peek()
            if (
                tok.kind is TokenKind.IDENT
                and nxt is not None
                and nxt.kind is TokenKind.LPAREN
            ):
                if tok.value == "toscalar":
                    return self._parse_toscalar(tok)
                if tok.value == "datetime":
                    return self._parse_datetime(tok)
                return self._parse_call(tok)
            return self._parse_qualified(tok)
        raise ParseError(f"unexpected {tok.value!r} in expression", tok.span)

    def _parse_toscalar(self, kw: Token) -> Expr:
        """``toscalar( <tabular expr> )`` — capture the balanced token
        run and parse it as a nested pipeline."""
        self.expect(TokenKind.LPAREN, "'('")
        depth, inner = 1, []
        while True:
            tok = self.take()
            if tok.kind is TokenKind.LPAREN:
                depth += 1
            elif tok.kind is TokenKind.RPAREN:
                depth -= 1
                if depth == 0:
                    break
            inner.append(tok)
        tab = _parse_tabular(inner, self.source)
        return ToScalarExpr(
            tab=tab, span=Span(kw.span.start, tok.span.end)
        )

    def _parse_datetime(self, kw: Token) -> Expr:
        """EXTENSION (KQL): ``datetime(2024-01-01 12:00:00)`` — the text
        between the parens is raw (unquoted) and validated as an ISO
        timestamp; a quoted string is accepted too."""
        import datetime as _dt

        lp = self.expect(TokenKind.LPAREN, "'('")
        # raw capture: everything up to the matching ')' in the SOURCE
        depth, j = 1, lp.span.end
        while j < len(self.source):
            c = self.source[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ParseError("unterminated datetime(…) literal", kw.span)
        raw = self.source[lp.span.end : j].strip().strip("'\"")
        # skip the consumed tokens
        while True:
            tok = self.take()
            if tok.kind is TokenKind.RPAREN and tok.span.start >= j:
                break
        try:
            iso = raw.replace("T", " ").replace("Z", "")
            val = _dt.datetime.fromisoformat(iso)
        except ValueError:
            raise ParseError(
                f"datetime(): cannot parse {raw!r} as an ISO timestamp",
                Span(kw.span.start, tok.span.end),
            )
        canon = val.strftime("%Y-%m-%d %H:%M:%S") + (
            f".{val.microsecond:06d}" if val.microsecond else ""
        )
        return DatetimeLit(
            value=canon, span=Span(kw.span.start, tok.span.end)
        )

    def _parse_call(self, fn: Token) -> Expr:
        self.expect(TokenKind.LPAREN, "'('")
        args: list[Expr] = []
        if self.peek() is not None and self.peek().kind is not TokenKind.RPAREN:
            while True:
                args.append(self.parse_expr())
                if self.match(TokenKind.COMMA):
                    if (
                        self.peek() is not None
                        and self.peek().kind is TokenKind.RPAREN
                    ):
                        break
                    continue
                break
        rp = self.expect(TokenKind.RPAREN, "')'")
        return CallExpr(
            func=fn.value, args=args, span=Span(fn.span.start, rp.span.end)
        )

    def _parse_qualified(self, first: Token) -> Ident:
        parts = [first.value]
        quoted = [first.kind is TokenKind.QIDENT]
        end = first.span.end
        while self.peek() is not None and self.peek().kind is TokenKind.DOT:
            self.take()
            nxt = self.take()
            if nxt.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError("expected identifier after '.'", nxt.span)
            parts.append(nxt.value)
            quoted.append(nxt.kind is TokenKind.QIDENT)
            end = nxt.span.end
        return Ident(parts=parts, quoted=quoted, span=Span(first.span.start, end))

    # -- column specs ([Name =] Expr)

    def parse_colspec(self, require_expr: bool) -> ColSpec:
        """``Name = Expr`` | bare Name (identity, require_expr=False) |
        bare Expr (named by source text)."""
        tok = self.peek()
        if (
            tok is not None
            and tok.kind in (TokenKind.IDENT, TokenKind.QIDENT)
            and self.peek(1) is not None
            and self.peek(1).kind is TokenKind.ASSIGN
        ):
            name_tok = self.take()
            self.take()  # '='
            expr = self.parse_expr()
            return ColSpec(
                name=name_tok.value,
                expr=expr,
                span=Span(name_tok.span.start, expr.span.end),
            )
        expr = self.parse_expr()
        if isinstance(expr, Ident) and not require_expr:
            return ColSpec(name=expr.name, expr=expr, span=expr.span)
        return ColSpec(name=None, expr=expr, span=expr.span)

    def parse_colspec_list(self, require_expr: bool = False) -> list[ColSpec]:
        cols = [self.parse_colspec(require_expr)]
        while self.match(TokenKind.COMMA):
            cols.append(self.parse_colspec(require_expr))
        return cols

    # -- sort terms (parser.go:309-376)

    def parse_sort_term(self) -> SortTerm:
        expr = self.parse_expr()
        asc = False  # default: desc (parser.go:309-376)
        nulls_first = False  # default for desc: nulls last
        end = expr.span.end
        d = self.match_word("asc", "desc")
        if d is not None:
            asc = d.value == "asc"
            nulls_first = asc  # asc implies nulls first
            end = d.span.end
        n = self.match_word("nulls")
        if n is not None:
            which = self.take()
            if which.kind is not TokenKind.IDENT or which.value not in (
                "first",
                "last",
            ):
                raise ParseError("expected 'first' or 'last'", which.span)
            nulls_first = which.value == "first"
            end = which.span.end
        return SortTerm(
            expr=expr, asc=asc, nulls_first=nulls_first,
            span=Span(expr.span.start, end),
        )


# ------------------------------------------------------------- operator fns


def _op_count(p: _P, kw: Token) -> Op:
    return CountOp(span=kw.span)


def _op_where(p: _P, kw: Token) -> Op:
    pred = p.parse_expr()
    return WhereOp(predicate=pred, span=Span(kw.span.start, pred.span.end))


def _op_sort(p: _P, kw: Token) -> Op:
    p.expect(TokenKind.BY, "'by'")
    terms = [p.parse_sort_term()]
    while p.match(TokenKind.COMMA):
        terms.append(p.parse_sort_term())
    return SortOp(terms=terms, span=Span(kw.span.start, terms[-1].span.end))


def _op_take(p: _P, kw: Token) -> Op:
    count = p.parse_expr()
    if isinstance(count, NumberLit) and count.is_float:
        raise ParseError("take count must be an integer", count.span)
    return TakeOp(count=count, span=Span(kw.span.start, count.span.end))


def _op_top(p: _P, kw: Token) -> Op:
    count = p.parse_expr()
    if isinstance(count, NumberLit) and count.is_float:
        raise ParseError("top count must be an integer", count.span)
    p.expect(TokenKind.BY, "'by'")
    term = p.parse_sort_term()
    return TopOp(count=count, term=term, span=Span(kw.span.start, term.span.end))


def _op_project(p: _P, kw: Token) -> Op:
    cols = p.parse_colspec_list(require_expr=False)
    return ProjectOp(cols=cols, span=Span(kw.span.start, cols[-1].span.end))


def _op_extend(p: _P, kw: Token) -> Op:
    cols = p.parse_colspec_list(require_expr=True)
    return ExtendOp(cols=cols, span=Span(kw.span.start, cols[-1].span.end))


def _op_summarize(p: _P, kw: Token) -> Op:
    aggs: list[ColSpec] = []
    keys: list[ColSpec] = []
    shufflekey: list[str] = []
    num_partitions: int | None = None
    # EXTENSION: KQL physical hints before the aggregate list
    while (
        (nxt := p.peek()) is not None
        and nxt.kind is TokenKind.IDENT
        and nxt.value == "hint"
        and p.peek(1) is not None
        and p.peek(1).kind is TokenKind.DOT
    ):
        p.take(); p.take()
        prop = p.expect(TokenKind.IDENT, "hint name")
        p.expect(TokenKind.ASSIGN, "'='")
        if prop.value == "shufflekey":
            c = p.take()
            if c.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError("expected shufflekey column", c.span)
            shufflekey.append(c.value)
        elif prop.value == "num_partitions":
            n = p.expect(TokenKind.NUMBER, "partition count")
            try:
                num_partitions = int(n.value)
            except ValueError:
                raise ParseError(
                    "num_partitions must be an integer", n.span
                ) from None
            if num_partitions < 1:
                raise ParseError(
                    "num_partitions must be >= 1", n.span
                )
        else:
            raise ParseError(
                f"unsupported summarize hint {prop.value!r}"
                " (supported: shufflekey, num_partitions)",
                prop.span,
            )
    if not p.at_end() and p.peek().kind is not TokenKind.BY:
        aggs = p.parse_colspec_list(require_expr=True)
    if p.match(TokenKind.BY):
        keys = p.parse_colspec_list(require_expr=False)
    if not aggs and not keys:
        raise ParseError("summarize requires aggregates or 'by' keys", kw.span)
    end = (keys[-1] if keys else aggs[-1]).span.end
    return SummarizeOp(
        aggs=aggs, keys=keys, shufflekey=shufflekey,
        num_partitions=num_partitions, span=Span(kw.span.start, end),
    )


def _op_join(p: _P, kw: Token) -> Op:
    flavor = "innerunique"  # default (parser.go:748-844)
    strategy: str | None = None
    while True:
        if p.match_word("kind"):
            p.expect(TokenKind.ASSIGN, "'='")
            f = p.expect(TokenKind.IDENT, "join flavor")
            flavor = _JOIN_FLAVOR_ALIASES.get(f.value, f.value)
            if flavor not in _JOIN_FLAVORS:
                raise ParseError(
                    f"unsupported join flavor {f.value!r} "
                    f"(supported: {', '.join(sorted(_JOIN_FLAVORS))})",
                    f.span,
                )
            continue
        # EXTENSION: KQL physical hint `hint.strategy = broadcast|shuffle`
        nxt = p.peek()
        if (
            nxt is not None
            and nxt.kind is TokenKind.IDENT
            and nxt.value == "hint"
            and p.peek(1) is not None
            and p.peek(1).kind is TokenKind.DOT
        ):
            p.take(); p.take()
            prop = p.expect(TokenKind.IDENT, "hint name")
            if prop.value != "strategy":
                raise ParseError(
                    f"unsupported join hint {prop.value!r}"
                    " (supported: strategy)",
                    prop.span,
                )
            p.expect(TokenKind.ASSIGN, "'='")
            sv = p.expect(TokenKind.IDENT, "strategy name")
            if sv.value not in _JOIN_STRATEGIES:
                raise ParseError(
                    f"unsupported join strategy {sv.value!r} (supported: "
                    f"{', '.join(sorted(_JOIN_STRATEGIES))})",
                    sv.span,
                )
            strategy = sv.value
            continue
        break
    p.expect(TokenKind.LPAREN, "'(' before join right side")
    # capture tokens of the nested tabular expression up to balanced ')'
    depth = 1
    inner: list[Token] = []
    while True:
        tok = p.take()
        if tok.kind is TokenKind.LPAREN:
            depth += 1
        elif tok.kind is TokenKind.RPAREN:
            depth -= 1
            if depth == 0:
                break
        inner.append(tok)
    right = _parse_tabular(inner, p.source)
    on = p.expect(TokenKind.IDENT, "'on'")
    if on.value != "on":
        raise ParseError(f"expected 'on', got {on.value!r}", on.span)
    conditions = [p.parse_expr()]
    while p.match(TokenKind.COMMA):
        conditions.append(p.parse_expr())
    return JoinOp(
        flavor=flavor,
        right=right,
        conditions=conditions,
        strategy=strategy,
        span=Span(kw.span.start, conditions[-1].span.end),
    )


def _op_as(p: _P, kw: Token) -> Op:
    name = p.take()
    if name.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError("expected name after 'as'", name.span)
    return AsOp(name=name.value, span=Span(kw.span.start, name.span.end))


def _op_render(p: _P, kw: Token) -> Op:
    chart = p.expect(TokenKind.IDENT, "chart type")
    props: list[tuple[str, Expr]] = []
    end = chart.span.end
    if p.match_word("with"):
        p.expect(TokenKind.LPAREN, "'('")
        while True:
            name = p.take()
            if name.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError("expected property name", name.span)
            p.expect(TokenKind.ASSIGN, "'='")
            value = p.parse_expr()
            props.append((name.value, value))
            if p.match(TokenKind.COMMA):
                if p.peek() is not None and p.peek().kind is TokenKind.RPAREN:
                    break
                continue
            break
        rp = p.expect(TokenKind.RPAREN, "')'")
        end = rp.span.end
    return RenderOp(
        chart=chart.value, props=props, span=Span(kw.span.start, end)
    )


def _op_distinct(p: _P, kw: Token) -> Op:
    """EXTENSION: ``distinct *`` | ``distinct C1, C2`` (KQL distinct;
    the reference rejects the operator, parser.go:175-250)."""
    star = p.match(TokenKind.STAR)
    if star is not None:
        return DistinctOp(cols=[], span=Span(kw.span.start, star.span.end))
    cols = p.parse_colspec_list()
    return DistinctOp(cols=cols, span=Span(kw.span.start, cols[-1].span.end))


def _op_union(p: _P, kw: Token) -> Op:
    """EXTENSION: ``union [withsource = Col] T2, (T3 | where …), …`` —
    bag union by column name (KQL union; unimplemented in the
    reference).  ``withsource`` appends a provenance column holding
    each row's originating table name ('' for the piped-in left input
    and parenthesized subqueries)."""
    withsource = None
    kind = "outer"
    isfuzzy = False
    while True:
        if p.match_word("kind"):
            p.expect(TokenKind.ASSIGN, "'='")
            k = p.take()
            if k.kind is not TokenKind.IDENT or k.value not in (
                "inner", "outer"
            ):
                raise ParseError(
                    "union kind must be inner or outer", k.span
                )
            kind = k.value
        elif p.match_word("withsource"):
            p.expect(TokenKind.ASSIGN, "'='")
            ws = p.take()
            if ws.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError("expected column name", ws.span)
            withsource = ws.value
        elif p.match_word("isfuzzy"):
            p.expect(TokenKind.ASSIGN, "'='")
            fz = p.take()
            if fz.kind is not TokenKind.IDENT or fz.value not in (
                "true", "false"
            ):
                raise ParseError(
                    "union isfuzzy must be true or false", fz.span
                )
            isfuzzy = fz.value == "true"
        else:
            break
    others: list[TabularExpr] = []
    while True:
        if p.match(TokenKind.LPAREN):
            depth = 1
            inner: list[Token] = []
            while True:
                tok = p.take()
                if tok.kind is TokenKind.LPAREN:
                    depth += 1
                elif tok.kind is TokenKind.RPAREN:
                    depth -= 1
                    if depth == 0:
                        break
                inner.append(tok)
            others.append(_parse_tabular(inner, p.source))
        else:
            tok = p.take()
            if tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError("expected table name or '('", tok.span)
            ref = TableRef(
                name=tok.value,
                quoted=tok.kind is TokenKind.QIDENT,
                span=tok.span,
            )
            others.append(
                TabularExpr(source=ref, operators=[], span=tok.span)
            )
        if not p.match(TokenKind.COMMA):
            break
    return UnionOp(
        others=others,
        withsource=withsource,
        kind=kind,
        isfuzzy=isfuzzy,
        span=Span(kw.span.start, others[-1].span.end),
    )


def _take_ident(p: _P, what: str) -> Ident:
    t = p.take()
    if t.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError(f"expected {what}", t.span)
    return Ident(
        parts=[t.value],
        quoted=[t.kind is TokenKind.QIDENT],
        span=t.span,
    )


def _op_make_graph(p: _P, kw: Token) -> Op:
    """EXTENSION: ``make-graph Src --> Dst [with Nodes on IdCol]``
    (simplified KQL make-graph) — binds the piped rows as a directed
    edge table for ``graph-match``."""
    src = _take_ident(p, "source node column")
    p.expect(TokenKind.MINUS, "'-->'")
    p.expect(TokenKind.MINUS, "'-->'")
    p.expect(TokenKind.GT, "'-->'")
    dst = _take_ident(p, "destination node column")
    nodes = None
    node_id = None
    end = dst.span.end
    if p.match_word("with"):
        nt = p.take()
        if nt.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected nodes table name", nt.span)
        nodes = TabularExpr(
            source=TableRef(
                name=nt.value,
                quoted=nt.kind is TokenKind.QIDENT,
                span=nt.span,
            ),
            operators=[],
            span=nt.span,
        )
        if not p.match_word("on"):
            raise ParseError(
                "make-graph: expected 'on <node id column>'",
                nt.span,
            )
        node_id = _take_ident(p, "node id column")
        end = node_id.span.end
    return MakeGraphOp(
        src=src,
        dst=dst,
        nodes=nodes,
        node_id=node_id,
        span=Span(kw.span.start, end),
    )


def _op_graph_match(p: _P, kw: Token) -> Op:
    """EXTENSION: ``graph-match (a)-[e]->(b)<-[e2]-(c) [where …]
    project …`` (simplified KQL graph-match) — fixed-length path
    patterns compiled to hash equi-joins."""

    def node_var() -> str:
        p.expect(TokenKind.LPAREN, "'('")
        t = p.take()
        if t.kind is not TokenKind.IDENT:
            raise ParseError("expected node variable", t.span)
        p.expect(TokenKind.RPAREN, "')'")
        return t.value

    nodes = [node_var()]
    edges: list[GraphEdge] = []

    def edge_var_and_range() -> tuple:
        e = p.take()
        if e.kind is not TokenKind.IDENT:
            raise ParseError("expected edge variable", e.span)
        mn = mx = 1
        if p.match(TokenKind.STAR):
            a = p.take()
            if a.kind is not TokenKind.NUMBER:
                raise ParseError("expected hop count", a.span)
            p.expect(TokenKind.DOTDOT, "'..'")
            b = p.take()
            if b.kind is not TokenKind.NUMBER:
                raise ParseError("expected hop count", b.span)
            try:
                mn, mx = int(a.value), int(b.value)
            except ValueError:
                raise ParseError(
                    "hop counts must be integers", a.span
                ) from None
            if not (1 <= mn <= mx):
                raise ParseError(
                    "graph-match: hop range must satisfy"
                    " 1 <= min <= max",
                    a.span,
                )
            if mx > 8:
                raise ParseError(
                    "graph-match: max hops capped at 8 (each extra"
                    " hop is another distributed join)",
                    b.span,
                )
        return e, mn, mx

    while True:
        nxt = p.peek()
        if nxt is not None and nxt.kind is TokenKind.MINUS:
            p.take()
            p.expect(TokenKind.LBRACKET, "'['")
            e, mn, mx = edge_var_and_range()
            p.expect(TokenKind.RBRACKET, "']'")
            p.expect(TokenKind.MINUS, "'->'")
            p.expect(TokenKind.GT, "'->'")
            edges.append(
                GraphEdge(
                    var=e.value, reverse=False,
                    min_hops=mn, max_hops=mx, span=e.span,
                )
            )
            nodes.append(node_var())
        elif nxt is not None and nxt.kind is TokenKind.LT:
            p.take()
            p.expect(TokenKind.MINUS, "'-'")
            p.expect(TokenKind.LBRACKET, "'['")
            e, mn, mx = edge_var_and_range()
            p.expect(TokenKind.RBRACKET, "']'")
            p.expect(TokenKind.MINUS, "'-'")
            edges.append(
                GraphEdge(
                    var=e.value, reverse=True,
                    min_hops=mn, max_hops=mx, span=e.span,
                )
            )
            nodes.append(node_var())
        else:
            break
    if not edges:
        raise ParseError(
            "graph-match: pattern needs at least one edge", kw.span
        )
    evars = [e.var for e in edges]
    if len(set(evars)) != len(evars):
        raise ParseError(
            "graph-match: edge variables must be unique", kw.span
        )
    if set(evars) & set(nodes):
        raise ParseError(
            "graph-match: node and edge variables must not collide",
            kw.span,
        )
    where = None
    if p.match_word("where"):
        where = p.parse_expr()
    if not p.match_word("project"):
        t = p.peek()
        raise ParseError(
            "graph-match: expected 'project …' output clause",
            t.span if t is not None else kw.span,
        )
    project = p.parse_colspec_list(require_expr=False)
    return GraphMatchOp(
        nodes=nodes,
        edges=edges,
        where=where,
        project=project,
        span=Span(kw.span.start, project[-1].expr.span.end),
    )


def _op_project_away(p: _P, kw: Token) -> Op:
    """EXTENSION: ``project-away C1, tmp*`` — drop columns; glob
    patterns match by name (KQL wildcard specs)."""
    names, end = _names_list(p, kw, wildcards=True)
    return ProjectAwayOp(names=names, span=Span(kw.span.start, end))


def _op_mv_expand(p: _P, kw: Token) -> Op:
    """EXTENSION: ``mv-expand [with_itemindex = Idx] Col[, Col2, …]`` |
    ``mv-expand name = expr`` — explode array/map column(s) to rows
    (KQL mv-expand; multiple columns zip to the longest array,
    null-padded; ``with_itemindex`` appends the element index)."""
    itemindex = None
    if p.match_word("with_itemindex"):
        p.expect(TokenKind.ASSIGN, "'='")
        idx = p.take()
        if idx.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected index column name", idx.span)
        itemindex = idx.value

    def one() -> tuple[ColSpec, str | None]:
        spec = p.parse_colspec(require_expr=False)
        ty = None
        # EXTENSION: `Col to typeof(long)` element cast (KQL mv-expand)
        if p.match_word("to"):
            w = p.expect(TokenKind.IDENT, "'typeof'")
            if w.value != "typeof":
                raise ParseError("expected 'typeof'", w.span)
            p.expect(TokenKind.LPAREN, "'('")
            t = p.expect(TokenKind.IDENT, "type name")
            if t.value not in _DATATABLE_TYPES:
                raise ParseError(
                    f"unknown type {t.value!r} in typeof()", t.span
                )
            ty = _DATATABLE_TYPES[t.value]
            p.expect(TokenKind.RPAREN, "')'")
        return spec, ty

    cols, types = [], []
    spec, ty = one()
    cols.append(spec)
    types.append(ty)
    while p.match(TokenKind.COMMA):
        spec, ty = one()
        cols.append(spec)
        types.append(ty)
    return MvExpandOp(
        cols=cols,
        itemindex=itemindex,
        types=types,
        span=Span(kw.span.start, cols[-1].span.end),
    )


def _op_top_nested(p: _P, kw: Token) -> Op:
    """EXTENSION: ``top-nested N1 of K1 by A1 [asc|desc],
    top-nested N2 of K2 by A2, …`` — hierarchical top-k
    (KQL top-nested).  ``top-nested of K by A`` keeps every key value."""
    levels: list[TopNestedLevel] = []
    end = kw.span.end
    while True:
        count: Expr | None = None
        nxt = p.peek()
        if nxt is None:
            raise ParseError("expected 'of'", Span(end, end))
        start = nxt.span.start
        if not (nxt.kind is TokenKind.IDENT and nxt.value == "of"):
            count = p.parse_expr()
        w = p.take()
        if w.kind is not TokenKind.IDENT or w.value != "of":
            raise ParseError("expected 'of'", w.span)
        key = p.parse_colspec(require_expr=False)
        others = None
        if p.match_word("with"):
            w = p.take()
            if w.kind is not TokenKind.IDENT or w.value != "others":
                raise ParseError("expected 'others'", w.span)
            p.expect(TokenKind.ASSIGN, "'='")
            lbl = p.expect(TokenKind.STRING, "others label string")
            others = lbl.value
        p.expect(TokenKind.BY, "'by'")
        agg = p.parse_colspec(require_expr=False)
        asc = False
        d = p.match_word("asc", "desc")
        if d is not None:
            asc = d.value == "asc"
        end = d.span.end if d is not None else agg.span.end
        levels.append(
            TopNestedLevel(
                count=count,
                key=key,
                agg=agg,
                asc=asc,
                others=others,
                span=Span(start, end),
            )
        )
        if not p.match(TokenKind.COMMA):
            break
        # each further level repeats the operator keyword
        t = p.take()
        if t.kind is not TokenKind.IDENT or t.value != "top":
            raise ParseError("expected 'top-nested'", t.span)
        p.expect(TokenKind.MINUS, "'-'")
        t = p.take()
        if t.kind is not TokenKind.IDENT or t.value != "nested":
            raise ParseError("expected 'top-nested'", t.span)
    return TopNestedOp(levels=levels, span=Span(kw.span.start, end))


def _op_mv_apply(p: _P, kw: Token) -> Op:
    """EXTENSION: ``mv-apply Name [= Expr], … on ( op | op | … )`` —
    per-record subquery over expanded array elements (KQL mv-apply).
    Supported inner operators: where, extend, project, sort, take, top,
    summarize."""
    cols = [p.parse_colspec(require_expr=False)]
    while p.match(TokenKind.COMMA):
        cols.append(p.parse_colspec(require_expr=False))
    if p.match_word("on") is None:
        nxt = p.peek()
        raise ParseError(
            "expected 'on ( … )'", nxt.span if nxt else cols[-1].span
        )
    if not p.match(TokenKind.LPAREN):
        nxt = p.peek()
        raise ParseError(
            "expected '(' after 'on'", nxt.span if nxt else cols[-1].span
        )
    inner: list[Token] = []
    depth = 1
    end = kw.span.end
    while True:
        tok = p.take()
        if tok.kind is TokenKind.LPAREN:
            depth += 1
        elif tok.kind is TokenKind.RPAREN:
            depth -= 1
            if depth == 0:
                end = tok.span.end
                break
        inner.append(tok)
    ops: list[Op] = []
    for seg in _split_on(inner, TokenKind.PIPE):
        if not seg:
            raise ParseError("empty mv-apply subquery segment", kw.span)
        ops.append(_parse_operator(_P(seg, p.source)))
    if not ops:
        raise ParseError("mv-apply subquery is empty", kw.span)
    return MvApplyOp(cols=cols, ops=ops, span=Span(kw.span.start, end))


def _capture_paren_ops(p: _P, what: str, open_span: Span) -> list[Op]:
    """Capture tokens up to the matching ``)`` (the ``(`` is already
    consumed) and parse each ``|``-segment as one operator — the same
    isolated-sub-parser shape the reference uses per pipe segment
    (parser/parser.go:1221-1279)."""
    inner: list[Token] = []
    depth = 1
    while True:
        tok = p.take()
        if tok.kind is TokenKind.LPAREN:
            depth += 1
        elif tok.kind is TokenKind.RPAREN:
            depth -= 1
            if depth == 0:
                break
        inner.append(tok)
    ops: list[Op] = []
    for seg in _split_on(inner, TokenKind.PIPE):
        if not seg:
            raise ParseError(f"empty {what} subquery segment", open_span)
        ops.append(_parse_operator(_P(seg, p.source)))
    if not ops:
        raise ParseError(f"{what} subquery is empty", open_span)
    return ops


def _op_facet(p: _P, kw: Token) -> Op:
    """EXTENSION: ``facet by C1, C2 [with ( op | … )]`` — multi-output
    value-frequency tables (KQL facet; the reference rejects it)."""
    p.expect(TokenKind.BY, "'by'")
    by: list[Ident] = []
    end = kw.span.end
    while True:
        tok = p.take()
        if tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected facet column name", tok.span)
        by.append(
            Ident(
                parts=[tok.value],
                quoted=[tok.kind is TokenKind.QIDENT],
                span=tok.span,
            )
        )
        end = tok.span.end
        if not p.match(TokenKind.COMMA):
            break
    with_ops: list[Op] = []
    w = p.match_word("with")
    if w is not None:
        lp = p.expect(TokenKind.LPAREN, "'(' after 'with'")
        with_ops = _capture_paren_ops(p, "facet with", lp.span)
        end = p.tokens[p.i - 1].span.end
    p.expect_end()
    return FacetOp(by=by, with_ops=with_ops, span=Span(kw.span.start, end))


def _op_fork(p: _P, kw: Token) -> Op:
    """EXTENSION: ``fork [Name =] ( op | … ) [Name2 =] ( … ) …`` —
    multi-output branches over the same input (KQL fork)."""
    branches: list[ForkBranch] = []
    end = kw.span.end
    while not p.at_end():
        start_tok = p.peek()
        name: str | None = None
        if (
            start_tok.kind in (TokenKind.IDENT, TokenKind.QIDENT)
            and p.peek(1) is not None
            and p.peek(1).kind is TokenKind.ASSIGN
        ):
            name = p.take().value
            p.take()  # '='
        lp = p.expect(TokenKind.LPAREN, "'(' opening a fork branch")
        ops = _capture_paren_ops(p, "fork", lp.span)
        end = p.tokens[p.i - 1].span.end
        branches.append(
            ForkBranch(
                name=name, ops=ops, span=Span(start_tok.span.start, end)
            )
        )
    if not branches:
        raise ParseError(
            "fork needs at least one '(...)' branch", kw.span
        )
    return ForkOp(branches=branches, span=Span(kw.span.start, end))


def _op_lookup(p: _P, kw: Token) -> Op:
    """EXTENSION: ``lookup [kind=leftouter|inner] (Dim) on K1, K2`` —
    broadcast dimension join, shared key columns appear once (KQL
    lookup; the reference rejects the operator)."""
    flavor = "leftouter"
    if p.match_word("kind"):
        p.expect(TokenKind.ASSIGN, "'='")
        f = p.expect(TokenKind.IDENT, "lookup flavor")
        if f.value not in ("leftouter", "inner"):
            raise ParseError(
                f"unsupported lookup flavor {f.value!r} "
                "(supported: leftouter, inner)",
                f.span,
            )
        flavor = f.value
    p.expect(TokenKind.LPAREN, "'(' before lookup table")
    depth = 1
    inner: list[Token] = []
    while True:
        tok = p.take()
        if tok.kind is TokenKind.LPAREN:
            depth += 1
        elif tok.kind is TokenKind.RPAREN:
            depth -= 1
            if depth == 0:
                break
        inner.append(tok)
    right = _parse_tabular(inner, p.source)
    on = p.expect(TokenKind.IDENT, "'on'")
    if on.value != "on":
        raise ParseError(f"expected 'on', got {on.value!r}", on.span)
    keys: list[Ident] = []
    while True:
        expr = p.parse_expr()
        if not isinstance(expr, Ident) or not expr.simple:
            raise ParseError(
                "lookup keys must be bare column names", expr.span
            )
        keys.append(expr)
        if not p.match(TokenKind.COMMA):
            break
    return LookupOp(
        flavor=flavor,
        right=right,
        keys=keys,
        span=Span(kw.span.start, keys[-1].span.end),
    )


def _op_parse(p: _P, kw: Token) -> Op:
    """EXTENSION: ``parse [kind=simple|regex] Expr with "lit" Name …``
    — extract substrings between delimiters (KQL parse; kind=regex
    treats the string segments as raw regex fragments)."""
    kind = "simple"
    if (
        p.peek() is not None
        and p.peek().kind is TokenKind.IDENT
        and p.peek().value == "kind"
        and p.peek(1) is not None
        and p.peek(1).kind is TokenKind.ASSIGN
    ):
        p.take(); p.take()
        k = p.take()
        if k.kind is not TokenKind.IDENT or k.value not in (
            "simple", "regex"
        ):
            raise ParseError(
                "parse kind must be simple or regex", k.span
            )
        kind = k.value
    source_expr = p.parse_expr()
    w = p.expect(TokenKind.IDENT, "'with'")
    if w.value != "with":
        raise ParseError(f"expected 'with', got {w.value!r}", w.span)
    segments: list[StringLit | Ident] = []
    end = w.span.end
    while p.peek() is not None:
        tok = p.take()
        if tok.kind is TokenKind.STRING:
            segments.append(StringLit(value=tok.value, span=tok.span))
        elif tok.kind in (TokenKind.IDENT, TokenKind.QIDENT):
            segments.append(
                Ident(
                    parts=[tok.value],
                    quoted=[tok.kind is TokenKind.QIDENT],
                    span=tok.span,
                )
            )
        else:
            raise ParseError(
                "expected string literal or capture name", tok.span
            )
        end = tok.span.end
    if not any(isinstance(s, Ident) for s in segments):
        raise ParseError("parse pattern needs at least one capture", kw.span)
    return ParseOp(
        source_expr=source_expr,
        segments=segments,
        kind=kind,
        span=Span(kw.span.start, end),
    )


def _op_parse_where(p: _P, kw: Token) -> Op:
    """EXTENSION: ``parse-where`` — like ``parse`` but rows whose
    source doesn't match the pattern are dropped (KQL parse-where)."""
    op = _op_parse(p, kw)
    op.where_mode = True
    return op


def _op_parse_kv(p: _P, kw: Token) -> Op:
    """EXTENSION: ``parse-kv Expr as (k1[: type], …) [with
    (pair_delimiter="…", kv_delimiter="…")]`` (KQL parse-kv,
    delimiter mode)."""
    source_expr = p.parse_expr()
    w = p.expect(TokenKind.IDENT, "'as'")
    if w.value != "as":
        raise ParseError(f"expected 'as', got {w.value!r}", w.span)
    p.expect(TokenKind.LPAREN, "'('")
    keys: list[str] = []
    types: list[str | None] = []
    while True:
        k = p.take()
        if k.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected key name", k.span)
        keys.append(k.value)
        ty = None
        if p.match(TokenKind.COLON):
            t = p.expect(TokenKind.IDENT, "type name")
            if t.value not in _DATATABLE_TYPES:
                raise ParseError(f"unknown type {t.value!r}", t.span)
            ty = _DATATABLE_TYPES[t.value]
        types.append(ty)
        if not p.match(TokenKind.COMMA):
            break
    rp = p.expect(TokenKind.RPAREN, "')'")
    end = rp.span.end
    pair_delim, kv_delim = ";", "="
    if p.match_word("with"):
        p.expect(TokenKind.LPAREN, "'('")
        while True:
            prop = p.expect(TokenKind.IDENT, "property name")
            if prop.value not in ("pair_delimiter", "kv_delimiter"):
                raise ParseError(
                    "parse-kv supports pair_delimiter and kv_delimiter",
                    prop.span,
                )
            p.expect(TokenKind.ASSIGN, "'='")
            v = p.expect(TokenKind.STRING, "delimiter string")
            if prop.value == "pair_delimiter":
                pair_delim = v.value
            else:
                kv_delim = v.value
            if not p.match(TokenKind.COMMA):
                break
        rp = p.expect(TokenKind.RPAREN, "')'")
        end = rp.span.end
    return ParseKvOp(
        source_expr=source_expr,
        keys=keys,
        types=types,
        pair_delim=pair_delim,
        kv_delim=kv_delim,
        span=Span(kw.span.start, end),
    )


def _op_sample_distinct(p: _P, kw: Token) -> Op:
    """EXTENSION: ``sample-distinct N of Col`` — N deterministic
    distinct values of Col (lowest md5 hash), rows filtered to them."""
    count = p.parse_expr()
    w = p.expect(TokenKind.IDENT, "'of'")
    if w.value != "of":
        raise ParseError("expected 'of'", w.span)
    col_tok = p.take()
    if col_tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError("expected column name", col_tok.span)
    col = Ident(
        parts=[col_tok.value],
        quoted=[col_tok.kind is TokenKind.QIDENT],
        span=col_tok.span,
    )
    return SampleDistinctOp(
        count=count, col=col, span=Span(kw.span.start, col_tok.span.end)
    )


def _op_sample(p: _P, kw: Token) -> Op:
    """EXTENSION: ``sample <rate> by <Key>`` — deterministic hash
    sample (reproducible, unlike KQL's random sample)."""
    rate_tok = p.expect(TokenKind.NUMBER, "sample rate")
    rate = float(rate_tok.value)
    if not 0.0 <= rate <= 1.0:
        raise ParseError("sample rate must be in [0, 1]", rate_tok.span)
    p.expect(TokenKind.BY, "'by'")
    key_tok = p.take()
    if key_tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError("expected sample key column", key_tok.span)
    key = Ident(
        parts=[key_tok.value],
        quoted=[key_tok.kind is TokenKind.QIDENT],
        span=key_tok.span,
    )
    return SampleOp(
        rate=rate, key=key, span=Span(kw.span.start, key_tok.span.end)
    )


def _op_top_hitters(p: _P, kw: Token) -> Op:
    """EXTENSION: ``top-hitters N of Col [by SumExpr]`` — exact heavy
    hitters (KQL's is approximate; exactness is verifiable)."""
    count = p.parse_expr()
    of = p.expect(TokenKind.IDENT, "'of'")
    if of.value != "of":
        raise ParseError(f"expected 'of', got {of.value!r}", of.span)
    col_tok = p.take()
    if col_tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError("expected column name", col_tok.span)
    col = Ident(
        parts=[col_tok.value],
        quoted=[col_tok.kind is TokenKind.QIDENT],
        span=col_tok.span,
    )
    by = None
    end = col_tok.span.end
    if p.match(TokenKind.BY):
        by = p.parse_expr()
        end = by.span.end
    return TopHittersOp(
        count=count, col=col, by=by, span=Span(kw.span.start, end)
    )


def _op_project_rename(p: _P, kw: Token) -> Op:
    """EXTENSION: ``project-rename New = Old, …`` (KQL)."""
    renames: list[tuple[str, str]] = []
    end = kw.span.end
    while True:
        new = p.take()
        if new.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected new column name", new.span)
        p.expect(TokenKind.ASSIGN, "'='")
        old = p.take()
        if old.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected existing column name", old.span)
        renames.append((new.value, old.value))
        end = old.span.end
        if not p.match(TokenKind.COMMA):
            break
    return ProjectRenameOp(renames=renames, span=Span(kw.span.start, end))


def _names_list(
    p: _P, kw: Token, wildcards: bool = False
) -> tuple[list[str], int]:
    """Comma-separated column names; with ``wildcards`` adjacent
    IDENT/STAR tokens fuse into glob patterns (``tmp*``, ``*_id``)."""
    names = []
    end = kw.span.end
    while True:
        tok = p.take()
        ok_kinds = (TokenKind.IDENT, TokenKind.QIDENT)
        if wildcards and tok.kind is TokenKind.STAR:
            pass
        elif tok.kind not in ok_kinds:
            raise ParseError("expected column name", tok.span)
        pattern = tok.value
        end = tok.span.end
        if wildcards and tok.kind is not TokenKind.QIDENT:
            while True:
                nxt = p.peek()
                if (
                    nxt is not None
                    and nxt.kind in (TokenKind.IDENT, TokenKind.STAR)
                    and nxt.span.start == end  # adjacent, no whitespace
                ):
                    p.take()
                    pattern += nxt.value
                    end = nxt.span.end
                else:
                    break
        if pattern == "*" and wildcards:
            raise ParseError(
                "bare '*' is not a column pattern", tok.span
            )
        names.append(pattern)
        if not p.match(TokenKind.COMMA):
            break
    return names, end


def _op_project_keep(p: _P, kw: Token) -> Op:
    """EXTENSION: ``project-keep C1, tmp*`` — glob patterns match by
    name (KQL wildcard specs)."""
    names, end = _names_list(p, kw, wildcards=True)
    return ProjectKeepOp(names=names, span=Span(kw.span.start, end))


def _op_project_reorder(p: _P, kw: Token) -> Op:
    """EXTENSION: ``project-reorder C1, C2`` (KQL)."""
    names, end = _names_list(p, kw)
    return ProjectReorderOp(names=names, span=Span(kw.span.start, end))


def _schema_annotation(
    p: "_P", plugin: str, rp: Token
) -> tuple[list[tuple[str, str]] | None, Token]:
    """Optional ADX output-schema annotation ``: (name: type, …)``
    after an evaluate plugin — makes the plugin's output schema static
    (and SQL-emittable).  Returns (schema-or-None, closing token)."""
    if not p.match(TokenKind.COLON):
        return None, rp
    p.expect(TokenKind.LPAREN, "'('")
    schema: list[tuple[str, str]] = []
    while True:
        nt = p.take()
        if nt.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError(
                f"{plugin} schema: expected column name", nt.span
            )
        p.expect(TokenKind.COLON, "':'")
        tt = p.expect(TokenKind.IDENT, "type name")
        if tt.value not in _DATATABLE_TYPES:
            raise ParseError(
                f"{plugin} schema: unknown type {tt.value!r}"
                f" (supported: {', '.join(sorted(_DATATABLE_TYPES))})",
                tt.span,
            )
        schema.append((nt.value, tt.value))
        if not p.match(TokenKind.COMMA):
            break
    rp = p.expect(TokenKind.RPAREN, "')'")
    return schema, rp


def _op_evaluate(p: _P, kw: Token) -> Op:
    """EXTENSION: the KQL plugin entry point — ``evaluate
    pivot(PivotCol [, AggCall])`` and ``evaluate bag_unpack(Col
    [, prefix])``."""
    plugin = p.expect(TokenKind.IDENT, "plugin name")
    if plugin.value == "narrow":
        p.expect(TokenKind.LPAREN, "'('")
        rp = p.expect(TokenKind.RPAREN, "')'")
        return NarrowOp(span=Span(kw.span.start, rp.span.end))
    if plugin.value == "bag_unpack":
        p.expect(TokenKind.LPAREN, "'('")
        col_tok = p.take()
        if col_tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected bag column name", col_tok.span)
        prefix = ""
        if p.match(TokenKind.COMMA):
            pfx = p.take()
            if pfx.kind is not TokenKind.STRING:
                raise ParseError("expected prefix string literal", pfx.span)
            prefix = pfx.value
        rp = p.expect(TokenKind.RPAREN, "')'")
        schema, rp = _schema_annotation(p, "bag_unpack", rp)
        return BagUnpackOp(
            col=Ident(
                parts=[col_tok.value],
                quoted=[col_tok.kind is TokenKind.QIDENT],
                span=col_tok.span,
            ),
            prefix=prefix,
            schema=schema,
            span=Span(kw.span.start, rp.span.end),
        )
    if plugin.value in (
        "sliding_window_counts",
        "rolling_percentile",
        "activity_counts_metrics",
        "session_count",
        "new_activity_metrics",
        "funnel_sequence",
        "funnel_completion",
        "activity_engagement",
        "active_users_count",
    ):
        p.expect(TokenKind.LPAREN, "'('")

        def _ident_arg(what: str, first: bool = False) -> Ident:
            if not first:
                p.expect(TokenKind.COMMA, "','")
            t = p.take()
            if t.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError(
                    f"{plugin.value}: expected {what}", t.span
                )
            return Ident(
                parts=[t.value],
                quoted=[t.kind is TokenKind.QIDENT],
                span=t.span,
            )

        def _timespan_arg(what: str) -> int:
            p.expect(TokenKind.COMMA, "','")
            t = p.take()
            if t.kind is TokenKind.TIMESPAN:
                return int(t.value)
            if t.kind is TokenKind.STRING:
                from .functions import _duration_usec

                return _duration_usec(t.value, t.span)
            raise ParseError(
                f"{plugin.value}: expected a timespan literal for"
                f" {what} (e.g. 1h)",
                t.span,
            )

        def _number_arg(what: str) -> float:
            p.expect(TokenKind.COMMA, "','")
            t = p.take()
            if t.kind is not TokenKind.NUMBER:
                raise ParseError(
                    f"{plugin.value}: expected a number for {what}",
                    t.span,
                )
            return float(t.value)

        if plugin.value == "sliding_window_counts":
            id_col = _ident_arg("the id column", first=True)
            ts_col = _ident_arg("the timeline column")
            p.expect(TokenKind.COMMA, "','")
            start = p.parse_expr()
            p.expect(TokenKind.COMMA, "','")
            end = p.parse_expr()
            lookback = _timespan_arg("LookbackWindow")
            binw = _timespan_arg("Bin")
            rp = p.expect(TokenKind.RPAREN, "')'")
            if binw <= 0 or lookback <= 0:
                raise ParseError(
                    "sliding_window_counts: windows must be positive",
                    plugin.span,
                )
            return SlidingWindowCountsOp(
                id_col=id_col,
                ts_col=ts_col,
                start=start,
                end=end,
                lookback_usec=lookback,
                bin_usec=binw,
                span=Span(kw.span.start, rp.span.end),
            )
        if plugin.value == "activity_counts_metrics":
            id_col = _ident_arg("the id column", first=True)
            ts_col = _ident_arg("the timeline column")
            p.expect(TokenKind.COMMA, "','")
            start = p.parse_expr()
            p.expect(TokenKind.COMMA, "','")
            end = p.parse_expr()
            binw = _timespan_arg("Bin")
            rp = p.expect(TokenKind.RPAREN, "')'")
            if binw <= 0:
                raise ParseError(
                    "activity_counts_metrics: Bin must be positive",
                    plugin.span,
                )
            return ActivityCountsMetricsOp(
                id_col=id_col,
                ts_col=ts_col,
                start=start,
                end=end,
                bin_usec=binw,
                span=Span(kw.span.start, rp.span.end),
            )
        if plugin.value == "new_activity_metrics":
            id_col = _ident_arg("the id column", first=True)
            ts_col = _ident_arg("the timeline column")
            p.expect(TokenKind.COMMA, "','")
            start = p.parse_expr()
            p.expect(TokenKind.COMMA, "','")
            end = p.parse_expr()
            binw = _timespan_arg("Bin")
            rp = p.expect(TokenKind.RPAREN, "')'")
            if binw <= 0:
                raise ParseError(
                    "new_activity_metrics: Bin must be positive",
                    plugin.span,
                )
            return NewActivityMetricsOp(
                id_col=id_col,
                ts_col=ts_col,
                start=start,
                end=end,
                bin_usec=binw,
                span=Span(kw.span.start, rp.span.end),
            )
        if plugin.value == "active_users_count":
            id_col = _ident_arg("the id column", first=True)
            ts_col = _ident_arg("the timeline column")
            p.expect(TokenKind.COMMA, "','")
            start = p.parse_expr()
            p.expect(TokenKind.COMMA, "','")
            end = p.parse_expr()
            period = _timespan_arg("Period")
            look = _number_arg("LookbackPeriods")
            minp = _number_arg("MinActivePeriods")
            rp = p.expect(TokenKind.RPAREN, "')'")
            if period <= 0:
                raise ParseError(
                    "active_users_count: Period must be positive",
                    plugin.span,
                )
            if (look != int(look) or minp != int(minp)
                    or int(look) < 1 or int(minp) < 1
                    or int(minp) > int(look)):
                raise ParseError(
                    "active_users_count: need integer"
                    " 1 <= MinActivePeriods <= LookbackPeriods",
                    plugin.span,
                )
            return ActiveUsersCountOp(
                id_col=id_col,
                ts_col=ts_col,
                start=start,
                end=end,
                period_usec=period,
                lookback_periods=int(look),
                min_periods=int(minp),
                span=Span(kw.span.start, rp.span.end),
            )
        if plugin.value == "activity_engagement":
            id_col = _ident_arg("the id column", first=True)
            ts_col = _ident_arg("the timeline column")
            p.expect(TokenKind.COMMA, "','")
            start = p.parse_expr()
            p.expect(TokenKind.COMMA, "','")
            end = p.parse_expr()
            inner = _timespan_arg("InnerActivityWindow")
            outer = _timespan_arg("OuterActivityWindow")
            rp = p.expect(TokenKind.RPAREN, "')'")
            if inner <= 0 or outer < inner:
                raise ParseError(
                    "activity_engagement: need"
                    " 0 < InnerActivityWindow <= OuterActivityWindow",
                    plugin.span,
                )
            return ActivityEngagementOp(
                id_col=id_col,
                ts_col=ts_col,
                start=start,
                end=end,
                inner_usec=inner,
                outer_usec=outer,
                span=Span(kw.span.start, rp.span.end),
            )
        if plugin.value == "funnel_completion":

            def _paren_list(what: str, kinds, conv):
                p.expect(TokenKind.COMMA, "','")
                p.expect(TokenKind.LPAREN, "'('")
                vals = []
                while True:
                    t = p.take()
                    if t.kind not in kinds:
                        raise ParseError(
                            f"funnel_completion: expected a {what}"
                            " literal",
                            t.span,
                        )
                    vals.append(conv(t))
                    nt = p.take()
                    if nt.kind is TokenKind.RPAREN:
                        return vals
                    if nt.kind is not TokenKind.COMMA:
                        raise ParseError(
                            f"funnel_completion: expected ',' or ')'"
                            f" in the {what} list",
                            nt.span,
                        )

            id_col = _ident_arg("the id column", first=True)
            ts_col = _ident_arg("the timeline column")
            p.expect(TokenKind.COMMA, "','")
            start = p.parse_expr()
            p.expect(TokenKind.COMMA, "','")
            end = p.parse_expr()
            state_col = _ident_arg("the state column")
            states = _paren_list(
                "string", (TokenKind.STRING,), lambda t: t.value
            )

            def _ts_usec(t):
                if t.kind is TokenKind.TIMESPAN:
                    return int(t.value)
                from .functions import _duration_usec

                return _duration_usec(t.value, t.span)

            windows = _paren_list(
                "timespan",
                (TokenKind.TIMESPAN, TokenKind.STRING),
                _ts_usec,
            )
            rp = p.expect(TokenKind.RPAREN, "')'")
            if not states:
                raise ParseError(
                    "funnel_completion: the sequence must have at"
                    " least one state",
                    plugin.span,
                )
            if not windows or any(w <= 0 for w in windows):
                raise ParseError(
                    "funnel_completion: windows must be positive",
                    plugin.span,
                )
            return FunnelCompletionOp(
                id_col=id_col,
                ts_col=ts_col,
                start=start,
                end=end,
                state_col=state_col,
                states=states,
                windows_usec=windows,
                span=Span(kw.span.start, rp.span.end),
            )
        if plugin.value == "funnel_sequence":
            id_col = _ident_arg("the id column", first=True)
            ts_col = _ident_arg("the timeline column")
            p.expect(TokenKind.COMMA, "','")
            start = p.parse_expr()
            p.expect(TokenKind.COMMA, "','")
            end = p.parse_expr()
            winw = _timespan_arg("MaxWindow")
            p.expect(TokenKind.COMMA, "','")
            step = p.parse_expr()
            state_col = _ident_arg("the state column")
            rp = p.expect(TokenKind.RPAREN, "')'")
            if winw <= 0:
                raise ParseError(
                    "funnel_sequence: MaxWindow must be positive",
                    plugin.span,
                )
            return FunnelSequenceOp(
                id_col=id_col,
                ts_col=ts_col,
                start=start,
                end=end,
                window_usec=winw,
                step=step,
                state_col=state_col,
                span=Span(kw.span.start, rp.span.end),
            )
        if plugin.value == "session_count":
            id_col = _ident_arg("the id column", first=True)
            ts_col = _ident_arg("the timeline column")
            p.expect(TokenKind.COMMA, "','")
            start = p.parse_expr()
            p.expect(TokenKind.COMMA, "','")
            end = p.parse_expr()
            binw = _timespan_arg("Bin")
            lookback = _timespan_arg("LookBackWindow")
            rp = p.expect(TokenKind.RPAREN, "')'")
            if binw <= 0 or lookback <= 0:
                raise ParseError(
                    "session_count: windows must be positive",
                    plugin.span,
                )
            return SessionCountOp(
                id_col=id_col,
                ts_col=ts_col,
                start=start,
                end=end,
                bin_usec=binw,
                lookback_usec=lookback,
                span=Span(kw.span.start, rp.span.end),
            )
        val_col = _ident_arg("the value column", first=True)
        pctl = _number_arg("Percentile")
        idx_col = _ident_arg("the index column")
        p.expect(TokenKind.COMMA, "','")
        t = p.take()
        if t.kind is TokenKind.TIMESPAN:
            bin_is_ts, bin_size = True, float(int(t.value))
        elif t.kind is TokenKind.NUMBER:
            bin_is_ts, bin_size = False, float(t.value)
        else:
            raise ParseError(
                "rolling_percentile: BinSize must be a timespan or"
                " number literal",
                t.span,
            )
        if bin_size <= 0:
            raise ParseError(
                "rolling_percentile: BinSize must be positive", t.span
            )
        nbins = _number_arg("BinsPerWindow")
        rp = p.expect(TokenKind.RPAREN, "')'")
        if nbins != int(nbins) or int(nbins) < 1:
            raise ParseError(
                "rolling_percentile: BinsPerWindow must be a positive"
                " integer",
                plugin.span,
            )
        if not (0 <= pctl <= 100):
            raise ParseError(
                "rolling_percentile: Percentile must be in 0..100",
                plugin.span,
            )
        return RollingPercentileOp(
            val_col=val_col,
            percentile=pctl,
            idx_col=idx_col,
            bin_is_timespan=bin_is_ts,
            bin_size=bin_size,
            bins_per_window=int(nbins),
            span=Span(kw.span.start, rp.span.end),
        )
    if plugin.value == "rows_near":
        p.expect(TokenKind.LPAREN, "'('")
        cond = p.parse_expr()

        def _count_arg() -> int:
            t = p.take()
            if t.kind is not TokenKind.NUMBER:
                raise ParseError(
                    "rows_near: expected an integer row count", t.span
                )
            try:
                n = int(t.value)
            except ValueError:
                raise ParseError(
                    "rows_near: row count must be an integer", t.span
                ) from None
            if n < 0:
                raise ParseError(
                    "rows_near: row count must be >= 0", t.span
                )
            return n

        p.expect(TokenKind.COMMA, "','")
        before = _count_arg()
        after = before
        if p.match(TokenKind.COMMA):
            after = _count_arg()
        rp = p.expect(TokenKind.RPAREN, "')'")
        return RowsNearOp(
            cond=cond,
            before=before,
            after=after,
            span=Span(kw.span.start, rp.span.end),
        )
    if plugin.value in ("ipv4_lookup", "ipv6_lookup"):
        pname = plugin.value
        p.expect(TokenKind.LPAREN, "'('")
        lt = p.take()
        if lt.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError(
                f"{pname}: expected the lookup table name", lt.span
            )
        right = TabularExpr(
            source=TableRef(
                name=lt.value,
                quoted=lt.kind is TokenKind.QIDENT,
                span=lt.span,
            ),
            operators=[],
            span=lt.span,
        )

        def _ident_arg(what: str) -> Ident:
            p.expect(TokenKind.COMMA, "','")
            t = p.take()
            if t.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError(f"{pname}: expected {what}", t.span)
            return Ident(
                parts=[t.value],
                quoted=[t.kind is TokenKind.QIDENT],
                span=t.span,
            )

        ip_col = _ident_arg("the source ip column")
        range_col = _ident_arg("the ip-range column")
        return_unmatched = False
        if p.match(TokenKind.COMMA):
            t = p.take()
            if t.kind is TokenKind.IDENT and t.value == "return_unmatched":
                return_unmatched = True
            else:
                raise ParseError(
                    f"{pname}: expected 'return_unmatched'", t.span
                )
        rp = p.expect(TokenKind.RPAREN, "')'")
        return Ipv4LookupOp(
            right=right,
            ip_col=ip_col,
            range_col=range_col,
            return_unmatched=return_unmatched,
            v6=pname == "ipv6_lookup",
            span=Span(kw.span.start, rp.span.end),
        )
    if plugin.value == "diffpatterns_text":
        p.expect(TokenKind.LPAREN, "'('")
        sp = p.take()
        if sp.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError(
                "diffpatterns_text: expected the split column name",
                sp.span,
            )
        split_col = Ident(
            parts=[sp.value],
            quoted=[sp.kind is TokenKind.QIDENT],
            span=sp.span,
        )

        def _str_arg2(what: str) -> str:
            p.expect(TokenKind.COMMA, "','")
            t = p.take()
            if t.kind is not TokenKind.STRING:
                raise ParseError(
                    f"diffpatterns_text: expected a string literal"
                    f" for {what}",
                    t.span,
                )
            return t.value

        value_a = _str_arg2("the A split value")
        value_b = _str_arg2("the B split value")
        p.expect(TokenKind.COMMA, "','")
        tc = p.take()
        if tc.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError(
                "diffpatterns_text: expected the text column name",
                tc.span,
            )
        text_col = Ident(
            parts=[tc.value],
            quoted=[tc.kind is TokenKind.QIDENT],
            span=tc.span,
        )
        min_diff = 5.0
        if p.match(TokenKind.COMMA):
            t = p.take()
            if t.kind is not TokenKind.NUMBER:
                raise ParseError(
                    "diffpatterns_text: expected a percent literal",
                    t.span,
                )
            min_diff = float(t.value)
        rp = p.expect(TokenKind.RPAREN, "')'")
        return DiffPatternsTextOp(
            split_col=split_col,
            value_a=value_a,
            value_b=value_b,
            text_col=text_col,
            min_diff=min_diff,
            span=Span(kw.span.start, rp.span.end),
        )
    if plugin.value == "diffpatterns":
        p.expect(TokenKind.LPAREN, "'('")
        sp = p.take()
        if sp.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError(
                "diffpatterns: expected the split column name", sp.span
            )
        split_col = Ident(
            parts=[sp.value],
            quoted=[sp.kind is TokenKind.QIDENT],
            span=sp.span,
        )

        def _str_arg(what: str) -> str:
            p.expect(TokenKind.COMMA, "','")
            t = p.take()
            if t.kind is not TokenKind.STRING:
                raise ParseError(
                    f"diffpatterns: expected a string literal for"
                    f" {what}",
                    t.span,
                )
            return t.value

        value_a = _str_arg("the A split value")
        value_b = _str_arg("the B split value")
        min_diff = 5.0
        dcols: list[Ident] = []
        first_opt = True
        while p.match(TokenKind.COMMA):
            t = p.take()
            if first_opt and t.kind is TokenKind.NUMBER:
                min_diff = float(t.value)
            elif t.kind in (TokenKind.IDENT, TokenKind.QIDENT):
                dcols.append(
                    Ident(
                        parts=[t.value],
                        quoted=[t.kind is TokenKind.QIDENT],
                        span=t.span,
                    )
                )
            else:
                raise ParseError(
                    "diffpatterns: expected a percent literal or"
                    " column name",
                    t.span,
                )
            first_opt = False
        rp = p.expect(TokenKind.RPAREN, "')'")
        return DiffPatternsOp(
            split_col=split_col,
            value_a=value_a,
            value_b=value_b,
            cols=dcols,
            min_diff=min_diff,
            span=Span(kw.span.start, rp.span.end),
        )
    if plugin.value in ("autocluster", "basket"):
        p.expect(TokenKind.LPAREN, "'('")
        min_percent = 5.0
        cols: list[Ident] = []
        first = True
        while p.peek() is not None and p.peek().kind is not TokenKind.RPAREN:
            if not first:
                p.expect(TokenKind.COMMA, "','")
            t = p.take()
            if first and t.kind is TokenKind.NUMBER:
                min_percent = float(t.value)
            elif t.kind in (TokenKind.IDENT, TokenKind.QIDENT):
                cols.append(
                    Ident(
                        parts=[t.value],
                        quoted=[t.kind is TokenKind.QIDENT],
                        span=t.span,
                    )
                )
            else:
                raise ParseError(
                    f"{plugin.value}: expected a percent literal or"
                    " column name",
                    t.span,
                )
            first = False
        rp = p.expect(TokenKind.RPAREN, "')'")
        return AutoclusterOp(
            cols=cols,
            min_percent=min_percent,
            span=Span(kw.span.start, rp.span.end),
        )
    if plugin.value == "sequence_detect":
        p.expect(TokenKind.LPAREN, "'('")
        ts_tok = p.take()
        if ts_tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected timeline column", ts_tok.span)
        timeline = Ident(
            parts=[ts_tok.value],
            quoted=[ts_tok.kind is TokenKind.QIDENT],
            span=ts_tok.span,
        )

        def window_usec() -> int:
            p.expect(TokenKind.COMMA, "','")
            t = p.take()
            if t.kind is TokenKind.TIMESPAN:
                return int(t.value)
            if t.kind is TokenKind.STRING:
                from .functions import _duration_usec

                return _duration_usec(t.value, t.span)
            raise ParseError(
                "expected a timespan literal (e.g. 1h)", t.span
            )

        step_usec = window_usec()
        span_usec = window_usec()
        steps: list[ColSpec] = []
        keys: list[Ident] = []
        while p.match(TokenKind.COMMA):
            steps.append(p.parse_colspec(require_expr=True))
        if p.match(TokenKind.BY):
            while True:
                kt = p.take()
                if kt.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                    raise ParseError("expected key column", kt.span)
                keys.append(
                    Ident(
                        parts=[kt.value],
                        quoted=[kt.kind is TokenKind.QIDENT],
                        span=kt.span,
                    )
                )
                if not p.match(TokenKind.COMMA):
                    break
        rp = p.expect(TokenKind.RPAREN, "')'")
        if len(steps) < 2:
            raise ParseError(
                "sequence_detect needs at least 2 step expressions",
                plugin.span,
            )
        return SequenceDetectOp(
            timeline=timeline,
            step_usec=step_usec,
            span_usec=span_usec,
            steps=steps,
            keys=keys,
            span=Span(kw.span.start, rp.span.end),
        )
    if plugin.value != "pivot":
        raise ParseError(
            f"unknown evaluate plugin {plugin.value!r}"
            " (supported: pivot, bag_unpack, narrow,"
            " sequence_detect, autocluster, basket, diffpatterns,"
            " diffpatterns_text,"
            " ipv4_lookup,"
            " ipv6_lookup,"
            " rows_near, sliding_window_counts, rolling_percentile,"
            " activity_counts_metrics, session_count,"
            " new_activity_metrics, funnel_sequence,"
            " funnel_completion, activity_engagement,"
            " active_users_count)",
            plugin.span,
        )
    p.expect(TokenKind.LPAREN, "'('")
    col_tok = p.take()
    if col_tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError("expected pivot column name", col_tok.span)
    col = Ident(
        parts=[col_tok.value],
        quoted=[col_tok.kind is TokenKind.QIDENT],
        span=col_tok.span,
    )
    agg = None
    if p.match(TokenKind.COMMA):
        agg = p.parse_expr()
    rp = p.expect(TokenKind.RPAREN, "')'")
    schema, rp = _schema_annotation(p, "pivot", rp)
    return PivotOp(
        col=col, agg=agg, schema=schema,
        span=Span(kw.span.start, rp.span.end),
    )


def _op_getschema(p: _P, kw: Token) -> Op:
    """EXTENSION: ``getschema`` (KQL) — schema as rows."""
    return GetSchemaOp(span=kw.span)


def _op_scan(p: _P, kw: Token) -> Op:
    """EXTENSION: ``scan [with_match_id = M] [by K…] [order by T…]
    [declare (v = lit, …)] with (step n [output=all|last|none]: pred
    [=> v = expr, …]; …)`` (simplified KQL scan — ordered
    funnel/sequence matching with state capture)."""
    by: list[Ident] = []
    order: list[SortTerm] = []
    match_id = "match_id"
    if p.match_word("with_match_id"):
        p.expect(TokenKind.ASSIGN, "'='")
        m = p.take()
        if m.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
            raise ParseError("expected match-id column name", m.span)
        match_id = m.value
    if p.match(TokenKind.BY):
        while True:
            tok = p.take()
            if tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError("expected group column name", tok.span)
            by.append(
                Ident(
                    parts=[tok.value],
                    quoted=[tok.kind is TokenKind.QIDENT],
                    span=tok.span,
                )
            )
            if not p.match(TokenKind.COMMA):
                break
    if p.match_word("order"):
        p.expect(TokenKind.BY, "'by'")
        while True:
            order.append(p.parse_sort_term())
            if not p.match(TokenKind.COMMA):
                break
    declare: list[tuple[str, Expr]] = []
    if p.match_word("declare"):
        p.expect(TokenKind.LPAREN, "'('")
        while True:
            v = p.expect(TokenKind.IDENT, "variable name")
            p.expect(TokenKind.ASSIGN, "'='")
            declare.append((v.value, p.parse_expr()))
            if not p.match(TokenKind.COMMA):
                break
        p.expect(TokenKind.RPAREN, "')'")
    w = p.expect(TokenKind.IDENT, "'with'")
    if w.value != "with":
        raise ParseError("expected 'with'", w.span)
    p.expect(TokenKind.LPAREN, "'('")
    declared = {v for v, _ in declare}
    steps: list[ScanStep] = []
    while True:
        s = p.take()
        if not (s.kind is TokenKind.IDENT and s.value == "step"):
            raise ParseError("expected 'step'", s.span)
        name = p.expect(TokenKind.IDENT, "step name")
        output = "all"
        if p.match_word("output"):
            p.expect(TokenKind.ASSIGN, "'='")
            o = p.expect(TokenKind.IDENT, "output mode")
            if o.value not in ("all", "last", "none"):
                raise ParseError(
                    "step output must be all, last, or none", o.span
                )
            output = o.value
        p.expect(TokenKind.COLON, "':'")
        pred = p.parse_expr()
        assigns: list[tuple[str, Expr]] = []
        if p.match(TokenKind.FATARROW):
            while True:
                v = p.expect(TokenKind.IDENT, "variable name")
                if v.value not in declared:
                    raise ParseError(
                        f"scan: assignment to undeclared variable"
                        f" {v.value!r} (add it to declare (…))",
                        v.span,
                    )
                p.expect(TokenKind.ASSIGN, "'='")
                assigns.append((v.value, p.parse_expr()))
                if not p.match(TokenKind.COMMA):
                    break
        steps.append(
            ScanStep(
                name=name.value, pred=pred, output=output,
                assigns=assigns,
            )
        )
        if not p.match(TokenKind.SEMI):
            break
        if p.peek() is not None and p.peek().kind is TokenKind.RPAREN:
            break  # trailing semicolon
    rp = p.expect(TokenKind.RPAREN, "')'")
    if not steps:
        raise ParseError("scan needs at least one step", kw.span)
    return ScanOp(
        by=by, order=order, steps=steps, declare=declare,
        match_id=match_id,
        span=Span(kw.span.start, rp.span.end),
    )


def _op_partition(p: _P, kw: Token) -> Op:
    """EXTENSION: ``partition by Col ( op | op … )`` (KQL partition)."""
    p.expect(TokenKind.BY, "'by'")
    col_tok = p.take()
    if col_tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError("expected partition column name", col_tok.span)
    col = Ident(
        parts=[col_tok.value],
        quoted=[col_tok.kind is TokenKind.QIDENT],
        span=col_tok.span,
    )
    lp = p.expect(TokenKind.LPAREN, "'('")
    depth, j = 1, p.i
    while j < len(p.tokens):
        k = p.tokens[j].kind
        if k in (TokenKind.LPAREN, TokenKind.LBRACKET):
            depth += 1
        elif k in (TokenKind.RPAREN, TokenKind.RBRACKET):
            depth -= 1
            if depth == 0:
                break
        j += 1
    if depth != 0:
        raise ParseError("unclosed '(' in partition subquery", lp.span)
    inner_tokens = p.tokens[p.i : j]
    rp = p.tokens[j]
    p.i = j + 1
    ops: list[Op] = []
    for seg in _split_on(inner_tokens, TokenKind.PIPE):
        if not seg:
            continue
        ops.append(_parse_operator(_P(seg, p.source)))
    if not ops:
        raise ParseError("empty partition subquery", lp.span)
    return PartitionOp(
        col=col, ops=ops, span=Span(kw.span.start, rp.span.end)
    )


def _op_make_series(p: _P, kw: Token) -> Op:
    """EXTENSION: ``make-series [n=]agg [default=lit], … on Ts from A
    to B step S [by K1, K2]`` (KQL make-series)."""
    series: list[SeriesSpec] = []
    while True:
        col = p.parse_colspec(require_expr=True)
        default = None
        end = col.span.end
        if p.match_word("default"):
            p.expect(TokenKind.ASSIGN, "'='")
            default = p.parse_expr()
            end = default.span.end
        series.append(
            SeriesSpec(
                col=col, default=default, span=Span(col.span.start, end)
            )
        )
        if not p.match(TokenKind.COMMA):
            break
    on = p.expect(TokenKind.IDENT, "'on'")
    if on.value != "on":
        raise ParseError(f"expected 'on', got {on.value!r}", on.span)
    ts = p.take()
    if ts.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
        raise ParseError("expected axis column name", ts.span)
    on_col = Ident(
        parts=[ts.value],
        quoted=[ts.kind is TokenKind.QIDENT],
        span=ts.span,
    )
    w = p.expect(TokenKind.IDENT, "'from'")
    if w.value != "from":
        raise ParseError(f"expected 'from', got {w.value!r}", w.span)
    start = p.parse_expr()
    w = p.expect(TokenKind.IDENT, "'to'")
    if w.value != "to":
        raise ParseError(f"expected 'to', got {w.value!r}", w.span)
    stop = p.parse_expr()
    w = p.expect(TokenKind.IDENT, "'step'")
    if w.value != "step":
        raise ParseError(f"expected 'step', got {w.value!r}", w.span)
    step = p.parse_expr()
    keys: list[ColSpec] = []
    end = step.span.end
    if p.match(TokenKind.BY):
        keys = p.parse_colspec_list()
        end = keys[-1].span.end
    return MakeSeriesOp(
        series=series,
        on=on_col,
        start=start,
        stop=stop,
        step=step,
        keys=keys,
        span=Span(kw.span.start, end),
    )


def _op_serialize(p: _P, kw: Token) -> Op:
    """EXTENSION: ``serialize [by P1, P2]`` — mark the preceding sort's
    order as the window order for row_number()/prev()/next() (KQL
    serialize; ``by`` adds window partitioning for scale)."""
    by: list[Ident] = []
    end = kw.span.end
    if p.match(TokenKind.BY):
        while True:
            tok = p.take()
            if tok.kind not in (TokenKind.IDENT, TokenKind.QIDENT):
                raise ParseError("expected partition column name", tok.span)
            by.append(
                Ident(
                    parts=[tok.value],
                    quoted=[tok.kind is TokenKind.QIDENT],
                    span=tok.span,
                )
            )
            end = tok.span.end
            if not p.match(TokenKind.COMMA):
                break
    return SerializeOp(by=by, span=Span(kw.span.start, end))


def _op_invoke(p: _P, kw: Token) -> Op:
    """EXTENSION: ``invoke f(arg1, …)`` — call a tabular-bodied
    let-function with the piped input as its first parameter."""
    nm = p.take()
    if nm.kind is not TokenKind.IDENT:
        raise ParseError("invoke: expected function name", nm.span)
    p.expect(TokenKind.LPAREN, "'('")
    args: list[Expr] = []
    if p.peek() is not None and p.peek().kind is not TokenKind.RPAREN:
        args.append(p.parse_expr())
        while p.match(TokenKind.COMMA):
            args.append(p.parse_expr())
    rp = p.expect(TokenKind.RPAREN, "')'")
    return InvokeOp(
        name=nm.value, args=args, span=Span(kw.span.start, rp.span.end)
    )


def _op_consume(p: _P, kw: Token) -> Op:
    """EXTENSION: ``consume`` — run-and-discard (empty result)."""
    return ConsumeOp(span=kw.span)


def _op_reduce(p: _P, kw: Token) -> Op:
    """EXTENSION: ``reduce by Expr`` — wildcard-pattern clustering
    (see ReduceOp docstring for the simplified, deterministic
    semantics)."""
    p.expect(TokenKind.BY, "'by'")
    expr = p.parse_expr()
    return ReduceOp(expr=expr, span=Span(kw.span.start, expr.span.end))


def _op_search(p: _P, kw: Token) -> Op:
    """EXTENSION: ``search "term"`` — any-column case-insensitive
    substring filter (KQL search scoped to the pipeline input)."""
    tok = p.expect(TokenKind.STRING, "search term string")
    return SearchOp(term=tok.value, span=Span(kw.span.start, tok.span.end))


_OPERATORS = {
    "count": _op_count,
    "facet": _op_facet,
    "fork": _op_fork,
    "lookup": _op_lookup,
    "parse": _op_parse,
    "parse-where": _op_parse_where,
    "parse-kv": _op_parse_kv,
    "search": _op_search,
    "reduce": _op_reduce,
    "consume": _op_consume,
    "invoke": _op_invoke,
    "serialize": _op_serialize,
    "sample": _op_sample,
    "sample-distinct": _op_sample_distinct,
    "top-hitters": _op_top_hitters,
    "project-rename": _op_project_rename,
    "project-keep": _op_project_keep,
    "project-reorder": _op_project_reorder,
    "getschema": _op_getschema,
    "scan": _op_scan,
    "partition": _op_partition,
    "make-series": _op_make_series,
    "evaluate": _op_evaluate,
    "distinct": _op_distinct,
    "union": _op_union,
    "make-graph": _op_make_graph,
    "graph-match": _op_graph_match,
    "project-away": _op_project_away,
    "mv-apply": _op_mv_apply,
    "top-nested": _op_top_nested,
    "mv-expand": _op_mv_expand,
    "where": _op_where,
    "sort": _op_sort,
    "take": _op_take,
    "top": _op_top,
    "project": _op_project,
    "extend": _op_extend,
    "summarize": _op_summarize,
    "join": _op_join,
    "as": _op_as,
    "render": _op_render,
}
