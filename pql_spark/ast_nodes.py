"""PQL AST node definitions.

Mirrors the node inventory of the reference parser
(``/root/reference/parser/ast.go``) as Python dataclasses.  Every node
carries a :class:`~pql_spark.lexer.Span` so the compiler can recover the
original source text — PQL names unnamed extend/summarize columns by the
expression's source text (pql.go:404-406, 424-426).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .lexer import Span

# ---------------------------------------------------------------- expressions


@dataclass
class Expr:
    span: Span = field(kw_only=True)

    def source(self, text: str) -> str:
        return self.span.text(text)


@dataclass
class NumberLit(Expr):
    text: str  # normalized decimal text

    @property
    def is_float(self) -> bool:
        return any(c in self.text for c in ".eE")


@dataclass
class StringLit(Expr):
    value: str


@dataclass
class TimespanLit(Expr):
    """EXTENSION (KQL): bare timespan literal ``1h`` / ``30m`` / ``1.5d``.
    Normalized to total microseconds at lex time; compiles to a Spark
    day-time interval (``make_dt_interval``)."""

    microseconds: int


@dataclass
class DatetimeLit(Expr):
    """EXTENSION (KQL): ``datetime(2024-01-01 12:00:00)`` literal.  The
    raw text between the parens is validated/normalized to an ISO
    timestamp string at parse time; compiles to a TIMESTAMP literal."""

    value: str  # canonical "YYYY-MM-DD HH:MM:SS[.ffffff]"


@dataclass
class Ident(Expr):
    """A (possibly dotted) identifier. ``parts`` holds each dotted segment;
    ``quoted[i]`` records whether segment i was backtick-quoted (quoted
    segments never resolve as let-bindings or builtins, pql.go:615-635)."""

    parts: list[str]
    quoted: list[bool]

    @property
    def name(self) -> str:
        return ".".join(self.parts)

    @property
    def simple(self) -> bool:
        return len(self.parts) == 1


@dataclass
class UnaryExpr(Expr):
    op: str  # '+' | '-'
    operand: Expr


@dataclass
class BinaryExpr(Expr):
    op: str  # == != =~ !~ < <= > >= + - * / % and or
    lhs: Expr
    rhs: Expr


@dataclass
class InExpr(Expr):
    """``x in (…)`` plus the EXTENSION in-family word operators:
    ``!in`` (negated), ``in~``/``!in~`` (case-insensitive), and
    ``has_any``/``has_all`` (term match over any/all of the listed
    terms).  ``op`` is the surface spelling."""

    lhs: Expr
    items: list[Expr]
    op: str = "in"


@dataclass
class BetweenExpr(Expr):
    """EXTENSION: ``x between (lo .. hi)`` / ``x !between (lo .. hi)``
    — inclusive range predicate (KQL between)."""

    lhs: Expr
    lo: Expr
    hi: Expr
    negated: bool = False


@dataclass
class ToScalarExpr(Expr):
    """EXTENSION: ``toscalar(<tabular expr>)`` — the first column of the
    first row of a subquery, usable anywhere a scalar fits (KQL
    toscalar).  Evaluated EAGERLY at compile time (one driver-side
    ``head()`` action) and inlined as a literal — so downstream filters
    using it still push down to the scan."""

    tab: "TabularExpr"


@dataclass
class IndexExpr(Expr):
    base: Expr
    index: Expr


@dataclass
class CallExpr(Expr):
    func: str
    args: list[Expr]


# ------------------------------------------------------------------ operators


@dataclass
class Node:
    span: Span = field(kw_only=True)


@dataclass
class ColSpec(Node):
    """``Name = Expr`` | bare ``Name`` (identity) | bare ``Expr``
    (named by source text)."""

    name: str | None
    expr: Expr | None


@dataclass
class SortTerm(Node):
    expr: Expr
    asc: bool
    nulls_first: bool


@dataclass
class Op(Node):
    pass


@dataclass
class CountOp(Op):
    pass


@dataclass
class WhereOp(Op):
    predicate: Expr


@dataclass
class SortOp(Op):
    terms: list[SortTerm]


@dataclass
class TakeOp(Op):
    count: Expr


@dataclass
class TopOp(Op):
    count: Expr
    term: SortTerm


@dataclass
class ProjectOp(Op):
    cols: list[ColSpec]


@dataclass
class ExtendOp(Op):
    cols: list[ColSpec]


@dataclass
class SummarizeOp(Op):
    aggs: list[ColSpec]
    keys: list[ColSpec]
    # EXTENSION: KQL physical hints — `hint.shufflekey = Col[, Col…]`
    # pre-partitions the input on those columns (skew control / reuse
    # of an existing partitioning) and `hint.num_partitions = N` fixes
    # the partition count; None ⇒ let Catalyst/AQE choose
    shufflekey: list[str] = field(default_factory=list)
    num_partitions: int | None = None


@dataclass
class JoinOp(Op):
    flavor: str  # inner | innerunique | leftouter (parser.go:742-746)
    right: "TabularExpr"
    conditions: list[Expr]
    # EXTENSION: KQL `hint.strategy` — physical-strategy hint mapped to
    # Spark join hints (broadcast / shuffle_hash / shuffle_merge /
    # shuffle_replicate_nl); None ⇒ let Catalyst/AQE choose
    strategy: str | None = None


@dataclass
class AsOp(Op):
    name: str


# ---- extension operators (KQL-inspired; the reference parser rejects
# ---- these, so no existing reference query changes meaning)


@dataclass
class DistinctOp(Op):
    """``distinct *`` (cols empty) or ``distinct C1, C2``."""

    cols: list[ColSpec]


@dataclass
class UnionOp(Op):
    """``union [kind=inner|outer] [withsource = Col] Table2, (T3 | …)``
    — bag union by column name; ``withsource`` appends the originating
    table name.  ``outer`` (default) keeps every column null-filling
    gaps; ``inner`` keeps only columns common to every branch (KQL
    union kinds)."""

    others: list["TabularExpr"]
    withsource: str | None = None
    kind: str = "outer"
    # ``isfuzzy=true``: branches whose source TABLE doesn't resolve are
    # silently dropped (KQL union isfuzzy — evolving multi-table views)
    isfuzzy: bool = False


@dataclass
class ProjectAwayOp(Op):
    """``project-away C1, C2`` — drop the listed columns."""

    names: list[str]


@dataclass
class MvExpandOp(Op):
    """``mv-expand Col[, Col2, …]`` (explode in place) or
    ``mv-expand name = expr`` (append exploded column).

    Multiple columns follow KQL zip semantics: all arrays expand in
    lock-step to the longest one, null-padded (not a cross product).
    ``with_itemindex = Idx`` appends the 0-based element index as a
    column named Idx (placed after the original columns).
    """

    cols: list[ColSpec]
    itemindex: str | None = None
    # EXTENSION: per-column `to typeof(T)` element casts (Spark SQL
    # type names, parallel to ``cols``; None = no cast)
    types: list[str | None] | None = None

    @property
    def col(self) -> ColSpec:  # single-column convenience accessor
        return self.cols[0]


@dataclass
class TopNestedLevel:
    """One ``top-nested [N] of Key by Agg [asc|desc]`` level."""

    count: "Expr | None"  # None ⇒ keep every key value
    key: ColSpec
    agg: ColSpec
    asc: bool
    span: Span
    # EXTENSION: `with others = "label"` — non-surviving keys bucket
    # into one label row per parent combination (KQL top-nested others)
    others: "str | None" = None


@dataclass
class TopNestedOp(Op):
    """``top-nested N1 of K1 by A1, top-nested N2 of K2 by A2, …`` —
    hierarchical top-k: level i ranks Ki values by Ai *within* each
    surviving combination of K1…K(i-1) (KQL top-nested; the reference
    rejects the operator).  Ties break by key ascending so results are
    deterministic."""

    levels: list[TopNestedLevel]


@dataclass
class MvApplyOp(Op):
    """``mv-apply Name [= Expr], … on ( op | op | … )`` — expand array
    column(s) element-wise per record (zip to the longest, null-padded),
    run the parenthesized operator chain on each record's subtable, and
    return the union of the per-record results (KQL mv-apply; the
    reference parser rejects the operator)."""

    cols: list[ColSpec]
    ops: list[Op]


@dataclass
class FacetOp(Op):
    """``facet by C1, C2 [with ( op | op | … )]`` — MULTI-OUTPUT: one
    value-frequency table per faceted column (``C, count_``), plus, when
    ``with`` is given, a ``main`` table that is the parenthesized
    operator chain applied to the input (KQL facet; the reference
    parser rejects the operator).  Must be the final operator."""

    by: list[Ident]
    with_ops: list[Op]


@dataclass
class ForkBranch:
    """One ``[Name =] ( op | op | … )`` fork branch."""

    name: "str | None"
    ops: list[Op]
    span: Span


@dataclass
class ForkOp(Op):
    """``fork [N1 =] ( … ) [N2 =] ( … ) …`` — MULTI-OUTPUT: run each
    parenthesized operator chain over the same input, one output table
    per branch (KQL fork).  Unnamed branches are auto-named
    ``fork_<i>``.  Must be the final operator."""

    branches: list[ForkBranch]


@dataclass
class SampleOp(Op):
    """``sample <rate> by <Key>`` — DETERMINISTIC hash sample (diverges
    from KQL's random ``sample`` on purpose: reproducibility is the
    point; see operators.sampling)."""

    rate: float
    key: Ident


@dataclass
class SampleDistinctOp(Op):
    """``sample-distinct <N> of <Col>`` — keep rows whose Col is among N
    DETERMINISTICALLY chosen distinct values (lowest md5 hash — KQL's
    sample-distinct is random; determinism keeps it reproducible and
    oracle-checkable).  Plan: distinct → hash-rank top-N (a tiny
    TakeOrdered on distinct values) → broadcast semi-join back."""

    count: Expr
    col: Ident


@dataclass
class TopHittersOp(Op):
    """``top-hitters N of Col [by SumExpr]`` — exact heavy hitters:
    group by Col, count rows (or sum SumExpr), top N descending."""

    count: Expr
    col: Ident
    by: Expr | None


@dataclass
class ProjectRenameOp(Op):
    """``project-rename New = Old, …`` — rename in place."""

    renames: list[tuple[str, str]]  # (new, old)


@dataclass
class ProjectKeepOp(Op):
    """``project-keep C1, C2`` — keep listed columns in table order."""

    names: list[str]


@dataclass
class ProjectReorderOp(Op):
    """``project-reorder C1, C2`` — listed columns first, rest keep
    their original order."""

    names: list[str]


@dataclass
class PivotOp(Op):
    """``evaluate pivot(PivotCol [, AggCall]) [: (name: type, …)]`` —
    rotate distinct values of PivotCol into columns (KQL pivot
    plugin); remaining columns are the group keys; default aggregate
    is ``count()``.  Discovery mode (no annotation) finds + sorts the
    distinct values with one query before the statement is emitted
    (``PqlEngine.query``; a bare ``to_sql`` refuses it).  With the ADX
    output-schema annotation, entries naming group keys pass through
    and the REST are the pivot values in declared order, matched on
    the pivot column's STRING form and cast to the declared type —
    static schema, no values-discovery job."""

    col: Ident
    agg: Expr | None
    schema: list[tuple[str, str]] | None = None


@dataclass
class BagUnpackOp(Op):
    """``evaluate bag_unpack(Col [, prefix]) [: (name: type, …)]`` —
    expand a dynamic (JSON object / map) column into one column per
    key (KQL bag_unpack plugin); the bag column is dropped.  Without
    the ADX output-schema annotation the keys are DISCOVERED with one
    bounded query before the statement is emitted (``PqlEngine.query``;
    a bare ``to_sql`` refuses it); with it the schema is static and
    keys extract in declared order with declared types."""

    col: Ident
    prefix: str = ""
    schema: list[tuple[str, str]] | None = None  # (key, KQL type)


@dataclass
class ScanStep:
    """One ``scan`` step: ``step name [output=all|last|none]: pred
    [=> var = expr, …]``.  ``assigns`` capture row-expression values
    into declared state variables when the step matches."""

    name: str
    pred: Expr
    output: str = "all"
    assigns: list[tuple[str, "Expr"]] = field(default_factory=list)


@dataclass
class ScanOp(Op):
    """EXTENSION: ``scan [with_match_id = M] [by K1, K2] [order by T …]
    [declare (v = lit, …)] with (step s1: pred [=> v = expr]; …)`` —
    ordered sequence matching (simplified KQL scan / funnel detection).
    Per key group, rows are scanned in order; a row matching the next
    pending step advances the active match, and a completed match emits
    its rows with ``match_id`` (long, per group) and ``step`` (string)
    columns appended, then matching restarts.  Rows outside completed
    matches are dropped; steps with ``output=none`` are matched but not
    emitted.  Declared variables reset at each new match attempt, are
    set by step assignments, and are appended as output columns holding
    the state as of each emitted row.  Conditions and assignment values
    MAY reference the variables (full KQL scan surface); the
    var-referencing combinators are limited to comparisons,
    and/or/not, and arithmetic — richer constructs go in an earlier
    assignment or a preceding ``extend``.  Var-referencing assignment
    values see the state at STEP ENTRY (before the step's own
    assignments), the same visibility row-precomputed values get.

    Execution: row-only step predicates and assignment values are
    columns of one SQL work statement (JVM/codegen); var-referencing
    expressions are split — maximal var-free subtrees become extra
    columns, and only a tiny comparison/arithmetic skeleton over
    (vars, those columns) runs interpreted per candidate row inside
    the Arrow-batched ``applyInPandas`` automaton, which already holds
    the per-attempt state.  One shuffle on the group keys.  Needs a
    frame, so ``PqlEngine.query`` runs it and bare ``to_sql`` refuses.
    """

    by: list[Ident]
    order: list[SortTerm]
    steps: list[ScanStep]
    declare: list[tuple[str, "Expr"]] = field(default_factory=list)
    match_id: str = "match_id"


@dataclass
class PartitionOp(Op):
    """``partition by Col ( op | op … )`` — run the subquery over each
    partition-key subtable (KQL partition operator).  Compiled with NO
    per-partition iteration: where/extend/project apply globally,
    sort+take/top become a rank window partitioned by the key, and
    summarize groups by (key + declared keys) — one shuffle on the
    partition key at most."""

    col: Ident
    ops: list[Op]


@dataclass
class NarrowOp(Op):
    """``evaluate narrow()`` — unpivot every column to rows of
    (Row, Column, Value-as-string) (KQL narrow plugin).  Requires a
    preceding ``sort``/``serialize`` so the 0-based Row index is
    deterministic; the global row numbering runs in ONE task — narrow
    is a presentation/debugging operator for small results, not a
    scale path (use mv-expand/summarize for bulk reshaping)."""


@dataclass
class GetSchemaOp(Op):
    """``getschema`` — one row per column: name, ordinal, type
    (DataFrame backend only; SQL text has no schema introspection)."""


@dataclass
class SeriesSpec(Node):
    """One series in ``make-series``: ``[Name =] Agg() [default = Lit]``."""

    col: ColSpec
    default: Expr | None


@dataclass
class MakeSeriesOp(Op):
    """``make-series [Name=]Agg [default=Lit], … on TsCol from X to Y
    step S [by Keys]`` — per-key dense time/number series as arrays
    (KQL make-series).  ``step`` is a number or a timespan string
    literal; bins cover [from, to) and empty bins fill with the
    series' default (null if omitted)."""

    series: list[SeriesSpec]
    on: Ident
    start: Expr
    stop: Expr
    step: Expr
    keys: list[ColSpec]


@dataclass
class SerializeOp(Op):
    """``serialize [by P1, P2]`` — fix the window order for
    ``row_number()``/``prev()``/``next()`` from the nearest preceding
    ``sort``.  ``by`` partitions the window (our scale extension: a
    partitioned window shuffles once on the keys instead of collapsing
    to a single total-order task)."""

    by: list[Ident]


@dataclass
class LookupOp(Op):
    """``lookup [kind=leftouter|inner] (Dim) on K1, K2`` — dimension-table
    join: the right side is BROADCAST, and the shared key columns appear
    once in the output (KQL lookup semantics; keys must be bare
    identifiers present on both sides)."""

    flavor: str  # leftouter (default) | inner
    right: "TabularExpr"
    keys: list[Ident]


@dataclass
class ParseOp(Op):
    """``parse Expr with "lit" Name "lit2" Name2 …`` — extract substrings
    between literal delimiters into new columns (KQL parse, simple mode).
    ``segments`` alternates string literals and capture names in pattern
    order; a row that doesn't match yields empty strings."""

    source_expr: Expr
    segments: list["StringLit | Ident"]
    # EXTENSION: `parse kind=regex` treats the string segments as raw
    # regex fragments instead of escaped literals (KQL parse kinds;
    # default "simple")
    kind: str = "simple"
    # EXTENSION: `parse-where` — drop rows whose source doesn't match
    # the pattern instead of extracting empty strings (KQL parse-where)
    where_mode: bool = False


@dataclass
class ParseKvOp(Op):
    """``parse-kv Expr as (k1 [: type], …) [with (pair_delimiter="…",
    kv_delimiter="…")]`` — extract delimited key-value pairs into
    columns (KQL parse-kv, simplified: regex-free ``str_to_map``
    split).  Missing keys yield NULL; optional per-key try_cast."""

    source_expr: Expr
    keys: list[str]
    types: list[str | None]
    pair_delim: str = ";"
    kv_delim: str = "="


@dataclass
class SequenceDetectOp(Op):
    """``evaluate sequence_detect(TsCol, stepWindow, spanWindow,
    s1 = pred1, s2 = pred2, … [by K1, K2])`` (EXTENSION, simplified
    KQL sequence_detect): per-key ordered sequence matching.  For each
    step-1 event, greedily chains the EARLIEST later event matching
    each next step within ``stepWindow`` of the previous step; the
    whole sequence must span ≤ ``spanWindow``.  Output: key columns +
    one ``<step>_<TsCol>`` timestamp per step.  Compiled to N-1
    union+running-min window passes — no per-row iteration, no driver
    state (divergence from KQL: greedy-earliest chains may overlap)."""

    timeline: Ident
    step_usec: int
    span_usec: int
    steps: list[ColSpec]
    keys: list[Ident]


@dataclass
class AutoclusterOp(Op):
    """``evaluate autocluster([minPercent][, C1, C2, …])`` /
    ``evaluate basket([minPercent][, C1, …])`` (EXTENSION, simplified
    KQL data-mining plugins): frequent attribute-combination segments
    via a native CUBE (grouping sets).  Every column subset's value
    combination with coverage ≥ minPercent (default 5%) becomes a row:
    ``SegmentCount, Percent, C1…Ck`` with ``*`` for wildcarded columns.
    Divergence from KQL: threshold-based ranking (deterministic,
    oracle-checkable) instead of the proprietary scoring heuristics."""

    cols: list[Ident]
    min_percent: float


@dataclass
class DiffPatternsOp(Op):
    """``evaluate diffpatterns(SplitCol, "A", "B"[, minDiffPercent]
    [, C1, …])`` (EXTENSION, simplified KQL diffpatterns): mine the
    attribute-combination segments whose SHARE differs most between
    the two cohorts ``SplitCol == "A"`` vs ``"B"`` — the A/B
    investigation operator (alert storm vs baseline, canary vs
    control).  Output per surviving pattern: ``CountA, CountB,
    PercentA, PercentB, PercentDiff`` + the pattern columns with ``*``
    wildcards.  One native CUBE with two conditional counts (single
    shuffle, partial-aggregated); per-cohort totals from the cube's
    own all-wildcard row via a window over the tiny aggregate.
    Divergence from KQL (like autocluster/basket): threshold on
    ``|PercentA − PercentB| ≥ minDiffPercent`` (default 5),
    deterministic, oracle-checkable — not the proprietary scoring."""

    split_col: Ident
    value_a: str
    value_b: str
    cols: list[Ident]
    min_diff: float


@dataclass
class DiffPatternsTextOp(Op):
    """``evaluate diffpatterns_text(SplitCol, "A", "B", TextCol
    [, minDiffPercent])`` (EXTENSION, simplified KQL
    diffpatterns_text): the TOKENS whose row-coverage differs most
    between the two cohorts — "what words appear in the failing
    logs that don't appear in the passing ones".  Output per
    surviving token: ``token, CountA, CountB, PercentA, PercentB,
    PercentDiff`` where PercentX = % of cohort-X rows containing the
    token.

    Plan: per-row DISTINCT token array (narrow), one explode + one
    groupBy(token) with two conditional counts (partial-aggregated —
    hot stopwords combine map-side), cohort totals broadcast-joined
    back from a 1-row aggregate.  Same deterministic
    ``|PercentA − PercentB| ≥ threshold`` refinement as
    ``diffpatterns`` (default 5)."""

    split_col: Ident
    value_a: str
    value_b: str
    text_col: Ident
    min_diff: float


@dataclass
class Ipv4LookupOp(Op):
    """``evaluate ipv4_lookup(LookupTable, SourceIpCol, RangeCol
    [, return_unmatched])`` (EXTENSION, KQL ipv4_lookup plugin):
    CIDR-network membership join against a lookup table whose
    ``RangeCol`` holds ``a.b.c.d/len`` (or bare ip) network strings —
    threat-intel / geo enrichment.  The lookup table is BROADCAST;
    each fact row is matched via one hash equi-join on
    (prefix-length, masked ip) per DISTINCT prefix length present in
    the lookup (≤ 33), so there is no nested-loop range probe and the
    fact table never shuffles.  Rows matching several networks return
    one row per match; ``return_unmatched`` appends non-matching rows
    with null lookup columns.

    ``v6`` selects ``evaluate ipv6_lookup`` (KQL ipv6_lookup plugin):
    identical join shape over the 32-nibble lowercase-hex canonical
    form (lexicographic order == numeric order), prefixes 0..128
    (≤ 129 distinct), mixed v4-notation ranges mapped at bit offset
    96 like ``ipv6_is_in_range``."""

    right: "TabularExpr"
    ip_col: Ident
    range_col: Ident
    return_unmatched: bool
    v6: bool = False


@dataclass
class SlidingWindowCountsOp(Op):
    """``evaluate sliding_window_counts(IdCol, TimelineCol, Start,
    End, LookbackWindow, Bin)`` (EXTENSION, KQL plugin): per time bin
    in [Start, End] (step Bin), the count and distinct-id count of
    rows in the trailing ``LookbackWindow`` — active-user / rolling-MAU
    style metrics.  Each row explodes to the ≤ Lookback/Bin bins it
    participates in (a bounded constant), then ONE groupBy(bin) —
    no per-bin rescans, no self-join; scales linearly in rows ×
    (Lookback/Bin).  Divergence from KQL: bins with zero rows are
    omitted (no dense bin spine)."""

    id_col: Ident
    ts_col: Ident
    start: Expr
    end: Expr
    lookback_usec: int
    bin_usec: int


@dataclass
class RollingPercentileOp(Op):
    """``evaluate rolling_percentile(ValueCol, Percentile, IndexCol,
    BinSize, BinsPerWindow)`` (EXTENSION, KQL plugin): per index bin,
    the percentile of ``ValueCol`` over the trailing ``BinsPerWindow``
    bins.  Same explode-to-bins shape as sliding_window_counts (each
    row lands in BinsPerWindow bins, one groupBy).  Divergences from
    KQL: exact interpolated percentile (matching this engine's
    ``percentiles()``), and empty bins are omitted."""

    val_col: Ident
    percentile: float
    idx_col: Ident
    bin_is_timespan: bool
    bin_size: float  # usec when timespan, else the numeric literal
    bins_per_window: int


@dataclass
class ActivityCountsMetricsOp(Op):
    """``evaluate activity_counts_metrics(IdCol, TimelineCol, Start,
    End, Bin)`` (EXTENSION, KQL plugin): per time bin in [Start, End),
    total count, distinct ids, FIRST-SEEN distinct ids (new), and the
    cumulative distinct count — the retention/new-vs-returning metric
    set.  Two parallel aggregates (per-bin counts; per-id min-bin →
    per-bin new counts) + a window running-sum over the tiny bin-level
    relation — no per-bin rescans, no id×bin blowup."""

    id_col: Ident
    ts_col: Ident
    start: Expr
    end: Expr
    bin_usec: int


@dataclass
class MakeGraphOp(Op):
    """``T | make-graph SrcCol --> DstCol [with Nodes on IdCol]``
    (EXTENSION, simplified KQL make-graph): binds the piped rows as a
    directed edge table (plus an optional node-attribute table) for a
    following ``graph-match``.  No materialization happens here — the
    graph IS the relational pair (edges, nodes); pattern matching
    compiles to joins."""

    src: Ident
    dst: Ident
    nodes: "TabularExpr | None"
    node_id: Ident | None


@dataclass
class GraphEdge(Node):
    """One ``-[e]->`` / ``<-[e]-`` step in a graph-match pattern.
    ``-[e*1..3]->`` sets (min_hops, max_hops): a bounded variable-
    length edge, expanded at compile time into a UNION of fixed-length
    chains (its attributes are not referenceable)."""

    var: str
    reverse: bool
    min_hops: int = 1
    max_hops: int = 1


@dataclass
class GraphMatchOp(Op):
    """``graph-match (a)-[e1]->(b)<-[e2]-(c) [where …] project …``
    (EXTENSION, simplified KQL graph-match): FIXED-LENGTH path
    patterns over the ``make-graph`` edge table — the lateral-movement
    / relationship query.  Compiles to N-1 hash equi-joins on node
    ids (never an iterative traversal): each edge var is one aliased
    copy of the edge relation with columns flat-named ``e.col``; node
    vars expose ``n.id`` plus broadcast-joined node attributes; a
    REPEATED node var adds an equality constraint (cycles).
    Divergence from KQL: no variable-length ``*1..n`` edges."""

    nodes: list[str]
    edges: list[GraphEdge]
    where: "Expr | None"
    project: list[ColSpec]


@dataclass
class NewActivityMetricsOp(Op):
    """``evaluate new_activity_metrics(IdCol, TimelineCol, Start, End,
    Bin)`` (EXTENSION, simplified KQL plugin): the cohort-retention
    matrix — for every (cohort bin = id's first-seen bin, activity
    bin ≥ cohort bin) pair, the distinct returning ids and the
    retention ratio vs the cohort's size.  One per-id min-bin
    aggregate, one join back on id, one groupBy(cohort, bin) — all
    hash-partitioned on id/cohort, no densification.  Divergence from
    KQL: fixed first-seen cohort definition (no activity-window
    arguments), zero-retention cells omitted."""

    id_col: Ident
    ts_col: Ident
    start: Expr
    end: Expr
    bin_usec: int


@dataclass
class FunnelSequenceOp(Op):
    """``evaluate funnel_sequence(IdCol, TimelineCol, Start, End,
    MaxWindow, Step, StateCol)`` (EXTENSION, simplified KQL plugin):
    for every occurrence of state ``Step``, the (previous state, next
    state) transition — adjacent events of the SAME id within
    ``MaxWindow``; output ``prev, next, dcount`` (distinct ids per
    transition).  One per-id lag/lead window + one groupBy — no
    self-joins."""

    id_col: Ident
    ts_col: Ident
    start: Expr
    end: Expr
    window_usec: int
    step: Expr
    state_col: Ident


@dataclass
class SessionCountOp(Op):
    """``evaluate session_count(IdCol, TimelineCol, Start, End, Bin,
    LookBackWindow)`` (EXTENSION, KQL plugin): per time bin in
    [Start, End), the number of SESSIONS — an id's activity bin starts
    a session iff the id had no activity in the preceding
    ``LookBackWindow``.  Computed on the deduplicated (id, active-bin)
    relation: one lag window per id over its active bins (far smaller
    than the fact rows) + one groupBy(bin) — no id×bin densification,
    no per-bin rescans."""

    id_col: Ident
    ts_col: Ident
    start: Expr
    end: Expr
    bin_usec: int
    lookback_usec: int


@dataclass
class ActiveUsersCountOp(Op):
    """``evaluate active_users_count(IdCol, TimelineCol, Start, End,
    Period, LookbackPeriods, MinActivePeriods)`` (EXTENSION,
    simplified KQL plugin): per period-aligned bin in [Start, End),
    the number of ENGAGED ids — ids active in at least
    ``MinActivePeriods`` DISTINCT periods among the trailing
    ``LookbackPeriods`` periods ending at the bin.  The anti-bot /
    habitual-user retention metric (one burst ≠ engagement).

    Plan shape: ONE distinct over (id, period) — far smaller than the
    fact rows — then each (id, period) explodes to the ≤ Lookback
    bins it can count toward (bounded constant), one groupBy(bin, id)
    count, one filtered groupBy(bin) — no per-bin rescans, no
    self-joins, linear in distinct activity × Lookback."""

    id_col: Ident
    ts_col: Ident
    start: Expr
    end: Expr
    period_usec: int
    lookback_periods: int
    min_periods: int


@dataclass
class ActivityEngagementOp(Op):
    """``evaluate activity_engagement(IdCol, TimelineCol, Start, End,
    InnerActivityWindow, OuterActivityWindow)`` (EXTENSION, KQL
    plugin): per inner-window bin ``t_k`` in [Start, End), the DAU/MAU
    stickiness triple — distinct ids active in ``[t_k, t_k+inner)``,
    distinct ids active in the trailing
    ``[t_k+inner−outer, t_k+inner)``, and their ratio.  Output:
    ``ts, dcount_activities_inner, dcount_activities_outer,
    activity_ratio``.

    Plan shape: each activity row explodes to the ≤ outer/inner bins
    whose OUTER window contains it (bounded constant fan-out, the
    sliding_window_counts trick) carrying an is-inner flag, then one
    groupBy(bin, id) max-flag dedup and one groupBy(bin) conditional
    count — no per-bin rescans, no self-join, linear in
    rows × (outer/inner) at any scale."""

    id_col: Ident
    ts_col: Ident
    start: Expr
    end: Expr
    inner_usec: int
    outer_usec: int


@dataclass
class FunnelCompletionOp(Op):
    """``evaluate funnel_completion(IdCol, TimelineCol, Start, End,
    StateCol, ("s1", …, "sk"), (w1, …, wm))`` (EXTENSION, simplified
    KQL funnel_sequence_completion): per (sequence step, max window),
    the distinct ids that reached step j via the greedy-earliest chain
    anchored at the id's FIRST ``s1`` event in [Start, End) — t_j is
    the earliest ``s_j`` event at-or-after t_{j-1}, and the step
    counts toward window w iff t_j − t_1 ≤ w.  Output: ``step`` (1-
    based), ``state``, ``period`` (window in µs), ``dcount``.

    Plan: k−1 keyed join+min-aggregations (one shuffle each on the id
    key — no self-join explosion, no per-window rescans), then ONE
    conditional-count aggregate over the k chain tables unioned, and a
    ``stack`` unpivot to (period, dcount) rows.  Divergence from KQL:
    greedy-earliest anchored chains (deterministic, SQL-oracle-exact)
    instead of KQL's binned Period matrix."""

    id_col: Ident
    ts_col: Ident
    start: Expr
    end: Expr
    state_col: Ident
    states: list[str]
    windows_usec: list[int]


@dataclass
class RowsNearOp(Op):
    """``evaluate rows_near(Condition, NumRows[, NumRowsAfter])``
    (EXTENSION, KQL rows_near plugin): keep rows within ``NumRows``
    BEFORE and ``NumRowsAfter`` (default = NumRows) AFTER any row
    matching ``Condition`` — the "show me context around the alert"
    SIEM operator.  Requires a serialized order (``sort`` /
    ``serialize [by K]``); compiled to ONE boolean max over a bounded
    row frame — no self-join, no row iteration; ``serialize by``
    keeps the window partitioned (one shuffle, parallel at scale)."""

    cond: Expr
    before: int
    after: int


@dataclass
class InvokeOp(Op):
    """``T | invoke f(arg1, …)`` (EXTENSION, KQL invoke): call a
    tabular-bodied let-function with the piped input bound to its
    first parameter (declared ``(*)``); remaining args substitute the
    scalar parameters (constants recommended — substitution is
    textual, like `let`)."""

    name: str
    args: list[Expr]


@dataclass
class ConsumeOp(Op):
    """``consume`` (KQL): execute for side effects/benchmarking and
    return no rows — compiled to an empty-limit of the input schema
    (the engine is lazy, so "consuming" happens when the caller acts;
    KQL's tolong=... stats arguments are not supported)."""

    pass


@dataclass
class ReduceOp(Op):
    """``reduce by Expr`` (EXTENSION, simplified KQL reduce): groups
    rows whose string value collapses to the same wildcard pattern
    (hex runs ≥8 and digit runs → ``*``) and emits
    ``Pattern, Count, Representative`` — deterministic (min value per
    pattern as the representative) instead of KQL's similarity
    clustering, so it is oracle-checkable."""

    expr: Expr


@dataclass
class SearchOp(Op):
    """``search "term"`` — keep rows where ANY column's string form
    contains the term, case-insensitively (KQL search scoped to the
    current pipeline input)."""

    term: str


@dataclass
class RenderOp(Op):
    chart: str
    props: list[tuple[str, Expr]]


# ----------------------------------------------------------------- statements


@dataclass
class TableRef(Node):
    name: str
    quoted: bool = False


@dataclass
class DatatableSource(Node):
    """EXTENSION: ``datatable (c1: long, c2: string) [1, "a", 2, "b"]``
    — inline literal table (KQL datatable; row-major flat value list).
    ``print x = expr`` compiles to an empty-schema DatatableSource with
    one row plus a ProjectOp."""

    schema: list[tuple[str, str]]  # (name, pql type name)
    values: list[Expr]


@dataclass
class ExternalDataSource(Node):
    """EXTENSION: ``externaldata (c1: long, c2: string) ["uri", …]
    with (format="csv", header="true", …)`` — read external files with
    an explicit schema (KQL externaldata).  Compiles to
    ``spark.read.format(...).schema(...).load(uris)`` — a real
    distributed scan (split planning, pushdown, pruning); the explicit
    schema skips inference's extra pass over the data.  Formats:
    any Spark DataSource (csv/json/parquet/text/orc…); options pass
    through to the reader.  DataFrame backend only."""

    schema: list[tuple[str, str]]  # (name, pql type name)
    uris: list[str]
    options: list[tuple[str, str]]


@dataclass
class RangeSource(Node):
    """EXTENSION: ``range x from 1 to 100 step 5`` — integer sequence
    source (KQL range operator; bounds inclusive).  Compiles to
    ``spark.range`` (distributed), not an in-memory array."""

    name: str
    start: Expr
    stop: Expr
    step: Expr


@dataclass
class TabularExpr(Node):
    source: "TableRef | DatatableSource | RangeSource"
    operators: list[Op]


@dataclass
class FuncDef(Node):
    """EXTENSION: a let-bound scalar function
    ``let f = (x: long, y: string) { <expr> };`` (KQL stored function,
    scalar-expression body).  Calls inline the body with arguments
    substituted — zero runtime dispatch, the inlined expression fuses
    into codegen like any other."""

    params: list[tuple[str, str | None]]  # (name, declared type or None)
    body: "Expr | None"
    # EXTENSION: tabular-bodied function (KQL "view"-style let) —
    # ``let f = (t: (*), n: long) { t | take n };`` — invoked with
    # ``T | invoke f(5)``; the piped input binds the first (tabular)
    # parameter, scalar args substitute like lets
    tab_body: "TabularExpr | None" = None


@dataclass
class LetStatement(Node):
    """``let name = scalar_expr;`` (reference semantics, pql.go:57-72)
    or EXTENSION ``let name = <tabular expr>;`` (KQL tabular let — the
    reference rejects these, README.md:72-73).  Exactly one of ``expr``
    / ``tabular`` is set."""

    name: str
    expr: Expr | None
    tabular: "TabularExpr | None" = None
    func: "FuncDef | None" = None


Statement = TabularExpr | LetStatement
