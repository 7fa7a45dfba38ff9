"""Dataset profiling: per-column statistics for corpus QA.

The validation step every large-scale data pipeline runs before (and
after) expensive transforms: row/null/distinct counts and numeric
ranges per column, computed in ONE aggregation pass so a 100 TB table
is scanned once.

Scale notes: ``approx=True`` (the default) uses HyperLogLog++
(``approx_count_distinct``) — a single mergeable sketch per column,
one map-side-combined aggregate, no shuffle amplification.
``approx=False`` switches to exact ``count(DISTINCT col)`` per
column; Spark rewrites multiple distinct aggregates with an Expand
(one replicated stream per distinct column), so the scan cost
multiplies by the column count — the right choice for oracle checks
and modest tables, the wrong one at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["profile_columns", "numeric_histogram"]

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_columns(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    approx: bool = True,
    rsd: float = 0.05,
    group_by: str | None = None,
) -> DataFrame:
    """One row per profiled column:
    ``(column string, dtype string, n long, n_null long,
    n_distinct long, min_num double, max_num double)``.

    ``n_distinct`` ignores NULLs (SQL ``count(DISTINCT col)``
    semantics); ``min_num``/``max_num`` are populated for numeric
    columns and NULL otherwise, so the schema is stable across mixed
    tables.  All statistics come from a single ``agg`` over the input
    — one scan — then a narrow explode reshapes the 1-row result into
    the per-column table.

    ``group_by``: profile per group instead of globally (the per-source
    / per-language QA view) — the single pass becomes one ``groupBy``
    with the same aggregates, output gains the group column first, and
    scale behavior is unchanged (|groups| × |cols| result rows).
    """
    names = list(cols) if cols is not None else list(df.columns)
    if group_by is not None:
        if group_by not in df.columns:
            raise ValueError(
                f"profile_columns: unknown group column {group_by!r}"
            )
        names = [c for c in names if c != group_by]
    missing = [c for c in names if c not in df.columns]
    if missing:
        raise ValueError(f"profile_columns: unknown columns {missing}")
    dtypes = {f.name: f.dataType for f in df.schema.fields}

    def _sl(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    # driver-cost note (r15, extended r16): the whole aggregate+reshape
    # is emitted as ONE SQL parse over a tracked temp view — the
    # per-column Column-API build cost ~0.4 s of py4j round trips per
    # call, and even the per-expression F.expr form paid eager per-op
    # analysis on the agg/select chain (~0.2 s on the curation QA
    # lineage).  The parsed tree is the same agg → explode → project.
    aggs = ["count(1) AS __pf_n"]
    for i, c in enumerate(names):
        col = f"`{c}`"
        aggs.append(f"sum(CAST(({col} IS NULL) AS BIGINT)) AS __pf_nn{i}")
        nd = (
            f"approx_count_distinct({col}, {float(rsd)!r}D)"
            if approx
            else f"count(DISTINCT {col})"
        )
        aggs.append(f"{nd} AS __pf_nd{i}")
        if isinstance(dtypes[c], _NUMERIC):
            aggs.append(f"CAST(min({col}) AS DOUBLE) AS __pf_mn{i}")
            aggs.append(f"CAST(max({col}) AS DOUBLE) AS __pf_mx{i}")
        else:
            aggs.append(f"CAST(NULL AS DOUBLE) AS __pf_mn{i}")
            aggs.append(f"CAST(NULL AS DOUBLE) AS __pf_mx{i}")

    entries = ", ".join(
        "named_struct("
        f"'column', {_sl(c)}, "
        f"'dtype', {_sl(dtypes[c].simpleString())}, "
        "'n', __pf_n, "
        f"'n_null', coalesce(__pf_nn{i}, 0), "
        f"'n_distinct', coalesce(__pf_nd{i}, 0), "
        f"'min_num', __pf_mn{i}, "
        f"'max_num', __pf_mx{i})"
        for i, c in enumerate(names)
    )
    from ._util import sql_over

    gq = f"`{group_by}`" if group_by is not None else None
    lead = f"{gq}, " if gq else ""
    grp = f" GROUP BY {gq}" if gq else ""
    return sql_over(
        {"src": df},
        f"SELECT {lead}__pf.* FROM ("
        f" SELECT {lead}explode(array({entries})) AS __pf FROM ("
        f"  SELECT {lead}{', '.join(aggs)} FROM {{src}}{grp}))",
    )


def numeric_histogram(
    df: DataFrame,
    col: str,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column:
    ``(bin int, lo double, hi double, n long)`` — the distribution
    check behind every quality-score / length / perplexity cutoff
    decision in a curation pipeline.

    With explicit ``lo``/``hi`` this is ONE narrow pass + one
    ``bins``-row aggregate (values outside [lo, hi) are clamped into
    the edge bins, the standard histogram-tail convention).  Without
    bounds, a first 1-row min/max aggregate is broadcast back (the
    same totals device as the other operators) — two scans total, no
    driver collect.  The top bin is closed ([.., hi]) so max lands in
    bin ``bins-1``.
    """
    if bins <= 0:
        raise ValueError("bins must be positive")
    v = f"CAST(`{col}` AS DOUBLE)"
    # ONE SQL parse over a tracked temp view (r16) — see the
    # profile_columns driver-cost note; the parsed tree matches the
    # old per-op build (project → filter → [broadcast bounds join →]
    # group → project → sort)
    if lo is not None and hi is not None:
        if not lo < hi:
            raise ValueError("need lo < hi")
        lo_s, hi_s = f"{float(lo)!r}D", f"{float(hi)!r}D"
        base = (
            f"SELECT __h_v FROM (SELECT {v} AS __h_v FROM {{src}})"
            " WHERE __h_v IS NOT NULL"
        )
    else:
        base = (
            "SELECT /*+ BROADCAST(__h_b) */ __h_v, __h_lo, __h_hi FROM"
            f" (SELECT {v} AS __h_v FROM {{src}})"
            " CROSS JOIN"
            f" (SELECT min({v}) AS __h_lo, max({v}) AS __h_hi"
            " FROM {src}) __h_b"
            " WHERE __h_v IS NOT NULL"
        )
        lo_s, hi_s = "__h_lo", "__h_hi"
    width = f"(({hi_s}) - ({lo_s})) / {float(bins)!r}D"
    raw = f"CAST(floor((__h_v - ({lo_s})) / ({width})) AS INT)"
    # degenerate single-value range: everything in bin 0
    bin_ = (
        f"CASE WHEN ({width}) > 0 "
        f"THEN least({bins - 1}, greatest(0, {raw})) ELSE 0 END"
    )
    from ._util import sql_over

    return sql_over(
        {"src": df},
        "SELECT bin, __lo + bin * __w AS lo,"
        " __lo + (bin + 1) * __w AS hi, n FROM ("
        " SELECT bin, __lo, __w, count(1) AS n FROM ("
        f"  SELECT {bin_} AS bin, {lo_s} AS __lo, {width} AS __w"
        f"  FROM ({base}))"
        " GROUP BY bin, __lo, __w)"
        " ORDER BY bin",
    )
