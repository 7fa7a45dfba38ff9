"""The benchmark's workloads: which gates run, at which scale, and how
each operation's output is checked against its DuckDB oracle."""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

# A fixed cross-section of the pql_* gates: aggregation, joins, time
# series, sequence detection and pivot (an eager schema-discovery job).
PQL_MIX = [
    "pql_q1_pricing", "pql_join_inner", "pql_3way_join", "pql_make_series",
    "pql_sequence_detect", "pql_pivot",
]

# Batch gates built on the operators and pipelines layers with no PQL
# compile: n-gram near-dups (an eager prefix-filter decision) and the
# curation pipeline's QA report (minhash near-dups on Arrow workers,
# tracked persists, profiling).
DEDUP_PIPELINE = ["op_ngram_jaccard", "op_curate_qa"]


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "collect": build + collect; "plan": build + physical plan
    scale: float  # scale factor of the timed tables
    gates: tuple[str, ...] | None  # None: every fourth pql_* gate
    # resolved in set-up: the tables the gates read (None: every table)
    tables: tuple[str, ...] | None
    # nominal seconds of one timed pass: ``--seconds`` buys
    # ceil(seconds / pass_s) passes, a fixed amount of work per run, so
    # two commits are compared on the same operations
    pass_s: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload("pql_mix", "collect", 0.1, tuple(PQL_MIX), (
            "customer", "events", "lineitem", "nation", "orders", "region"),
            3.4),
        Workload("pql_plan", "plan", 0.1, None, None, 2.4),
        Workload("dedup_pipeline", "collect", 0.01, tuple(DEDUP_PIPELINE),
                 ("documents",), 5.0),
    )
}


def gate_names(w: Workload, queries: dict) -> list[str]:
    if w.gates is not None:
        return list(w.gates)
    return sorted(n for n in queries if n.startswith("pql_"))[::4]


def table_names(w: Workload) -> tuple[str, ...]:
    return w.tables if w.tables is not None else tuple(_reference().TABLES)


# ------------------------------------------------------------- oracles


class OracleError(Exception):
    """The oracle itself is unusable (DuckDB error, HUGEINT column)."""


def _reference():
    """``tools/check_oracle.py`` of the checkout: the benchmark uses its
    table list and its cell and row normalization, so both checks agree."""
    from tools import check_oracle

    return check_oracle


def normalize(cols, rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalized, rows sorted by repr."""
    return _reference()._normalize(cols, rows)


def duck_connect(sf_dir: Path):
    import duckdb

    con = duckdb.connect()
    for t in _reference().TABLES:
        p = sf_dir / f"{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle(con, sql: str, execute: bool):
    """The oracle's sorted column names and, when ``execute``, its
    normalized rows (``None`` otherwise: binding gives the columns)."""
    try:
        rel = con.sql(sql)
        cols = list(rel.columns)
        types = [str(t) for t in rel.types]
        rows = rel.fetchall() if execute else None
    except Exception as e:  # noqa: BLE001 — any DuckDB failure
        raise OracleError(f"duckdb error: {e}") from e
    # HUGEINT guard, as in tools/check_oracle.py: DuckDB widens BIGINT sums
    # to int128, which a value hash treats differently from Spark's long
    huge = [c for c, t in zip(cols, types) if "HUGEINT" in t.upper()]
    if huge:
        raise OracleError(f"oracle returns HUGEINT column(s) {huge}")
    if rows is None:
        return sorted(cols), None
    return normalize(cols, rows)


def check(expected, cols, rows) -> str | None:
    """``None`` when the output matches the oracle, else the reason."""
    exp_cols, exp_rows = expected
    if rows is None:
        got_cols = sorted(cols)
        return None if got_cols == exp_cols else (
            f"columns {got_cols} != {exp_cols}")
    got_cols, got_rows = normalize(cols, [tuple(r) for r in rows])
    if got_cols != exp_cols:
        return f"columns {got_cols} != {exp_cols}"
    if len(got_rows) != len(exp_rows):
        return f"rowcount {len(got_rows)} != {len(exp_rows)}"
    if got_rows != exp_rows:
        return "values differ"
    return None
