"""Randomized backend-equivalence fuzzing: generate valid PQL pipelines
from a typed template grammar and assert the DataFrame compiler and the
SQL-text backend return identical row multisets.  Catches divergences
(naming, null handling, operator semantics) no hand-written case covers.

Deterministic-output operators only (no bare take/top: row choice under
ties is engine-defined)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pql_spark import compile_pql, compile_to_sql

NUM_COLS = ["a", "b"]
STR_COLS = ["s"]


@st.composite
def num_expr(draw, depth=0):
    if depth >= 2 or draw(st.booleans()):
        return draw(
            st.one_of(
                st.sampled_from(NUM_COLS),
                st.integers(-3, 3).map(str),
            )
        )
    kind = draw(st.integers(0, 3))
    if kind == 1:
        return (
            f"iff({draw(bool_expr(2))}, {draw(num_expr(depth + 1))},"
            f" {draw(num_expr(depth + 1))})"
        )
    if kind == 2:
        fn = draw(st.sampled_from(["min_of", "max_of"]))
        return (
            f"{fn}({draw(num_expr(depth + 1))},"
            f" {draw(num_expr(depth + 1))})"
        )
    if kind == 3:
        return f"bin({draw(num_expr(depth + 1))}, 2)"
    op = draw(st.sampled_from(["+", "-", "*", "/", "%"]))
    lhs = draw(num_expr(depth + 1))
    rhs = draw(num_expr(depth + 1))
    return f"({lhs} {op} {rhs})"


@st.composite
def bool_expr(draw, depth=0):
    if depth >= 2:
        cmp = draw(st.sampled_from(["==", "!=", "<", "<=", ">", ">="]))
        return f"({draw(num_expr(2))} {cmp} {draw(num_expr(2))})"
    kind = draw(st.integers(0, 5))
    if kind == 0:
        cmp = draw(st.sampled_from(["==", "!=", "<", "<=", ">", ">="]))
        return f"({draw(num_expr(depth + 1))} {cmp} {draw(num_expr(depth + 1))})"
    if kind == 1:
        return f'(s == "{draw(st.sampled_from(["x", "y", ""]))}")'
    if kind == 2:
        return f"isnull({draw(st.sampled_from(NUM_COLS))})"
    if kind == 3:
        lhs = draw(bool_expr(depth + 1))
        rhs = draw(bool_expr(depth + 1))
        return f"({lhs} {draw(st.sampled_from(['and', 'or']))} {rhs})"
    if kind == 4:
        word = draw(
            st.sampled_from(
                ["contains", "startswith", "endswith", "has", "contains_cs"]
            )
        )
        return f'(s {word} "{draw(st.sampled_from(["x", "y", "X"]))}")'
    return f"({draw(st.sampled_from(NUM_COLS))} in (0, 1, 2))"


@st.composite
def pipeline(draw):
    segs = ["T"]
    if draw(st.booleans()):
        segs.append(f"where {draw(bool_expr())}")
    if draw(st.booleans()):
        segs.append(f"extend e = {draw(num_expr())}")
    if draw(st.booleans()):
        segs.append(f"sample 0.{draw(st.integers(1, 9))} by a")
    shape = draw(st.integers(0, 6))
    if shape == 0:
        agg = draw(
            st.sampled_from(
                [
                    "sum({c})",
                    "count_distinct({c})",
                    "count_distinctif({c}, {c} > 0)",
                    "dcountif({c}, {c} != 0)",
                    "binary_all_or({c})",
                ]
            )
        ).format(c=draw(st.sampled_from(NUM_COLS)))
        hint = draw(
            st.sampled_from(["", "hint.shufflekey = s ",
                             "hint.num_partitions = 3 "])
        )
        segs.append(f"summarize {hint}n = count(), m = {agg} by s")
    elif shape == 1:
        segs.append(f"project s, v = {draw(num_expr())}")
    elif shape == 2:
        segs.append("distinct s, a")
    elif shape == 3:
        segs.append("project-rename x = a, y = b | project-keep s, x, y"
                    " | project-reorder y")
    elif shape == 4:
        segs.append("top-hitters 3 of s")
    elif shape == 5:
        segs.append(
            "sort by a asc, b asc, s asc | serialize"
            " | extend rn = row_number(), p = prev(a) | project s, rn, p"
        )
    # shape 6: leave the row set as-is
    if draw(st.booleans()):
        segs.append("count")
    return " | ".join(segs)


@pytest.fixture(scope="module")
def fuzz_table(spark):
    rows = []
    vals = [None, -2, 0, 1, 3]
    strs = [None, "", "x", "y"]
    i = 0
    for a in vals:
        for b in vals:
            rows.append((a, b, strs[i % len(strs)]))
            i += 1
    return spark.createDataFrame(rows, "a long, b long, s string")


@settings(max_examples=40, deadline=None)
@given(q=pipeline())
def test_backends_agree(spark, fuzz_table, q):
    fuzz_table.createOrReplaceTempView("T")
    df_rows = sorted(
        (tuple(r) for r in compile_pql(q, lambda n: fuzz_table).collect()),
        key=str,
    )
    sql = compile_to_sql(q, lambda n: fuzz_table.columns)
    sql_rows = sorted(
        (tuple(r) for r in spark.sql(sql).collect()), key=str
    )
    assert df_rows == sql_rows, f"query: {q}\nsql: {sql}"
