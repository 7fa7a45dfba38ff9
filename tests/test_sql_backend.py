"""SQL-backend equivalence: ``compile_to_sql`` + ``spark.sql`` must
produce the same rows as the DataFrame compiler for the same PQL — on
the driver contract's PQL queries and on the reference golden corpus."""

from __future__ import annotations

import pytest

from pql_spark import PqlEngine, compile_pql, compile_to_sql

from .conftest import REFERENCE_TESTDATA, SF_SMOKE
from .test_goldens import _golden_cases, _load_params

GOLDENS_DIR = REFERENCE_TESTDATA / "Goldens"

SF_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=str)


@pytest.fixture(scope="module")
def sf_views(spark, sf_catalog):
    for name in SF_TABLES:
        sf_catalog(name).createOrReplaceTempView(name)
    yield sf_catalog
    for name in SF_TABLES:
        spark.catalog.dropTempView(name)


def _entry_pql_cases():
    import __spark_entry__ as entrymod

    return sorted(entrymod.PQL_QUERIES)


@pytest.mark.skipif(not SF_SMOKE.is_dir(), reason="no testdata")
@pytest.mark.parametrize("name", _entry_pql_cases())
def test_sql_backend_matches_dataframe_backend(spark, sf_views, name):
    import __spark_entry__ as entrymod

    text = entrymod.PQL_QUERIES[name][0]
    if "| scan " in text:
        pytest.skip("scan compiles on the DataFrame backend only")
    if "evaluate pivot" in text or (
        # the annotated form (": (") has a static schema
        "evaluate bag_unpack" in text and ") : (" not in text
    ):
        pytest.skip("data-dependent schema: a bare SQL string refuses it")
    df_rows = _rows(compile_pql(text, sf_views))
    sql = compile_to_sql(text, lambda n: sf_views(n).columns)
    sql_rows = _rows(spark.sql(sql))
    assert sql_rows == df_rows


@pytest.mark.skipif(not GOLDENS_DIR.is_dir(), reason="no reference goldens")
@pytest.mark.parametrize("case", _golden_cases())
def test_sql_backend_matches_on_goldens(spark, fixture_tables, case):
    case_dir = GOLDENS_DIR / case
    text = (case_dir / "input.pql").read_text()
    params = _load_params(case_dir)
    # temp-view names cannot contain spaces; those goldens are covered by
    # the DataFrame-backend golden tests
    needed = [n for n in fixture_tables if n in text]
    if any(" " in n for n in needed):
        pytest.skip("table name not representable as a temp view")
    if "now()" in text:
        pytest.skip("wall-clock-dependent output (now())")
    for name, df in fixture_tables.items():
        if " " not in name:
            df.createOrReplaceTempView(name)
    engine = PqlEngine(spark, resolver=dict(fixture_tables))
    df_rows = _rows(engine.query(text, params=params))
    sql = compile_to_sql(
        text, lambda n: fixture_tables[n].columns, params=params
    )
    sql_rows = _rows(spark.sql(sql))
    assert sql_rows == df_rows, sql


MV_APPLY_CASES = [
    # element filter + per-record aggregate
    "T | mv-apply x = xs on (where x > 1 | summarize s = sum(x))",
    # extend + project inside the subquery
    "T | mv-apply x = xs on (extend y = x * 10 | project id, y)"
    " | summarize total = sum(y) by id | sort by id asc",
    # sort + take (earliest-two elements by value)
    "T | mv-apply x = xs on (sort by x asc | take 2)"
    " | summarize picked = sort_array(collect_list(x)) by id"
    " | sort by id asc",
    # top 1 per record
    "T | mv-apply x = xs on (top 1 by x desc) | project id, x"
    " | sort by id asc, x asc",
    # take in element order (uses the index, no sort)
    "T | mv-apply x = xs on (take 2)"
    " | summarize firsts = sort_array(collect_list(x)) by id"
    " | sort by id asc",
    # two arrays zipped to the longest
    "T | mv-apply a = xs, b = ys on (where a >= 2 or b >= 20"
    " | summarize na = count(), sb = sum(b))"
    " | project id, na, sb | sort by id asc",
    # trailing per-record sort (no take): ordering device, content
    # compared set-wise
    "T | mv-apply x = xs on (sort by x desc)"
    " | project id, x | sort by id asc, x desc",
    # bare name: the element column REPLACES the array column
    "T | mv-apply xs on (where xs > 1)"
    " | summarize big = sort_array(collect_list(xs)) by id"
    " | sort by id asc",
]


@pytest.mark.parametrize("text", MV_APPLY_CASES)
def test_mv_apply_sql_backend_equivalence(spark, text):
    """mv-apply compiles on the SQL backend (r8): record id + one
    index explode, inner ops as WHERE / computed columns / rank
    windows / GROUP BY record — must match the DataFrame compiler on
    every supported inner shape."""
    t = spark.createDataFrame(
        [
            (1, [3, 1, 2], [10, 20]),
            (2, [5], [30, 40, 50]),
            (3, [], [60]),
            (4, None, None),
        ],
        "id long, xs array<long>, ys array<long>",
    )
    t.createOrReplaceTempView("T")
    try:
        df_rows = _rows(
            PqlEngine(spark, resolver={"T": t}).query(text)
        )
        sql = compile_to_sql(text, lambda n: {"T": t.columns}[n])
        sql_rows = _rows(spark.sql(sql))
    finally:
        spark.catalog.dropTempView("T")
    assert sql_rows == df_rows, sql
    assert df_rows
