"""Extension pipeline operators (distinct / union / project-away /
mv-expand) — rejected by the reference parser, added here with KQL
semantics.  Each is tested on the DataFrame backend and for
DataFrame↔SQL-backend equivalence."""

from __future__ import annotations

import pytest

from pql_spark import PqlEngine, QueryError, compile_to_sql


@pytest.fixture(scope="module")
def tables(spark):
    t1 = spark.createDataFrame(
        [(1, "a", [10, 20]), (1, "a", [30]), (2, "b", []), (3, "a", None)],
        "id long, tag string, arr array<int>",
    )
    t2 = spark.createDataFrame(
        [(4, "c"), (5, "d")], "id long, extra string"
    )
    return {"T1": t1, "T2": t2}


@pytest.fixture(scope="module")
def engine(spark, tables):
    return PqlEngine(spark, resolver=tables)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=str)


def test_distinct_star(engine):
    out = engine.query("T1 | project id, tag | distinct *")
    assert sorted(map(tuple, out.collect())) == [(1, "a"), (2, "b"), (3, "a")]


def test_distinct_columns(engine):
    out = engine.query("T1 | distinct tag")
    assert sorted(r.tag for r in out.collect()) == ["a", "b"]


def test_union_null_fills_missing_columns(engine):
    out = engine.query("T1 | project id, tag | union T2")
    rows = {tuple(r) for r in out.collect()}
    assert (4, None, "c") in rows or (4, "c") not in rows
    assert out.count() == 6
    assert set(out.columns) == {"id", "tag", "extra"}


def test_union_subquery(engine):
    out = engine.query(
        "T1 | project id | union (T2 | where id == 5 | project id)"
    )
    assert sorted(r.id for r in out.collect()) == [1, 1, 2, 3, 5]


def test_union_isfuzzy_skips_missing_tables(engine):
    out = engine.query(
        "T1 | project id | union isfuzzy = true no_such_table,"
        " (T2 | where id == 5 | project id)"
    )
    assert sorted(r.id for r in out.collect()) == [1, 1, 2, 3, 5]
    # strict union still errors on the missing table
    from pql_spark.parser import QueryError

    with pytest.raises(QueryError, match="unknown table"):
        engine.query("T1 | project id | union no_such_table")
    # all branches missing → left side only
    only = engine.query(
        "T1 | project id | union isfuzzy = true nope1, nope2"
    )
    assert sorted(r.id for r in only.collect()) == [1, 1, 2, 3]


def test_extend_overwrites_in_place(engine):
    """extend with an existing name replaces the column (KQL semantics)
    instead of creating an ambiguous duplicate."""
    out = engine.query('T1 | extend tag = "x" | project id, tag')
    assert out.columns == ["id", "tag"]
    assert all(r.tag == "x" for r in out.collect())


def test_project_away(engine):
    out = engine.query("T1 | project-away arr, tag")
    assert out.columns == ["id"]


def test_project_away_unknown_errors(engine):
    with pytest.raises(QueryError, match="unknown column"):
        engine.query("T1 | project-away nope")


def test_mv_expand_in_place(engine):
    out = engine.query("T1 | mv-expand arr | project id, arr")
    assert sorted(map(tuple, out.collect())) == [(1, 10), (1, 20), (1, 30)]
    assert out.columns == ["id", "arr"]


def test_mv_expand_named(engine):
    out = engine.query("T1 | mv-expand v = arr | project id, v")
    assert sorted(map(tuple, out.collect())) == [(1, 10), (1, 20), (1, 30)]


def test_mv_expand_multi_zip(engine, spark):
    # multiple columns zip to the LONGEST array, null-padded (KQL)
    eng = PqlEngine(
        spark,
        resolver={
            "Z": spark.createDataFrame(
                [(1, [10, 20, 30], ["a"]), (2, [], None)],
                "id long, xs array<int>, ys array<string>",
            )
        },
    )
    out = eng.query("Z | mv-expand xs, ys | project id, xs, ys")
    assert sorted(map(tuple, out.collect())) == [
        (1, 10, "a"), (1, 20, None), (1, 30, None)
    ]  # id=2: all arrays empty/null → record dropped


def test_mv_apply_filter(engine):
    # filter-only subquery: union of the filtered subtables
    out = engine.query(
        "T1 | mv-apply v = arr on (where v >= 20) | project id, tag, v"
    )
    assert sorted(map(tuple, out.collect())) == [(1, "a", 20), (1, "a", 30)]


def test_mv_apply_summarize_carries_record_cols(engine):
    out = engine.query(
        "T1 | mv-apply v = arr on (summarize n = count(), s = sum(v))"
    )
    # empty/null arrays drop the record; arr (named form) is carried
    assert out.columns == ["id", "tag", "arr", "n", "s"]
    rows = sorted(((r.id, list(r.arr), r.n, r.s) for r in out.collect()))
    assert rows == [(1, [10, 20], 2, 30), (1, [30], 1, 30)]


def test_mv_apply_bare_consumes_column(engine):
    out = engine.query(
        "T1 | mv-apply arr on (summarize mx = max(arr))"
    )
    # bare form: arr holds the element in the subtable and is consumed
    assert out.columns == ["id", "tag", "mx"]
    assert sorted(map(tuple, out.collect())) == [
        (1, "a", 20),
        (1, "a", 30),
    ]


def test_mv_apply_sort_take_per_record(spark):
    eng = PqlEngine(spark, resolver={})
    out = eng.query(
        'datatable (k: string) ["a", "b"]'
        ' | extend arr = iff(k == "a", array(3, 1, 2), array(9, 7))'
        " | mv-apply x = arr on (sort by x asc | take 2)"
        " | project k, x"
    )
    assert sorted(map(tuple, out.collect())) == [
        ("a", 1),
        ("a", 2),
        ("b", 7),
        ("b", 9),
    ]


def test_mv_apply_top_and_extend(spark):
    eng = PqlEngine(spark, resolver={})
    out = eng.query(
        'datatable (k: string) ["a"]'
        " | extend arr = array(5, 1, 4)"
        " | mv-apply x = arr on (extend y = x * 10 | top 1 by y asc)"
        " | project k, x, y"
    )
    assert [tuple(r) for r in out.collect()] == [("a", 1, 10)]


def test_mv_apply_zip_pads_to_longest(spark):
    eng = PqlEngine(spark, resolver={})
    out = eng.query(
        'datatable (k: string) ["a"]'
        " | extend a1 = array(1, 2, 3), a2 = array(10, 20)"
        " | mv-apply x = a1, y = a2 on (where x > 0)"
        " | project x, y"
    )
    assert sorted(
        ((r.x, r.y) for r in out.collect()), key=str
    ) == [(1, 10), (2, 20), (3, None)]


def test_mv_apply_errors(engine):
    with pytest.raises(QueryError, match="expected 'on"):
        engine.query("T1 | mv-apply arr")
    with pytest.raises(QueryError, match="unsupported operator"):
        engine.query("T1 | mv-apply arr on (distinct arr)")
    # r8: mv-apply now compiles on the SQL backend; unsupported INNER
    # operators still error there too
    with pytest.raises(QueryError, match="unsupported operator"):
        compile_to_sql(
            "T1 | mv-apply arr on (distinct arr)", {"T1": ["arr"]}
        )


@pytest.fixture(scope="module")
def tn_engine(spark):
    t = spark.createDataFrame(
        [
            ("a", "x", 1), ("a", "x", 1), ("a", "y", 1),
            ("b", "x", 1), ("b", "z", 1),
            ("c", "z", 1),
        ],
        "g string, u string, v int",
    )
    return PqlEngine(spark, resolver={"T": t})


def test_top_nested_two_levels(tn_engine):
    out = tn_engine.query(
        "T | top-nested 2 of g by n = count(),"
        "    top-nested 1 of u by m = count()"
    )
    assert out.columns == ["g", "n", "u", "m"]
    rows = sorted(map(tuple, out.collect()))
    # level 1: a (3 rows), b (2 rows); level 2: the top user per group
    assert rows == [("a", 3, "x", 2), ("b", 2, "x", 1)]


def test_top_nested_no_count_keeps_all(tn_engine):
    out = tn_engine.query(
        "T | top-nested of g by n = count(),"
        "    top-nested 1 of u by m = count()"
    )
    rows = sorted(map(tuple, out.collect()))
    assert rows == [("a", 3, "x", 2), ("b", 2, "x", 1), ("c", 1, "z", 1)]


def test_top_nested_asc_and_ties(tn_engine):
    # asc: smallest first; b and c tie at … no — b=2, c=1; ties on u
    # within b (x=1, z=1) break by key asc → x
    out = tn_engine.query(
        "T | top-nested 2 of g by n = count() asc,"
        "    top-nested 1 of u by m = count()"
    )
    rows = sorted(map(tuple, out.collect()))
    assert rows == [("b", 2, "x", 1), ("c", 1, "z", 1)]


def test_top_nested_duplicate_name_errors(tn_engine):
    with pytest.raises(QueryError, match="duplicate output column"):
        tn_engine.query(
            "T | top-nested 2 of g by count(),"
            "    top-nested 1 of u by count()"
        )


def test_top_nested_sql_backend_equivalent(spark, tn_engine):
    # round 7: the SQL emitter covers top-nested (incl. no-count
    # levels and asc ties) — both backends must agree row-for-row
    spark.createDataFrame(
        [
            ("a", "x", 1), ("a", "x", 1), ("a", "y", 1),
            ("b", "x", 1), ("b", "z", 1),
            ("c", "z", 1),
        ],
        "g string, u string, v int",
    ).createOrReplaceTempView("T")
    for q in (
        "T | top-nested 2 of g by n = count(),"
        "    top-nested 1 of u by m = count()",
        "T | top-nested of g by n = count(),"
        "    top-nested 1 of u by m = count()",
        "T | top-nested 2 of g by n = count() asc,"
        "    top-nested 1 of u by m = count()",
    ):
        df_rows = sorted(map(tuple, tn_engine.query(q).collect()))
        sql = tn_engine.to_sql(q)
        sql_rows = sorted(map(tuple, spark.sql(sql).collect()))
        assert df_rows == sql_rows, q


def test_lookup_broadcasts_and_dedups_key(spark, engine):
    out = engine.query(
        "T1 | lookup (T2 | extend tag2 = extra) on id | sort by id asc"
    )
    # leftouter default: all left rows kept, key column appears ONCE
    assert out.columns == ["id", "tag", "arr", "extra", "tag2"]
    assert out.count() == 4
    assert all(r.extra is None for r in out.collect())  # no id overlap
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_lookup_inner_and_dup_rename(engine):
    out = engine.query(
        'T1 | extend extra = "x" | lookup kind=inner (T2) on id'
    )
    assert out.count() == 0  # no matching ids
    assert "$right.extra" in out.columns  # non-key dup renamed


def test_lookup_key_validation(engine):
    with pytest.raises(QueryError, match="not found"):
        engine.query("T1 | lookup (T2) on nosuch")


def test_parse_extracts_between_literals(spark, engine):
    t = spark.createDataFrame(
        [(1, "user=alice;age=30"), (2, "user=bob;age=41"), (3, "garbage")],
        "id long, raw string",
    )
    eng = PqlEngine(spark, resolver={"T": t})
    out = eng.query('T | parse raw with "user=" u ";age=" a')
    rows = {r.id: (r.u, r.a) for r in out.collect()}
    assert rows[1] == ("alice", "30")
    assert rows[2] == ("bob", "41")
    assert rows[3] == ("", "")  # no match ⇒ empty strings
    assert out.columns == ["id", "raw", "u", "a"]
    # SQL backend emits the same regex and result
    t.createOrReplaceTempView("T")
    sql = compile_to_sql('T | parse raw with "user=" u ";age=" a', {"T": t.columns})
    assert _rows(spark.sql(sql)) == _rows(out)


def test_parse_leading_capture_and_regex_chars(spark):
    t = spark.createDataFrame(
        [(1, "a.b|x.y")], "id long, raw string"
    )
    eng = PqlEngine(spark, resolver={"T": t})
    out = eng.query('T | parse raw with l "|" r')
    row = out.head()
    assert (row.l, row.r) == ("a.b", "x.y")


def test_search_any_column_case_insensitive(engine):
    out = engine.query('T1 | search "A"')
    assert sorted(r.id for r in out.collect()) == [1, 1, 3]  # tag 'a'
    assert engine.query('T1 | search "zzz"').count() == 0
    # numeric columns are searched through their string form
    assert engine.query('T1 | search "2"').count() >= 1


def test_serialize_row_number_prev_next(spark):
    t = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (1, 30, 3.0), (2, 5, 9.0)],
        "grp long, seq long, v double",
    )
    eng = PqlEngine(spark, resolver={"T": t})
    out = eng.query(
        "T | sort by seq asc | serialize by grp"
        " | extend rn = row_number(), pv = prev(v), nv = next(v, 1, -1.0)"
    )
    rows = {(r.grp, r.seq): (r.rn, r.pv, r.nv) for r in out.collect()}
    assert rows[(1, 10)] == (1, None, 2.0)
    assert rows[(1, 20)] == (2, 1.0, 3.0)
    assert rows[(1, 30)] == (3, 2.0, -1.0)  # next default at partition end
    assert rows[(2, 5)] == (1, None, -1.0)


def test_serialize_global_window(spark):
    t = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "k long, s string"
    )
    eng = PqlEngine(spark, resolver={"T": t})
    out = eng.query(
        "T | sort by k desc | serialize | extend rn = row_number()"
    )
    assert {(r.k, r.rn) for r in out.collect()} == {(3, 1), (2, 2), (1, 3)}


def test_serialize_requires_sort_and_serialize(engine):
    with pytest.raises(QueryError, match="preceding sort"):
        engine.query("T1 | serialize | extend rn = row_number()")
    with pytest.raises(QueryError, match="preceding 'serialize'"):
        engine.query("T1 | sort by id asc | extend rn = row_number()")


def test_string_predicate_operators(spark):
    t = spark.createDataFrame(
        [
            (1, "The Quick Brown Fox"),
            (2, "quickest runner"),
            (3, "slow"),
            (4, None),
        ],
        "id long, s string",
    )
    eng = PqlEngine(spark, resolver={"T": t})

    def ids(q):
        return sorted(r.id for r in eng.query(q).collect())

    assert ids('T | where s contains "QUICK"') == [1, 2]
    assert ids('T | where s contains_cs "Quick"') == [1]
    assert ids('T | where s startswith "the quick"') == [1]
    assert ids('T | where s startswith_cs "quick"') == [2]
    assert ids('T | where s endswith "FOX"') == [1]
    assert ids('T | where s has "quick"') == [1]  # whole term only
    assert ids('T | where s has "quickest"') == [2]
    assert ids('T | where s has_cs "Quick"') == [1]
    # precedence: word ops bind like comparisons
    assert ids('T | where s has "quick" and id < 2') == [1]


def test_sample_deterministic(engine):
    a = sorted(r.id for r in engine.query("T1 | sample 0.5 by id").collect())
    b = sorted(r.id for r in engine.query("T1 | sample 0.5 by id").collect())
    assert a == b  # same keys every run
    assert engine.query("T1 | sample 1 by id").count() == 4
    assert engine.query("T1 | sample 0 by id").count() == 0
    with pytest.raises(QueryError, match="rate"):
        engine.query("T1 | sample 1.5 by id")


def test_top_hitters(spark):
    t = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10), ("c", 1), ("b", 1)],
        "k string, v long",
    )
    eng = PqlEngine(spark, resolver={"T": t})
    out = [tuple(r) for r in eng.query("T | top-hitters 2 of k").collect()]
    assert out == [("a", 2), ("b", 2)]  # ties break by key asc
    out = [
        tuple(r) for r in eng.query("T | top-hitters 1 of k by v").collect()
    ]
    assert out == [("b", 11)]


def test_project_rename_keep_reorder(engine):
    out = engine.query(
        "T1 | project-rename ident = id | project-keep ident, tag"
        " | project-reorder tag"
    )
    assert out.columns == ["tag", "ident"]
    with pytest.raises(QueryError, match="unknown column"):
        engine.query("T1 | project-rename x = nosuch")
    with pytest.raises(QueryError, match="unknown column"):
        engine.query("T1 | project-keep nosuch")


def test_getschema(engine):
    rows = [tuple(r) for r in engine.query("T1 | getschema").collect()]
    assert rows == [
        ("id", 0, "bigint"),
        ("tag", 1, "string"),
        ("arr", 2, "array<int>"),
    ]


def test_getschema_sql_backend(spark, tables, engine):
    """typeof(first(col)) renders the same DDL strings as the
    DataFrame backend's simpleString(), including over empty input
    and mid-pipeline derived columns."""
    tables["T1"].createOrReplaceTempView("T1")
    for text in (
        "T1 | getschema",
        "T1 | where id < 0 | getschema",  # empty input keeps types
        "T1 | extend d = id * 1.5, s = strcat(tag, \"x\")"
        " | project-away arr | getschema",
    ):
        want = [tuple(r) for r in engine.query(text).collect()]
        got = [tuple(r) for r in spark.sql(engine.to_sql(text)).collect()]
        assert got == want, text
    # getschema mid-pipeline: downstream ops see the 3-column shape
    text = "T1 | getschema | where DataType == \"bigint\" | count"
    assert engine.query(text).collect()[0][0] == \
        spark.sql(engine.to_sql(text)).collect()[0][0]


def test_datatable_inline_source(spark):
    eng = PqlEngine(spark, resolver={})
    out = eng.query(
        'datatable (k: long, s: string, f: real, b: bool, t: datetime)'
        ' [1, "x", 1.5, true, "2024-01-02T03:04:05",'
        '  2, null, -0.5, false, "2024-06-07T08:09:10"]'
    )
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "string", "double", "boolean", "timestamp"
    ]
    rows = out.collect()
    assert rows[0].k == 1 and rows[0].s == "x" and rows[0].b is True
    assert rows[1].s is None and rows[1].f == -0.5
    assert rows[0].t.year == 2024
    # value count must tile the schema
    with pytest.raises(QueryError, match="multiple"):
        eng.query("datatable (k: long, s: string) [1]")
    with pytest.raises(QueryError, match="unknown datatable type"):
        eng.query("datatable (k: blob) [1]")
    # empty table parses and is empty
    assert eng.query("datatable (k: long) []").count() == 0


def test_print_statement(spark):
    eng = PqlEngine(spark, resolver={})
    row = eng.query('print x = 1 + 1, strcat("a", "b")').head()
    assert row.x == 2
    assert row['strcat("a", "b")'] == "ab"  # source-text naming
    # print pipes like any tabular expression
    assert eng.query("print v = 5 | extend d = v * 2").head().d == 10


def test_datatable_as_join_side(spark):
    eng = PqlEngine(spark, resolver={})
    out = eng.query(
        'datatable (k: long, n: long) [1, 10, 2, 20, 1, 30]'
        ' | lookup (datatable (k: long, v: string) [1, "one", 2, "two"]) on k'
        ' | summarize s = sum(n) by v | sort by v asc'
    )
    assert [tuple(r) for r in out.collect()] == [("one", 40), ("two", 20)]


def test_range_source(spark):
    eng = PqlEngine(spark, resolver={})
    assert [r.x for r in eng.query(
        "range x from 1 to 10 step 3 | sort by x asc"
    ).collect()] == [1, 4, 7, 10]
    assert [r.x for r in eng.query(
        "range x from 5 to 1 step -2 | sort by x desc"
    ).collect()] == [5, 3, 1]
    with pytest.raises(QueryError, match="non-zero"):
        eng.query("range x from 1 to 5 step 0")
    # the SQL backend reports it as a user error itself, not as an
    # analysis error of the emitted SQL
    with pytest.raises(QueryError, match="non-zero"):
        PqlEngine(spark, resolver={}).query("range x from 1 to 5 step 0")


def test_make_series_numeric_axis(spark):
    eng = PqlEngine(spark, resolver={})
    out = eng.query(
        "range x from 0 to 9 step 1"
        " | make-series n = count() default = 0,"
        "               s = sum(x) on x from 0 to 10 step 4"
    ).head()
    assert list(out.n) == [4, 4, 2]
    assert list(out.s) == [0 + 1 + 2 + 3, 4 + 5 + 6 + 7, 8 + 9]
    assert list(out.x) == [0, 4, 8]


def test_make_series_time_axis_with_gaps(spark):
    t = spark.createDataFrame(
        [("a", "2024-01-01 01:00:00", 1.0),
         ("a", "2024-01-03 05:00:00", 2.0),
         ("b", "2024-01-02 00:00:00", 9.0)],
        "k string, ts_s string, v double",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts", "v")
    eng = PqlEngine(spark, resolver={"T": t})
    out = {r.k: r for r in eng.query(
        'T | make-series total = sum(v) default = 0.0 on ts'
        ' from "2024-01-01" to "2024-01-05" step "1d" by k'
    ).collect()}
    assert list(out["a"].total) == [1.0, 0.0, 2.0, 0.0]  # gap filled
    assert list(out["b"].total) == [0.0, 9.0, 0.0, 0.0]
    assert [x.day for x in out["a"].ts] == [1, 2, 3, 4]
    # null fill when default omitted
    out2 = eng.query(
        'T | make-series m = max(v) on ts'
        ' from "2024-01-01" to "2024-01-03" step "1d" by k'
    ).collect()
    by_k = {r.k: list(r.m) for r in out2}
    assert by_k["b"] == [None, 9.0]


def test_evaluate_pivot(spark):
    t = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0), (2, "a", 5.0), (2, "a", 7.0)],
        "k long, p string, v double",
    )
    eng = PqlEngine(spark, resolver={"T": t})
    out = {
        r.k: r
        for r in eng.query(
            "T | project k, p | evaluate pivot(p)"
        ).collect()
    }
    assert out[1].a == 1 and out[1].b == 1
    assert out[2].a == 2 and out[2].b is None  # empty cell → null
    out = {
        r.k: r
        for r in eng.query("T | evaluate pivot(p, sum(v))").collect()
    }
    assert out[2].a == 12.0
    with pytest.raises(QueryError, match="unknown evaluate plugin"):
        eng.query("T | evaluate no_such_plugin(p)")
    with pytest.raises(QueryError, match="PqlEngine.query"):
        compile_to_sql("T | evaluate pivot(p)", {"T": ["k", "p", "v"]})


def test_union_withsource(engine):
    out = engine.query(
        "T1 | project id | union withsource = origin T2 | sort by id asc"
    )
    rows = {r.id: r.origin for r in out.collect()}
    assert rows[1] == "" and rows[4] == "T2"
    assert out.columns == ["id", "origin", "extra"]


def test_series_fill(spark):
    eng = PqlEngine(spark, resolver={})
    r = eng.query(
        'datatable (k: string) ["a"]'
        " | extend arr = array(null, 2, null, 5)"
        " | extend ff = series_fill_forward(arr),"
        " fc = series_fill_const(arr, 0)"
    ).head()
    assert list(r.ff) == [None, 2.0, 2.0, 5.0]  # leading null stays
    assert list(r.fc) == [0, 2, 0, 5]


def test_series_fill_linear(spark):
    eng = PqlEngine(spark, resolver={})
    r = eng.query(
        'datatable (k: string) ["a"]'
        " | extend a = series_fill_linear(array(null, 2, null, null, 8, null)),"
        " b = series_fill_linear(array(1, 4)),"
        " c = series_fill_linear(array(null, null))"
    ).head()
    # leading run -> nearest value; interior run -> linear interpolation;
    # trailing run -> nearest value
    assert list(r.a) == [2.0, 2.0, 4.0, 6.0, 8.0, 8.0]
    assert list(r.b) == [1.0, 4.0]
    assert list(r.c) == [None, None]


def test_series_functions(spark):
    eng = PqlEngine(spark, resolver={})
    r = eng.query(
        'datatable (k: string) ["a"] | extend arr = array(2, 4, 6)'
        " | extend s = series_sum(arr), a = series_avg(arr),"
        " mn = series_min(arr), mx = series_max(arr),"
        " ma = series_moving_avg(arr, 2)"
    ).head()
    assert (r.s, r.a, r.mn, r.mx) == (12.0, 4.0, 2, 6)
    assert list(r.ma) == [2.0, 3.0, 5.0]
    with pytest.raises(QueryError, match="integer literal"):
        eng.query(
            'datatable (k: string) ["a"]'
            " | extend m = series_moving_avg(array(1), k)"
        )


def test_agg_family(spark):
    t = spark.createDataFrame(
        [(1, 5.0), (1, 15.0), (2, 25.0), (2, 25.0), (3, None)],
        "u long, v double",
    )
    eng = PqlEngine(spark, resolver={"T": t})
    r = eng.query(
        "T | summarize users = dcount(u), big = countif(v > 10),"
        " big_users = dcountif(u, v > 10), s = sumif(v, v > 10),"
        " a = avgif(v, v > 10), mn = minif(v, v > 10),"
        " mx = maxif(v, v > 10)"
    ).head()
    assert (r.users, r.big, r.big_users) == (3, 3, 2)
    assert (r.s, r.mn, r.mx) == (65.0, 15.0, 25.0)
    assert abs(r.a - 65.0 / 3) < 1e-9


def test_ago_function(spark):
    t = spark.createDataFrame([(1,)], "id long")
    eng = PqlEngine(spark, resolver={"T": t})
    row = eng.query(
        'T | project d = now() - ago("2h"), z = now() - ago("0s")'
    ).head()
    assert abs(row.d.total_seconds() - 7200) < 5
    assert abs(row.z.total_seconds()) < 5
    with pytest.raises(QueryError, match="timespan literal"):
        eng.query("T | project x = ago(id)")


@pytest.mark.parametrize(
    "q",
    [
        "T1 | project id, tag | distinct *",
        "T1 | distinct tag",
        "T1 | project id, tag | union T2 | where id > 1",
        "T1 | project-away arr",
        "T1 | mv-expand arr | project id, arr",
        "T1 | mv-expand v = arr | summarize n = count() by id",
        "T1 | mv-expand a = arr, b = arr | project id, a, b",
        "T1 | lookup (T2 | extend tag2 = extra) on id",
        "T1 | lookup kind=inner (T2) on id",
        'T1 | search "a"',
        "T1 | sort by id asc, tag asc | serialize"
        " | extend rn = row_number() | project id, rn",
        "T1 | sort by id asc | serialize by tag"
        " | extend rn = row_number(), p = prev(id) | project id, tag, rn, p",
        'T1 | where tag contains "A" or tag endswith_cs "b"',
        'T1 | extend h = iff(tag has "a", 1, 0) | project id, h',
        "T1 | sample 0.7 by id | project id",
        "T1 | project id, tag | union withsource = origin T2",
        "T1 | top-hitters 2 of tag",
        "T1 | project-rename ident = id | project-keep ident, tag"
        " | project-reorder tag",
    ],
)
def test_sql_backend_equivalence(spark, tables, engine, q):
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    df_rows = _rows(engine.query(q))
    sql = compile_to_sql(q, lambda n: tables[n].columns)
    assert _rows(spark.sql(sql)) == df_rows, sql


# ---------------------------------------------------------- join flavors


@pytest.fixture(scope="module")
def join_tables(spark):
    left = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "y2"), (3, "z")], "k long, lv string"
    )
    right = spark.createDataFrame(
        [(2, "r2"), (3, "r3"), (3, "r3b"), (4, "r4")], "k long, rv string"
    )
    return {"L": left, "R": right}


@pytest.fixture(scope="module")
def join_engine(spark, join_tables):
    return PqlEngine(spark, resolver=join_tables)


def test_join_leftsemi(join_engine):
    out = join_engine.query("L | join kind=leftsemi (R) on k")
    assert out.columns == ["k", "lv"]
    assert _rows(out) == [(2, "y"), (2, "y2"), (3, "z")]


def test_join_leftanti(join_engine):
    out = join_engine.query("L | join kind=leftanti (R) on k")
    assert out.columns == ["k", "lv"]
    assert _rows(out) == [(1, "x")]


def test_join_anti_alias(join_engine):
    out = join_engine.query("L | join kind=anti (R) on k")
    assert _rows(out) == [(1, "x")]


def test_join_rightsemi(join_engine):
    out = join_engine.query("L | join kind=rightsemi (R) on k")
    assert out.columns == ["k", "rv"]
    assert _rows(out) == [(2, "r2"), (3, "r3"), (3, "r3b")]


def test_join_rightanti(join_engine):
    out = join_engine.query("L | join kind=rightanti (R) on k")
    assert _rows(out) == [(4, "r4")]


def test_join_rightouter(join_engine):
    out = join_engine.query("L | join kind=rightouter (R) on k")
    assert out.columns == ["k", "lv", "$right.k", "rv"]
    ks = sorted(r["$right.k"] for r in out.collect())
    assert ks == [2, 2, 3, 3, 4]  # k=2 matches two left rows
    assert any(r.k is None for r in out.collect())  # unmatched right row


def test_join_fullouter(join_engine):
    out = join_engine.query("L | join kind=fullouter (R) on k")
    rows = out.collect()
    # k=2: 2 left x 1 right = 2; k=3: 1 x 2 = 2; k=1 left-only = 1;
    # k=4 right-only = 1  → 6 rows
    assert len(rows) == 6
    assert any(r.k is None for r in rows)  # right-only
    assert any(r["$right.k"] is None for r in rows)  # left-only


def test_join_unknown_flavor_still_rejected(join_engine):
    with pytest.raises(QueryError, match="unsupported join flavor"):
        join_engine.query("L | join kind=bogus (R) on k")


@pytest.mark.parametrize(
    "q",
    [
        "L | join kind=leftsemi (R) on k",
        "L | join kind=leftanti (R) on k",
        "L | join kind=rightsemi (R) on k",
        "L | join kind=rightanti (R) on k",
        "L | join kind=rightouter (R) on k",
        "L | join kind=fullouter (R) on k",
        'L | join kind=leftsemi (R | where rv != "r3") on k',
    ],
)
def test_join_flavor_backend_equivalence(spark, join_tables, join_engine, q):
    for name, df in join_tables.items():
        df.createOrReplaceTempView(name)
    df_rows = _rows(join_engine.query(q))
    sql = compile_to_sql(q, lambda n: join_tables[n].columns)
    assert _rows(spark.sql(sql)) == df_rows, sql


# ------------------------------------------------- round-2 extensions


def test_tabular_let(engine, spark):
    out = engine.query(
        "let Odd = T1 | where id % 2 == 1; Odd | summarize n = count()"
    )
    assert out.head().n == 3
    # tabular let usable as a join right side
    out2 = engine.query(
        "let Dim = T2 | extend tag2 = extra;"
        "T1 | lookup (Dim) on id | project id, tag2"
    )
    assert out2.columns == ["id", "tag2"]


def test_tabular_let_datatable(engine):
    out = engine.query(
        "let D = datatable (a: long, b: string) [1, \"x\", 2, \"y\"];"
        "D | summarize s = sum(a)"
    )
    assert out.head().s == 3


def test_bag_unpack_json(spark):
    from pql_spark import PqlEngine

    df = spark.createDataFrame(
        [(1, '{"x": 1, "y": "a"}'), (2, '{"x": 2}')], "id long, bag string"
    )
    eng = PqlEngine(spark, resolver={"B": df})
    out = eng.query("B | evaluate bag_unpack(bag)")
    assert out.columns == ["id", "x", "y"]
    rows = {r.id: (r.x, r.y) for r in out.collect()}
    assert rows == {1: ("1", "a"), 2: ("2", None)}
    pre = eng.query('B | evaluate bag_unpack(bag, "p_")')
    assert pre.columns == ["id", "p_x", "p_y"]


def test_bag_unpack_map(spark):
    from pql_spark import PqlEngine

    df = spark.sql("SELECT 1 AS id, map('k1', 10, 'k2', 20) AS mp")
    eng = PqlEngine(spark, resolver={"M": df})
    out = eng.query("M | evaluate bag_unpack(mp)")
    assert out.columns == ["id", "k1", "k2"]
    assert tuple(out.head()) == (1, 10, 20)


def test_bag_unpack_schema_annotation(spark):
    # ADX output-schema form: static keys in DECLARED order, typed
    # extraction, no discovery action; missing keys → NULL of the type
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame(
        [(1, '{"x": 1, "y": "a"}'), (2, '{"x": 2}')],
        "id long, bag string",
    )
    eng = PqlEngine(spark, resolver={"B": df})
    out = eng.query(
        "B | evaluate bag_unpack(bag) : (y: string, x: long)"
    )
    assert out.columns == ["id", "y", "x"]
    assert dict(out.dtypes)["x"] == "bigint"
    rows = {r.id: (r.y, r.x) for r in out.collect()}
    assert rows == {1: ("a", 1), 2: (None, 2)}
    # map bags take the annotation too (element_at + cast)
    mp = spark.sql("SELECT 1 AS id, map('k1', 10) AS mp")
    eng2 = PqlEngine(spark, resolver={"M": mp})
    out2 = eng2.query(
        'M | evaluate bag_unpack(mp, "p_") : (k1: real, k2: real)'
    )
    assert out2.columns == ["id", "p_k1", "p_k2"]
    assert tuple(out2.head()) == (1, 10.0, None)
    with pytest.raises(QueryError, match="unknown type"):
        eng.query("B | evaluate bag_unpack(bag) : (x: widget)")


def test_pivot_schema_annotation(spark):
    # annotated pivot: declared order (not sorted), typed cells,
    # static schema, no values-discovery job; both backends agree
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame(
        [
            ("a", "x", 1), ("a", "y", 2), ("a", "x", 3),
            ("b", "y", 4), ("b", "z", 5),
        ],
        "g string, p string, v long",
    )
    eng = PqlEngine(spark, resolver={"PVT": df})
    q = (
        "PVT | evaluate pivot(p, sum(v))"
        " : (g: string, y: long, x: long)"
        " | sort by g asc"
    )
    out = eng.query(q)
    # declared order y before x; z not declared -> dropped
    assert out.columns == ["g", "y", "x"]
    rows = [tuple(r) for r in out.collect()]
    assert rows == [("a", 2, 4), ("b", 4, None)]
    df.createOrReplaceTempView("PVT")
    assert [tuple(r) for r in spark.sql(eng.to_sql(q)).collect()] == rows
    # default count() aggregate + real-typed cells (v projected away:
    # with count() it would otherwise stay a group key)
    q2 = (
        "PVT | project g, p"
        " | evaluate pivot(p) : (g: string, x: real, y: real)"
        " | sort by g asc"
    )
    r2 = [tuple(r) for r in eng.query(q2).collect()]
    assert r2 == [("a", 2.0, 1.0), ("b", None, 1.0)]
    assert [tuple(r) for r in spark.sql(eng.to_sql(q2)).collect()] == r2
    with pytest.raises(QueryError, match="no pivot-value columns"):
        eng.query("PVT | evaluate pivot(p) : (g: string, v: long)")


def test_bag_unpack_schema_sql_backend(spark):
    # the annotation makes bag_unpack SQL-emittable: both backends
    # must agree on a JSON-string bag
    from pql_spark import PqlEngine

    df = spark.createDataFrame(
        [(1, '{"x": 1, "y": "a"}'), (2, '{"x": 2}'), (3, None)],
        "id long, bag string",
    )
    eng = PqlEngine(spark, resolver={"B": df})
    q = (
        "B | evaluate bag_unpack(bag) : (x: long, y: string)"
        " | sort by id asc"
    )
    df_rows = [tuple(r) for r in eng.query(q).collect()]
    df.createOrReplaceTempView("B")
    sql = eng.to_sql(q)
    sql_rows = [tuple(r) for r in spark.sql(sql).collect()]
    assert df_rows == sql_rows == [(1, 1, "a"), (2, 2, None), (3, None, None)]


def test_bag_unpack_non_ascii_key_keeps_per_key_path(spark):
    # json_tuple matches field names literally while get_json_object
    # reads '$.{key}' as a path; the one-parse json_tuple fast path is
    # only provably equal for ASCII identifier keys
    from pql_spark import PqlEngine

    df = spark.createDataFrame(
        [(1, '{"x": 1, "é1": 2}')], "id long, bag string"
    )
    eng = PqlEngine(spark, resolver={"B": df})
    ascii_q = "B | evaluate bag_unpack(bag) : (x: long)"
    uni_q = "B | evaluate bag_unpack(bag) : (x: long, é1: long)"
    assert "json_tuple" in eng.to_sql(ascii_q)
    assert "json_tuple" not in eng.to_sql(uni_q)
    assert [tuple(r) for r in eng.query(uni_q).collect()] == [(1, 1, 2)]


def test_partition_top(spark):
    from pql_spark import PqlEngine

    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("a", 2), ("b", 9), ("b", 8)], "g string, v long"
    )
    eng = PqlEngine(spark, resolver={"P": df})
    out = eng.query("P | partition by g ( top 1 by v )")
    assert sorted(map(tuple, out.collect())) == [("a", 3), ("b", 9)]
    out2 = eng.query(
        "P | partition by g ( where v > 1 | summarize n = count() )"
    )
    assert sorted(map(tuple, out2.collect())) == [("a", 2), ("b", 2)]


def test_partition_take_requires_sort(spark):
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame([("a", 1)], "g string, v long")
    eng = PqlEngine(spark, resolver={"P": df})
    with pytest.raises(QueryError, match="needs a preceding sort"):
        eng.query("P | partition by g ( take 2 )")


def test_externaldata_csv(spark, tmp_path):
    from pql_spark import PqlEngine, QueryError, compile_to_sql

    p = tmp_path / "t.csv"
    p.write_text("id,name,v\n1,alpha,1.5\n2,beta,2.5\n")
    eng = PqlEngine(spark, resolver={})
    q = (
        f'externaldata (id: long, name: string, v: real) ["{p}"]'
        ' with (format="csv", header="true")'
        " | where v > 2 | project id, name"
    )
    assert [tuple(r) for r in eng.query(q).collect()] == [(2, "beta")]
    # a standalone SQL string still can't carry reader options — only
    # the engine's transient-view device can (r12)
    with pytest.raises(QueryError, match="transient reader-backed"):
        compile_to_sql(q, {})


def test_externaldata_parquet_sql_backend(spark, tmp_path):
    """Self-describing formats compile to inline path scans on the SQL
    backend (``FROM parquet.`uri```), bit-equal to the DataFrame
    backend; one UNION ALL branch per uri."""
    from pql_spark import PqlEngine, compile_to_sql

    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5)], "id long, name string, v double"
    ).coalesce(1).write.parquet(a)
    spark.createDataFrame(
        [(3, "gamma", 3.5)], "id long, name string, v double"
    ).coalesce(1).write.parquet(b)
    eng = PqlEngine(spark, resolver={})
    q = (
        f'externaldata (id: long, name: string, v: real) ["{a}", "{b}"]'
        ' with (format="parquet")'
        " | where v > 2 | project id, name | sort by id asc"
    )
    df_rows = [tuple(r) for r in eng.query(q).collect()]
    assert df_rows == [(2, "beta"), (3, "gamma")]
    sql = compile_to_sql(q, {})
    assert "parquet.`" in sql
    assert [tuple(r) for r in spark.sql(sql).collect()] == df_rows


def test_externaldata_json_multi_uri(spark, tmp_path):
    from pql_spark import PqlEngine

    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text('{"id": 1}\n')
    b.write_text('{"id": 2}\n')
    eng = PqlEngine(spark, resolver={})
    q = f'externaldata (id: long) ["{a}", "{b}"] with (format="json") | sort by id asc'
    assert [r.id for r in eng.query(q).collect()] == [1, 2]


def test_row_cumsum_and_ranks(spark):
    from pql_spark import PqlEngine

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("b", 5)], "g string, v long"
    )
    eng = PqlEngine(spark, resolver={"W": df})
    out = eng.query(
        "W | sort by v asc | serialize by g"
        " | extend cs = row_cumsum(v), rd = row_rank_dense(v),"
        "          rm = row_rank_min(v)"
        " | project g, v, cs, rd, rm"
    )
    rows = sorted(map(tuple, out.collect()))
    assert rows == [
        ("a", 1, 1, 1, 1), ("a", 2, 3, 2, 2), ("a", 2, 5, 2, 2),
        ("b", 5, 5, 1, 1),
    ]


def test_scan_funnel(spark):
    from pql_spark import PqlEngine

    df = spark.createDataFrame(
        [
            (1, 1, "view"), (1, 2, "view"), (1, 3, "click"), (1, 4, "buy"),
            (1, 5, "click"), (1, 6, "buy"),
            (2, 1, "click"), (2, 2, "buy"),  # no view → no match
        ],
        "uid long, t long, e string",
    )
    eng = PqlEngine(spark, resolver={"E": df})
    out = eng.query(
        """E | scan by uid order by t asc with (
             step v: e == "view"; step c: e == "click"; step b: e == "buy")
           | project uid, match_id, step, t"""
    )
    rows = sorted(map(tuple, out.collect()))
    # one complete match for uid 1: view@1, click@3, buy@4 (greedy,
    # restart after completion → second view@2 is ignored mid-match)
    assert rows == [(1, 0, "b", 4), (1, 0, "c", 3), (1, 0, "v", 1)]


def test_scan_multiple_matches_and_order(spark):
    from pql_spark import PqlEngine

    df = spark.createDataFrame(
        [(1, i, e) for i, e in enumerate(["a", "b", "a", "x", "b", "a"])],
        "uid long, t long, e string",
    )
    eng = PqlEngine(spark, resolver={"E": df})
    out = eng.query(
        'E | scan by uid order by t asc with (step s1: e == "a";'
        ' step s2: e == "b") | project match_id, step, t'
    )
    rows = sorted(map(tuple, out.collect()))
    assert rows == [(0, "s1", 0), (0, "s2", 1), (1, "s1", 2), (1, "s2", 4)]


def test_scan_requires_order(spark):
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame([(1, 1, "a")], "uid long, t long, e string")
    eng = PqlEngine(spark, resolver={"E": df})
    with pytest.raises(QueryError, match="order by"):
        eng.query('E | scan by uid with (step s: e == "a")')
    # preceding sort supplies the order
    out = eng.query(
        'E | sort by t asc | scan by uid with (step s: e == "a")'
    )
    assert out.count() == 1


def test_join_strategy_hints(spark):
    from pql_spark import PqlEngine, QueryError, compile_to_sql

    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
    right = spark.range(0, 10).selectExpr("id AS k", "id AS w")
    eng = PqlEngine(spark, resolver={"L": left, "R": right})
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = eng.query(
            "L | join kind=inner hint.strategy=broadcast (R) on k | count"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        df2 = eng.query(
            "L | join kind=inner hint.strategy=shuffle_merge (R) on k"
            " | count"
        )
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan2
        assert df.head()["count()"] == df2.head()["count()"] == 10
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    with pytest.raises(QueryError, match="unsupported join strategy"):
        eng.query("L | join hint.strategy=nested (R) on k")
    # SQL backend carries the hint too
    sql = compile_to_sql(
        "L | join kind=inner hint.strategy=broadcast (R) on k",
        {"L": ["k", "v"], "R": ["k", "w"]},
    )
    assert "/*+ BROADCAST" in sql


def test_sample_distinct(spark):
    from pql_spark import PqlEngine, compile_to_sql

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "id long, g long"
    )
    eng = PqlEngine(spark, resolver={"S": df})
    out = eng.query("S | sample-distinct 3 of g | summarize u = dcount(g)")
    assert out.head().u == 3
    # deterministic: same values every run
    a = sorted(
        r.g for r in eng.query("S | sample-distinct 3 of g | distinct g")
        .collect()
    )
    b = sorted(
        r.g for r in eng.query("S | sample-distinct 3 of g | distinct g")
        .collect()
    )
    assert a == b and len(a) == 3
    df.createOrReplaceTempView("S")
    sql = compile_to_sql(
        "S | sample-distinct 3 of g | distinct g", {"S": ["id", "g"]}
    )
    c = sorted(r.g for r in spark.sql(sql).collect())
    assert c == a


def test_toscalar(spark):
    from pql_spark import PqlEngine, compile_to_sql

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    eng = PqlEngine(spark, resolver={"T": df})
    out = eng.query(
        "T | where v > toscalar(T | summarize avg(v)) | project id"
    )
    assert [r.id for r in out.collect()] == [3]
    # let-bound scalar subquery
    out2 = eng.query(
        "let m = toscalar(T | summarize max(v)); T | where v == m | count"
    )
    assert out2.head()["count()"] == 1
    df.createOrReplaceTempView("T")
    sql = compile_to_sql(
        "T | where v > toscalar(T | summarize avg(v)) | project id",
        {"T": ["id", "v"]},
    )
    assert [r.id for r in spark.sql(sql).collect()] == [3]


def test_let_functions(spark):
    from pql_spark import PqlEngine, QueryError, compile_to_sql

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    eng = PqlEngine(spark, resolver={"T": df})
    q = (
        "let dbl = (x: long) { x * 2 };"
        'let label = (x: long, s: string)'
        ' { strcat(s, "-", tostring(dbl(x))) };'
        "T | extend y = dbl(id), lab = label(id, s) | project id, y, lab"
    )
    rows = sorted(map(tuple, eng.query(q).collect()))
    assert rows == [(1, 2, "a-2"), (2, 4, "b-4")]
    df.createOrReplaceTempView("T")
    rows2 = sorted(
        map(tuple, spark.sql(
            compile_to_sql(q, {"T": ["id", "s"]})
        ).collect())
    )
    assert rows2 == rows
    with pytest.raises(QueryError, match="argument"):
        eng.query("let f = (x: long) { x }; T | extend y = f(id, id)")
    with pytest.raises(QueryError, match="recursive"):
        eng.query("let f = (x: long) { f(x) }; T | extend y = f(id)")


# ------------------------------------------------------- round-3 guardrails


def test_dcount_accuracy_validated(spark):
    from pql_spark import PqlEngine, QueryError, compile_to_sql

    df = spark.createDataFrame([(1,)], "v long")
    eng = PqlEngine(spark, resolver={"T": df})
    with pytest.raises(QueryError, match="accuracy must be.*0..4"):
        eng.query("T | summarize d = dcount(v, 7)")
    with pytest.raises(QueryError, match="accuracy must be.*0..4"):
        eng.query("T | summarize h = hll(v, 9)")
    with pytest.raises(QueryError, match="accuracy must be.*0..4"):
        compile_to_sql("T | summarize d = dcount(v, 7)", {"T": ["v"]})
    with pytest.raises(QueryError, match="accuracy must be.*0..4"):
        compile_to_sql("T | summarize h = hll(v, 9)", {"T": ["v"]})


def test_partition_trailing_sort_rejected(spark):
    from pql_spark import PqlEngine, QueryError, compile_to_sql

    df = spark.createDataFrame([("a", 1)], "g string, v long")
    eng = PqlEngine(spark, resolver={"P": df})
    with pytest.raises(QueryError, match="followed by take/top"):
        eng.query("P | partition by g ( sort by v asc )")
    with pytest.raises(QueryError, match="followed by take/top"):
        compile_to_sql(
            "P | partition by g ( where v > 0 | sort by v asc )",
            {"P": ["g", "v"]},
        )
    # sort + take inside partition still works
    out = eng.query("P | partition by g ( sort by v asc | take 1 )")
    assert out.count() == 1


def test_scan_order_column_validated(spark):
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame([(1, 1, "a")], "uid long, t long, e string")
    eng = PqlEngine(spark, resolver={"E": df})
    with pytest.raises(QueryError, match="unknown column 'nope'"):
        eng.query(
            'E | scan by uid order by nope asc with (step s: e == "a")'
        )


def test_scan_output_collision_rejected(spark):
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame(
        [(1, 1, "a", 0)], "uid long, t long, e string, match_id long"
    )
    eng = PqlEngine(spark, resolver={"E": df})
    with pytest.raises(QueryError, match="match_id"):
        eng.query('E | scan by uid order by t asc with (step s: e == "a")')


def test_scan_without_by_warns(spark):
    from pql_spark import PqlEngine

    df = spark.createDataFrame([(1, "a")], "t long, e string")
    eng = PqlEngine(spark, resolver={"E": df})
    with pytest.warns(UserWarning, match="single task"):
        out = eng.query(
            'E | scan order by t asc with (step s: e == "a")'
        )
    assert out.count() == 1


def test_mv_expand_multi_map_rejected(spark):
    from pql_spark import PqlEngine, QueryError

    df = spark.sql(
        "SELECT 1 AS id, map('a', 1) AS mp, array(1, 2) AS ar"
    )
    eng = PqlEngine(spark, resolver={"M": df})
    with pytest.raises(QueryError, match="requires array"):
        eng.query("M | mv-expand mp, ar")
    # single-column map expansion still supported
    assert eng.query("M | mv-expand mp").count() == 1
    # mv-apply rejects maps too (same positional-index hazard)
    with pytest.raises(QueryError, match="requires array"):
        eng.query("M | mv-apply v = mp on (where v > 0)")


def test_bag_unpack_key_cap(spark, monkeypatch):
    import pql_spark.sql_backend as sb
    from pql_spark import PqlEngine, QueryError

    monkeypatch.setattr(sb, "BAG_UNPACK_MAX_KEYS", 3)
    rows = [(i, '{"k%d": 1}' % i) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, bag string")
    eng = PqlEngine(spark, resolver={"B": df})
    with pytest.raises(QueryError, match="more than 3 distinct keys"):
        eng.query("B | evaluate bag_unpack(bag)")


def test_toscalar_memoized(spark, monkeypatch):
    from pyspark.sql import DataFrame

    from pql_spark import PqlEngine, compile_pql

    df = spark.createDataFrame([(1, 5), (2, 9)], "id long, v long")
    cls = type(df)
    calls = {"n": 0}
    orig = cls.head

    def counted(self, *a, **k):
        if not a and not k:  # head() recurses into head(1) internally
            calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "head", counted)
    # the memo lives in the DataFrame compiler (the SQL backend emits
    # a lazy scalar subquery instead — no driver action at all), so
    # compile with compile_pql for the call-count assertion
    q = (
        "let m = toscalar(T | summarize max(v));"
        " T | where v == m | extend hi = m | project id, hi"
    )
    out = compile_pql(q, {"T": df}.__getitem__)
    # the let is referenced twice but the subquery ran once
    assert calls["n"] == 1
    assert [tuple(r) for r in out.collect()] == [(2, 9)]
    # and the SQL path's scalar-subquery form agrees without any
    # compile-time driver action
    calls["n"] = 0
    out_sql = PqlEngine(spark, resolver={"T": df}).query(q)
    assert calls["n"] == 0
    assert [tuple(r) for r in out_sql.collect()] == [(2, 9)]


def test_mv_expand_single_map_entries(spark):
    from pql_spark import PqlEngine

    df = spark.sql("SELECT 1 AS id, map('a', 1, 'b', 2) AS mp")
    eng = PqlEngine(spark, resolver={"M": df})
    out = eng.query("M | mv-expand mp")
    rows = sorted(((r.id, dict(r.mp)) for r in out.collect()), key=repr)
    assert rows == [(1, {"a": 1}), (1, {"b": 2})]
    # named form appends a new single-entry-bag column
    out2 = eng.query("M | mv-expand e = mp | extend v = e['b']")
    vals = sorted(r.v for r in out2.collect() if r.v is not None)
    assert vals == [2]


# ------------------------------------------------------------ facet / fork


@pytest.fixture(scope="module")
def _ff_df(spark):
    return spark.createDataFrame(
        [
            (1, "a", "x", 10.0),
            (2, "a", "y", 20.0),
            (3, "b", "x", 30.0),
            (4, "b", "x", None),
            (5, None, "y", 50.0),
        ],
        "id long, kind string, grp string, v double",
    )


def test_facet_outputs_match_summarize(spark, _ff_df):
    from pql_spark import MultiResult, PqlEngine

    eng = PqlEngine(spark, resolver={"T": _ff_df})
    res = eng.query("T | facet by kind, grp")
    assert isinstance(res, MultiResult)
    assert list(res) == ["kind", "grp"]
    for col in ("kind", "grp"):
        want = sorted(
            map(tuple, eng.query(
                f"T | summarize count_ = count() by {col}"
            ).collect()),
            key=repr,
        )
        got = sorted(map(tuple, res[col].collect()), key=repr)
        assert got == want, col


def test_facet_with_pipe_is_main(spark, _ff_df):
    from pql_spark import PqlEngine

    eng = PqlEngine(spark, resolver={"T": _ff_df})
    res = eng.query(
        "T | facet by kind with ( where v > 15 | summarize n = count() )"
    )
    assert list(res) == ["main", "kind"]
    assert res["main"].collect()[0].n == 3


def test_fork_branches(spark, _ff_df):
    from pql_spark import PqlEngine

    eng = PqlEngine(spark, resolver={"T": _ff_df})
    res = eng.query(
        "T | fork big = ( where v >= 20 | count )"
        " ( summarize m = max(v) by grp | sort by grp asc )"
    )
    assert list(res) == ["big", "fork_1"]
    assert res["big"].collect()[0]["count()"] == 3
    assert [tuple(r) for r in res["fork_1"].collect()] == [
        ("x", 30.0), ("y", 50.0)
    ]


def test_facet_fork_sql_backend_equivalence(spark, _ff_df):
    from pql_spark import PqlEngine

    eng = PqlEngine(spark, resolver={"T": _ff_df})
    _ff_df.createOrReplaceTempView("T")
    for q in (
        "T | facet by kind, grp with ( summarize m = avg(v) by kind )",
        "T | fork a = ( where v > 10 | project id, v ) ( count )",
    ):
        res = eng.query(q)
        sqls = eng.to_sql_multi(q)
        assert list(sqls) == list(res)
        for name in res:
            a = sorted(map(tuple, res[name].collect()), key=repr)
            b = sorted(map(tuple, spark.sql(sqls[name]).collect()), key=repr)
            assert a == b, (q, name)


def test_facet_fork_errors(spark, _ff_df):
    from pql_spark import PqlEngine, QueryError

    eng = PqlEngine(spark, resolver={"T": _ff_df})
    with pytest.raises(QueryError, match="final operator"):
        eng.query("T | facet by kind | count")
    with pytest.raises(QueryError, match="top level"):
        eng.query("T | join kind=inner (T | fork a = ( count )) on id")
    with pytest.raises(QueryError, match="unknown column"):
        eng.query("T | facet by nope")
    with pytest.raises(QueryError, match="duplicate branch"):
        eng.query("T | fork a = ( count ) a = ( count )")
    with pytest.raises(QueryError, match="at least one"):
        eng.query("T | fork")


# ---------------------------------------- union kinds / itemindex / series


def test_union_kinds(spark, _ff_df):
    from pql_spark import PqlEngine

    eng = PqlEngine(spark, resolver={"T": _ff_df})
    inner = eng.query("T | union kind=inner (T | project id, extra = 1)")
    assert inner.columns == ["id"]
    assert inner.count() == 10
    outer = eng.query("T | union kind=outer (T | project id, extra = 1)")
    assert outer.columns == ["id", "kind", "grp", "v", "extra"]
    ws = eng.query(
        "T | project id | union kind=inner withsource=src"
        " (T | project id, extra = 1)"
    )
    assert ws.columns == ["id", "src"]
    with pytest.raises(Exception, match="no common columns"):
        eng.query("T | project v | union kind=inner (T | project id)")


def test_mv_expand_with_itemindex(spark, _ff_df):
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame(
        [(1, [10.0, 20.0], ["a", "b", "c"])],
        "id long, xs array<double>, ys array<string>",
    )
    eng = PqlEngine(spark, resolver={"T": df})
    one = eng.query("T | mv-expand with_itemindex = i xs | project id, i, xs")
    assert [tuple(r) for r in one.collect()] == [(1, 0, 10.0), (1, 1, 20.0)]
    zipped = eng.query(
        "T | mv-expand with_itemindex = i xs, ys | project i, xs, ys"
    )
    assert [tuple(r) for r in zipped.collect()] == [
        (0, 10.0, "a"), (1, 20.0, "b"), (2, None, "c")
    ]
    with pytest.raises(QueryError, match="already exists"):
        eng.query("T | mv-expand with_itemindex = id xs")


def test_new_functions_backend_equivalence(spark):
    from pql_spark import PqlEngine

    df = spark.createDataFrame(
        [(1, [3.0, 7.0, 1.0, 9.0]), (2, [5.0, 5.0, 5.0, 5.0])],
        "k long, s array<double>",
    )
    df.createOrReplaceTempView("NEQ_T")
    eng = PqlEngine(spark, resolver={"NEQ_T": df})
    for q in (
        "NEQ_T | project a = binary_and(12, 10), o = binary_or(12, 10),"
        " x = binary_xor(12, 10), n = binary_not(0),"
        " sl = binary_shift_left(3, 4), sr = binary_shift_right(-16, 2)",
        "NEQ_T | extend d = series_stats(s) | project k, mn = d.min,"
        " mi = d.min_idx, mx = d.max, xi = d.max_idx,"
        " av = round(d.avg, 6), sd = round(d.stdev, 6)",
        "NEQ_T | extend d = series_fit_line(s)"
        " | mv-expand lf = d.line_fit"
        " | project k, sl = round(d.slope, 6), rs = round(d.rsquare, 6),"
        " lf = round(lf, 6)",
        "NEQ_T | mv-expand with_itemindex = i v = s | project k, i, v",
    ):
        a = sorted(map(tuple, eng.query(q).collect()), key=repr)
        b = sorted(map(tuple, spark.sql(eng.to_sql(q)).collect()), key=repr)
        assert a == b, q


def test_series_fit_line_numpy_reference(spark):
    import numpy as np

    from pql_spark import PqlEngine

    vals = [float((i * 13) % 7 + 0.3 * i) for i in range(20)]
    df = spark.createDataFrame([(1, vals)], "k long, s array<double>")
    eng = PqlEngine(spark, resolver={"T": df})
    d = eng.query(
        "T | extend d = series_fit_line(s) | project k, d"
    ).collect()[0].d
    a = np.array(vals)
    x = np.arange(len(a))
    slope, inter = np.polyfit(x, a, 1)
    fit = inter + slope * x
    var = a.var(ddof=1)
    rvar = ((a - fit) ** 2).sum() / (len(a) - 1)
    assert abs(d.slope - slope) < 1e-9
    assert abs(d.interception - inter) < 1e-9
    assert abs(d.variance - var) < 1e-9
    assert abs(d.rvariance - rvar) < 1e-9
    assert abs(d.rsquare - (1 - rvar / var)) < 1e-9
    assert np.allclose(d.line_fit, fit, atol=1e-9)


def test_materialize_let(spark, _ff_df):
    """``materialize`` means the same on both compile paths: a plain
    tabular let, nothing cached.  Its rows from the DataFrame compiler
    equal the SQL path's, and neither plan reads an
    ``InMemoryRelation``."""
    from pql_spark import PqlEngine, compile_pql

    q = (
        "let m = materialize(T | where v >= 20);"
        " m | join kind=inner (m) on id | project id, v | sort by id asc"
    )
    eng = PqlEngine(spark, resolver={"T": _ff_df})
    via_sql = eng.query(q)
    via_df = compile_pql(q, {"T": _ff_df}.__getitem__)
    rows = via_sql.collect()
    assert [(r.id, r.v) for r in rows] == [(2, 20.0), (3, 30.0), (5, 50.0)]
    assert via_df.collect() == rows
    for df in (via_sql, via_df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan, plan


def test_evaluate_narrow(spark):
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame(
        [(2, "b", None), (1, "a", 5.0)], "id long, s string, v double"
    )
    df.createOrReplaceTempView("NARROW_T")
    eng = PqlEngine(spark, resolver={"NARROW_T": df})
    q = "NARROW_T | sort by id asc | evaluate narrow()"
    rows = [tuple(r) for r in eng.query(q).collect()]
    assert rows == [
        (0, "id", "1"), (0, "s", "a"), (0, "v", "5.0"),
        (1, "id", "2"), (1, "s", "b"), (1, "v", None),
    ]
    sql_rows = [tuple(r) for r in spark.sql(eng.to_sql(q)).collect()]
    assert sorted(rows, key=repr) == sorted(sql_rows, key=repr)
    with pytest.raises(QueryError, match="preceding sort"):
        eng.query("NARROW_T | evaluate narrow()")


def test_parse_kind_regex(spark):
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame(
        [(1, "GET /api/users/42?q=1 HTTP/1.1"), (2, "POST /login HTTP/2")],
        "id long, line string",
    )
    df.createOrReplaceTempView("PR_T")
    eng = PqlEngine(spark, resolver={"PR_T": df})
    q = (
        'PR_T | parse kind=regex line with "^[A-Z]+\\\\s+" path'
        ' "\\\\s+HTTP/" ver "$" | project id, path, ver'
    )
    a = [tuple(r) for r in eng.query(q).collect()]
    assert a == [(1, "/api/users/42?q=1", "1.1"), (2, "/login", "2")]
    assert a == [tuple(r) for r in spark.sql(eng.to_sql(q)).collect()]
    with pytest.raises(QueryError, match="simple or regex"):
        eng.query('PR_T | parse kind=bogus line with "x" y')


def test_top_nested_with_others(spark):
    from pql_spark import PqlEngine

    rows = [("a", "x", 10), ("a", "y", 5), ("a", "z", 1), ("b", "x", 8),
            ("c", "q", 3), ("c", "r", 2), ("d", "s", 1)]
    df = spark.createDataFrame(rows, "cat string, sub string, v long")
    eng = PqlEngine(spark, resolver={"TN_T": df})
    q = (
        'TN_T | top-nested 2 of cat with others = "OTHER" by s1 = sum(v),'
        ' top-nested 1 of sub with others = "rest" by s2 = sum(v)'
    )
    out = set(map(tuple, eng.query(q).collect()))
    # top-2 cats a(16), b(8); OTHER = c(5)+d(1) = 6; within each parent
    # the top sub plus a "rest" bucket (absent when nothing remains)
    assert out == {
        ("a", 16, "x", 10), ("a", 16, "rest", 6),
        ("b", 8, "x", 8),
        ("OTHER", 6, "q", 3), ("OTHER", 6, "rest", 3),
    }
    # mixing an others level with a plain level
    q2 = (
        'TN_T | top-nested 2 of cat with others = "OTHER" by s1 = sum(v),'
        " top-nested 1 of sub by s2 = sum(v)"
    )
    out2 = set(map(tuple, eng.query(q2).collect()))
    assert out2 == {
        ("a", 16, "x", 10), ("b", 8, "x", 8), ("OTHER", 6, "q", 3),
    }
    # without others: unchanged original flow
    q3 = (
        "TN_T | top-nested 2 of cat by s1 = sum(v),"
        " top-nested 1 of sub by s2 = sum(v)"
    )
    out3 = set(map(tuple, eng.query(q3).collect()))
    assert out3 == {("a", 16, "x", 10), ("b", 8, "x", 8)}
    # SQL backend: all three forms agree with the DataFrame results
    df.createOrReplaceTempView("TN_T")
    for q_, want in ((q, out), (q2, out2), (q3, out3)):
        got = set(map(tuple, spark.sql(eng.to_sql(q_)).collect()))
        assert got == want, q_


def test_project_away_keep_wildcards(spark):
    from pql_spark import PqlEngine, QueryError

    df = spark.createDataFrame(
        [(1, 2, 3, "x")], "id long, tmp_a long, tmp_b long, name string"
    )
    df.createOrReplaceTempView("WC_T")
    eng = PqlEngine(spark, resolver={"WC_T": df})
    for q, want in [
        ("WC_T | project-away tmp*", ["id", "name"]),
        ("WC_T | project-keep *_a, id", ["id", "tmp_a"]),
        ("WC_T | project-away *name", ["id", "tmp_a", "tmp_b"]),
        ("WC_T | project-away zz*", ["id", "tmp_a", "tmp_b", "name"]),
    ]:
        assert eng.query(q).columns == want, q
        assert spark.sql(eng.to_sql(q)).columns == want, q
    with pytest.raises(QueryError, match="not a column pattern"):
        eng.query("WC_T | project-away *")
    with pytest.raises(QueryError, match="unknown column"):
        eng.query("WC_T | project-away nope")


def test_summarize_hints(spark):
    from pql_spark import PqlEngine, QueryError, compile_to_sql

    df = spark.createDataFrame(
        [(i % 5, float(i)) for i in range(100)], "k long, v double"
    )
    eng = PqlEngine(spark, resolver={"T": df})
    q = ("T | summarize hint.shufflekey = k hint.num_partitions = 7"
         " s = sum(v) by k")
    out = eng.query(q)
    rows = sorted(map(tuple, out.collect()))
    assert rows == sorted(
        map(tuple, eng.query("T | summarize s = sum(v) by k").collect())
    )
    # the explicit repartition lands below the aggregate
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(k" in plan
    # SQL twin carries the hint and returns the same rows
    df.createOrReplaceTempView("T")
    sql = compile_to_sql(q, lambda n: df.columns)
    assert "REPARTITION(7, `k`)" in sql
    assert sorted(map(tuple, spark.sql(sql).collect())) == rows
    # num_partitions alone works; unknown hint / column rejected
    assert eng.query(
        "T | summarize hint.num_partitions = 3 n = count()"
    ).head().n == 100
    with pytest.raises(QueryError, match="unsupported summarize hint"):
        eng.query("T | summarize hint.bogus = 1 n = count()")
    with pytest.raises(QueryError, match="unknown column"):
        eng.query("T | summarize hint.shufflekey = nope n = count()")
