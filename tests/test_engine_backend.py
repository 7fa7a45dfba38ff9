"""PqlEngine.query — one compile path: PQL to Spark SQL.

The query is compiled to SQL and run with one ``spark.sql`` call per
output over TRANSIENT collision-proof temp views (a user's own
same-named temp view survives untouched), with params bound.  Forms
that need the data or a frame — a data-dependent output schema
(schema-less pivot/bag_unpack, diffpatterns/autocluster without
columns), ``scan``, ``return_unmatched``, map ``mv-expand`` — run inside
that compile, and facet/fork return one statement per output.
``engine.compile_pql`` (the DataFrame compiler) is never called; it is
the reference the rows here are compared against.  User errors and
emitted SQL that fails Spark analysis propagate from the one compile.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import pql_spark.engine as engine_mod
from pql_spark import MultiResult, PqlEngine, compile_pql
from pql_spark.parser import QueryError
from pql_spark.sql_backend import Unsupported, compile_to_sql


@pytest.fixture(scope="module")
def tables(spark):
    ev = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i * 7 % 50)) for i in range(40)],
        "event_id long, user string, value double",
    )
    dim = spark.createDataFrame(
        [("u0", "alpha"), ("u1", "beta"), ("u2", "gamma")],
        "user string, team string",
    )
    m = spark.sql(
        "SELECT id, map('a', id, 'b', id * 2) AS mp,"
        " array(id, id + 1) AS arr, 'x,y' AS s,"
        " to_json(named_struct('k', id)) AS bag,"
        " concat('10.0.0.', id) AS ip FROM range(3)"
    )
    nets = spark.createDataFrame(
        [("10.0.0.0/31", "low")], "cidr string, net_name string"
    )
    return {"EV": ev, "DIM": dim, "M": m, "NETS": nets}


@pytest.fixture
def pql_calls(monkeypatch):
    """Counts the engine's calls of ``compile_pql``."""
    calls = []
    orig = engine_mod.compile_pql

    def counted(*a, **k):
        calls.append(a[0])
        return orig(*a, **k)

    monkeypatch.setattr(engine_mod, "compile_pql", counted)
    return calls


def _rows(res):
    """Comparable rows of a DataFrame or of every MultiResult table."""
    if isinstance(res, MultiResult):
        return {k: _rows(res[k]) for k in res}
    return res.columns, sorted(repr(tuple(r)) for r in res.collect())


QUERIES = [
    "EV | where value > 10 | summarize n = count(), s = sum(value)"
    " by user | sort by user asc",
    "EV | join kind=leftouter (DIM) on user | top 5 by value"
    " | project event_id, team",
    "EV | extend bucket = iff(value >= 25, 'hi', 'lo')"
    " | summarize n = count() by bucket | sort by bucket asc",
]


@pytest.mark.parametrize("q", QUERIES)
def test_sql_backend_bit_equal(spark, tables, q):
    df_rows = sorted(map(tuple, compile_pql(q, tables.__getitem__).collect()))
    sql_rows = sorted(
        map(tuple, PqlEngine(spark, resolver=tables).query(q).collect())
    )
    assert sql_rows == df_rows and len(df_rows) > 0


# the forms the SQL backend once refused, which PqlEngine.query then
# compiled a second time with the DataFrame compiler
FORMER_REFUSALS = [
    "EV | scan by user order by event_id asc with ("
    " step hi: value > 30; step lo: value < 10; )"
    " | summarize n = count()",
    # a scan inside a let binding
    "let t = EV | scan order by event_id asc with ( step hi: value > 30; );"
    " t | count",
    "EV | facet by user with ( summarize n = count() )",
    "EV | fork a = ( where value > 10 | count ) ( count )",
    "M | evaluate ipv4_lookup(NETS, ip, cidr, return_unmatched)",
    "M | mv-expand mp",
    'M | extend m = bag_pack("x", 1, "y", 2) | mv-expand m',
]
# a map reached through a binding is still a known map
BOUND_MAPS = [
    'let B = M | extend m = bag_pack("k", id); B | mv-expand m',
    'let f = (t: (*)) { t | extend m = bag_pack("k", id) };'
    " M | invoke f() | mv-expand m",
    "let f = (t: (*)) { t | mv-expand m };"
    ' M | extend m = bag_pack("k", id) | invoke f()',
]
FORMER_REFUSALS += BOUND_MAPS


@pytest.mark.parametrize("q", FORMER_REFUSALS)
def test_former_refusal_stays_on_sql(spark, tables, pql_calls, q):
    got = PqlEngine(spark, resolver=tables).query(q)
    assert pql_calls == []
    assert isinstance(got, MultiResult) == q.startswith(
        ("EV | facet", "EV | fork")
    )
    want = _rows(compile_pql(q, tables.__getitem__))
    assert _rows(got) == want and want
    assert _pql_v_views(spark) == []


def _pql_v_views(spark) -> list[str]:
    return [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__pql_v")
    ]


_COHORTS = (
    'EV | extend cohort = iff(value > 25, "A", "B"),'
    ' team = iff(event_id % 2 == 0, "even", "odd")'
)
# schema-less form → a reference built without discovery
DISCOVERED = {
    "EV | project event_id, user | evaluate pivot(user)": lambda t, q: (
        t["EV"].select("event_id", "user").groupBy("event_id")
        .pivot("user").agg(F.count(F.lit(1)))
    ),
    "M | evaluate bag_unpack(bag)": lambda t, q: q(
        "M | evaluate bag_unpack(bag) : (k: string)"
    ),
    _COHORTS + ' | evaluate diffpatterns(cohort, "A", "B", 0)': lambda t, q: q(
        _COHORTS + ' | evaluate diffpatterns(cohort, "A", "B", 0, user, team)'
    ),
    "EV | evaluate autocluster(5)": lambda t, q: q(
        "EV | evaluate autocluster(5, user)"
    ),
}


@pytest.mark.parametrize("q", list(DISCOVERED))
def test_discovered_schema_stays_on_sql(spark, tables, pql_calls, q):
    eng = PqlEngine(spark, resolver=tables)
    got = eng.query(q)
    assert pql_calls == []
    want = DISCOVERED[q](tables, PqlEngine(spark, resolver=tables).query)
    assert _rows(got) == _rows(want) and got.count() > 0
    assert _pql_v_views(spark) == []


@pytest.fixture(scope="module")
def pivots(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (1, None, 2), (2, "b", 1), (2, "a", 10),
         (3, None, 2), (3, "c", 10)],
        "k int, p string, n long",
    )


@pytest.mark.parametrize("col", ["p", "n"])  # a NULL value; numeric order
def test_pivot_edge_values_match_spark_pivot(spark, pivots, pql_calls, col):
    keep = "k, p" if col == "p" else "k, n"
    eng = PqlEngine(spark, resolver={"P": pivots})
    got = eng.query(f"P | project {keep} | evaluate pivot({col})")
    want = pivots.select("k", col).groupBy("k").pivot(col).agg(
        F.count(F.lit(1))
    )
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    assert pql_calls == []


def test_pivot_over_max_values_is_an_error(spark, pivots, pql_calls):
    key = "spark.sql.pivotMaxValues"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        eng = PqlEngine(spark, resolver={"P": pivots})
        with pytest.raises(
            QueryError, match="more than 2 distinct values in 'n'"
        ):
            eng.query("P | project k, n | evaluate pivot(n)")
        # exactly at the cap is fine: p has a, b, c and NULL
        spark.conf.set(key, "4")
        assert eng.query("P | evaluate pivot(p)").columns == [
            "k", "n", "null", "a", "b", "c"
        ]
    finally:
        spark.conf.set(key, old)
    assert pql_calls == []


def test_failed_discovery_leaves_no_views(spark, tables, monkeypatch):
    import pql_spark.sql_backend as sb

    monkeypatch.setattr(sb, "BAG_UNPACK_MAX_KEYS", 1)
    eng = PqlEngine(spark, resolver=tables)
    with pytest.raises(QueryError, match="more than 1 distinct keys"):
        eng.query("M | evaluate bag_unpack(mp)")
    with pytest.raises(QueryError, match="more than 1 distinct keys"):
        compile_pql("M | evaluate bag_unpack(mp)", tables.__getitem__)
    assert _pql_v_views(spark) == []


def test_to_sql_refuses_discovery_and_names_the_engine(spark, tables):
    eng = PqlEngine(spark, resolver=tables)
    for q in DISCOVERED:
        with pytest.raises(QueryError, match="PqlEngine.query") as ei:
            eng.to_sql(q)
        assert [type(e) for e in ei.value.errors] == [Unsupported]


@pytest.mark.parametrize("q", [FORMER_REFUSALS[0], FORMER_REFUSALS[4]])
def test_to_sql_refuses_frames_and_names_the_engine(spark, tables, q):
    # scan and return_unmatched run over a frame; a string holds none
    with pytest.raises(QueryError, match="PqlEngine.query") as ei:
        PqlEngine(spark, resolver=tables).to_sql(q)
    assert [type(e) for e in ei.value.errors] == [Unsupported]


@pytest.mark.parametrize(
    "q",
    [
        # a declare init and an assignment of incompatible types: the
        # type probe fails analysis
        "EV | scan by user order by event_id asc declare (x = 1)"
        ' with ( step s: value > 1 => x = bag_pack("k", 1); )',
        # an unknown column in a step: the work statement fails
        "EV | scan by user order by event_id asc"
        " with ( step s: nope > 1; )",
    ],
)
def test_failed_scan_leaves_no_views(spark, tables, q):
    with pytest.raises(AnalysisException):
        PqlEngine(spark, resolver=tables).query(q)
    assert _pql_v_views(spark) == []


@pytest.fixture(scope="module")
def sessions(spark):
    return spark.sql(
        "SELECT id % 4 AS user_id, TIMESTAMP '2024-01-01 06:00:00'"
        " + make_interval(0, 0, 0, CAST(id * 7 % 23 AS INT),"
        " CAST(id % 5 AS INT)) AS ts FROM range(60)"
    )


def test_fallback_plugins_see_the_compilers_scope(spark, sessions):
    # the DataFrame compiler's fork runs its branches' plugins on the
    # SQL emitter with the compiler's toscalar let and param in scope
    from datetime import datetime

    lets = "let lo = toscalar(S | summarize min(ts));"
    plugin = "evaluate session_count(user_id, ts, lo, hi, 1d, 3d)"
    branches = {"a": plugin, "b": f"where user_id > 1 | {plugin}"}
    params = {"hi": datetime(2024, 1, 20)}
    q = f"{lets} S | fork " + " ".join(
        f"{k} = ( {v} )" for k, v in branches.items()
    )
    res = compile_pql(q, {"S": sessions}.__getitem__, params)
    eng = PqlEngine(spark, resolver={"S": sessions})
    assert _rows(res) == _rows(eng.query(q, params=params))
    for name, branch in branches.items():
        alone = eng.query(f"{lets} S | {branch}", params=params)
        assert _rows(res[name]) == _rows(alone)
        assert alone.count() > 0
    assert _pql_v_views(spark) == []


@pytest.mark.parametrize("q", BOUND_MAPS)
def test_bindings_carry_map_marks(q):
    # a map reached through a binding expands per property
    assert "explode(map_entries(" in compile_to_sql(q, {"M": ["id", "s"]})


def test_mv_apply_over_a_map_is_refused(spark, tables, pql_calls):
    # a positioned user error, as the DataFrame compiler reports it
    q = "M | mv-apply e = mp on ( take 1 )"
    for run in (PqlEngine(spark, resolver=tables).query,
                lambda q: compile_pql(q, tables.__getitem__)):
        with pytest.raises(QueryError, match="requires array values"):
            run(q)
    assert pql_calls == []


@pytest.mark.parametrize(
    "q, err, match",
    [
        ("EV | where", QueryError, "1:11: unexpected end of input"),
        ("EV | where nope > 1", AnalysisException, "nope"),
        (
            "EV | summarize hint.shufflekey = nope count() by user",
            QueryError,
            "1:6: hint.shufflekey: unknown column 'nope'",
        ),
        ("NoSuchTable | count", QueryError, "unknown table"),
    ],
)
def test_user_errors_never_reach_compile_pql(
    spark, tables, pql_calls, q, err, match
):
    eng = PqlEngine(spark, resolver=tables)
    with pytest.raises(err, match=match):
        eng.query(q)
    assert pql_calls == []


def test_analysis_failure_propagates(spark, tables, pql_calls, monkeypatch):
    # emitted SQL that fails Spark analysis is a backend bug to see,
    # not a cue to retry on the DataFrame path
    import pql_spark.sql_backend as sb

    monkeypatch.setattr(
        sb, "compile_to_sql", lambda *a, **k: "SELECT no_such_col FROM range(1)"
    )
    eng = PqlEngine(spark, resolver=tables)
    with pytest.raises(AnalysisException, match="no_such_col"):
        eng.query("EV | count")
    assert pql_calls == []


@pytest.mark.parametrize(
    "q",
    [
        "M | mv-expand arr",
        'M | extend p = split(s, ",") | mv-expand p',
        'M | extend m = bag_pack("x", 1) | extend m = split(s, ",")'
        " | mv-expand m",
        "M | mv-apply x = arr on ( where x > 1 )",
        "EV | make-series n = count() default = 0"
        " on event_id from 0 to 40 step 10 by user"
        " | mv-expand n, event_id",
    ],
)
def test_arrays_stay_on_sql(spark, tables, pql_calls, q):
    got = PqlEngine(spark, resolver=tables).query(q)
    assert pql_calls == []
    assert _rows(got) == _rows(compile_pql(q, tables.__getitem__))


def test_sql_backend_preserves_user_views(spark, tables):
    # a user temp view named EV must survive the query untouched —
    # the engine resolves through prefixed transient views instead
    user_ev = spark.createDataFrame([(99,)], "sentinel long")
    user_ev.createOrReplaceTempView("EV")
    try:
        eng = PqlEngine(spark, resolver=tables)
        n = eng.query(
            "EV | join kind=inner (DIM) on user | count"
        ).collect()[0][0]
        assert n == 40  # resolver's EV, not the user view
        assert [r.sentinel for r in spark.sql(
            "SELECT * FROM EV"
        ).collect()] == [99]
        # and no transient __pql_v* views linger in the catalog
        names = {t.name.lower() for t in spark.catalog.listTables()}
        assert not any(v.startswith("__pql_v") for v in names)
    finally:
        spark.catalog.dropTempView("EV")


def test_sql_backend_params(spark, tables):
    eng = PqlEngine(spark, resolver=tables, params={"cut": 30})
    got = eng.query("EV | where value > cut | count").collect()
    want = tables["EV"].filter(F.col("value") > 30).count()
    assert got[0][0] == want


def test_multi_output_names_match_the_dataframe_compiler(
    spark, tables, pql_calls
):
    # facet is multi-output: query builds its MultiResult from one SQL
    # statement per output, named and ordered as compile_pql names them
    q = "EV | facet by user with ( summarize n = count() )"
    eng = PqlEngine(spark, resolver=tables)
    res = eng.query(q)
    want = compile_pql(q, tables.__getitem__)
    assert isinstance(res, MultiResult) and len(res) > 1
    assert list(res) == list(eng.to_sql_multi(q)) == list(want)
    assert pql_calls == []


def test_sql_backend_serves_csv_externaldata(spark, tmp_path, pql_calls):
    # r12 (VERDICT r11 item 8): option-bearing externaldata rides the
    # engine's transient-view device on the SQL path — no fallback
    p = tmp_path / "t.csv"
    p.write_text("id,v\n1,2.0\n2,9.5\n")
    eng = PqlEngine(spark, resolver={})
    q = (
        f'externaldata (id: long, v: real) ["{p}"]'
        ' with (format="csv", header="true") | where v > 5 | project id'
    )
    assert [r.id for r in eng.query(q).collect()] == [2]
    assert pql_calls == []
    # the transient reader view is dropped after the one spark.sql call
    leftover = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__pql_v")
    ]
    assert leftover == []


def test_csv_externaldata_backend_equality(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id|name\n1|aa\n2|bb\n3|cc\n")
    q = (
        f'externaldata (id: long, name: string) ["{p}"]'
        ' with (format="csv", header="true", sep="|")'
        " | extend tag = strcat(name, tostring(id)) | sort by id asc"
    )
    dfb = compile_pql(q, {}.__getitem__)
    sqb = PqlEngine(spark, resolver={}).query(q)
    assert dfb.collect() == sqb.collect()
    assert dfb.columns == sqb.columns


def test_json_externaldata_on_sql_backend(spark, tmp_path):
    p = tmp_path / "t.json"
    p.write_text('{"id": 1, "v": "x"}\n{"id": 2, "v": "y"}\n')
    eng = PqlEngine(spark, resolver={})
    q = (
        f'externaldata (id: long, v: string) ["{p}"]'
        ' with (format="json") | where v == "y" | project id'
    )
    assert [r.id for r in eng.query(q).collect()] == [2]


def test_to_sql_still_refuses_optioned_externaldata(spark, tmp_path):
    # a standalone SQL string cannot carry reader options; the error
    # must point at the engine's transient-view workaround
    p = tmp_path / "t.csv"
    p.write_text("id\n1\n")
    eng = PqlEngine(spark, resolver={})
    with pytest.raises(Exception, match="transient reader-backed"):
        eng.to_sql(
            f'externaldata (id: long) ["{p}"] with (format="csv")'
        )


def test_auto_does_not_swallow_unexpected_errors(
    spark, tables, monkeypatch, pql_calls
):
    # an error inside the SQL compile propagates as it is
    import pql_spark.sql_backend as sb

    def boom(*a, **k):
        raise RuntimeError("injected sql-backend bug")

    monkeypatch.setattr(sb, "compile_to_sql", boom)
    eng = PqlEngine(spark, resolver=tables)
    with pytest.raises(RuntimeError, match="injected"):
        eng.query("EV | count")
    assert pql_calls == []


def test_unknown_table_same_error_both_backends(spark):
    # resolver misses surface as the compiler's QueryError ("unknown
    # table"), never a raw KeyError — on both compile paths
    q = "NoSuchTable | count"
    with pytest.raises(QueryError, match="unknown table"):
        compile_pql(q, {}.__getitem__)
    with pytest.raises(QueryError, match="unknown table"):
        PqlEngine(spark, resolver={}).query(q)
