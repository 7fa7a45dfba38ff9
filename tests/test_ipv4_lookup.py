"""``evaluate ipv4_lookup`` (KQL plugin): CIDR-network membership join.
Reference implementation for the tests: Python's stdlib ``ipaddress``.
Scale contract: broadcast hash equi-join on (prefix, masked ip) —
never a nested-loop range probe."""

from __future__ import annotations

import ipaddress

import pytest

from pql_spark import PqlEngine, compile_pql, compile_to_sql
from pql_spark.parser import QueryError

IPS = [
    "10.0.5.9", "10.0.77.3", "192.168.1.1", "bogus", "10.0.200.1",
    "255.255.255.255", "0.0.0.0", "10.0.5.256", None,
]
NETS = [
    ("10.0.0.0/8", "corp"),
    ("10.0.5.0/24", "lab"),
    ("10.0.128.0/17", "dmz"),
    ("192.168.1.1", "exact-host"),  # bare ip = /32
    ("0.0.0.0/0", "all"),
    ("bad/99", "junk"),  # invalid prefix — matches nothing
    ("999.0.0.0/8", "junk2"),  # invalid network — matches nothing
]


def _py_matches():
    out = []
    for i, ip in enumerate(IPS):
        if ip is None:
            continue
        try:
            addr = ipaddress.IPv4Address(ip)
        except ValueError:
            continue
        for cidr, name in NETS:
            try:
                net = ipaddress.IPv4Network(
                    cidr if "/" in cidr else cidr + "/32"
                )
            except ValueError:
                continue
            if addr in net:
                out.append((i, ip, cidr, name))
    return sorted(out)


@pytest.fixture(scope="module")
def tables(spark):
    ev = spark.createDataFrame(
        [(i, ip) for i, ip in enumerate(IPS)], "id long, ip string"
    )
    nets = spark.createDataFrame(NETS, "cidr string, net_name string")
    return {"ev": ev, "nets": nets}


@pytest.fixture(scope="module")
def engine(spark, tables):
    return PqlEngine(spark, tables)


def test_matches_ipaddress_reference(engine):
    rows = engine.query(
        "ev | evaluate ipv4_lookup(nets, ip, cidr)"
    ).collect()
    got = sorted((r.id, r.ip, r.cidr, r.net_name) for r in rows)
    assert got == _py_matches()


def test_return_unmatched(engine):
    rows = engine.query(
        "ev | evaluate ipv4_lookup(nets, ip, cidr, return_unmatched)"
    ).collect()
    matched_ids = {m[0] for m in _py_matches()}
    un = sorted(r.id for r in rows if r.cidr is None)
    assert un == sorted(i for i in range(len(IPS)) if i not in matched_ids)
    # matched part unchanged
    got = sorted(
        (r.id, r.ip, r.cidr, r.net_name) for r in rows if r.cidr is not None
    )
    assert got == _py_matches()


def test_sql_backend_equivalent(engine, spark, tables):
    q = "ev | evaluate ipv4_lookup(nets, ip, cidr)"
    sql = engine.to_sql(q)
    df_rows = sorted(map(tuple, engine.query(q).collect()))
    tables["ev"].createOrReplaceTempView("ev")
    tables["nets"].createOrReplaceTempView("nets")
    sql_rows = sorted(map(tuple, spark.sql(sql).collect()))
    assert df_rows == sql_rows


def test_collision_renamed_to_right(spark, tables):
    # lookup column that collides with a left column → `$right.<col>`
    nets2 = spark.createDataFrame(
        [("10.0.0.0/8", "x")], "cidr string, ip string"
    )
    eng = PqlEngine(spark, {"ev": tables["ev"], "nets2": nets2})
    out = eng.query("ev | evaluate ipv4_lookup(nets2, ip, cidr)")
    assert out.columns == ["id", "ip", "cidr", "$right.ip"]


def test_plan_is_broadcast_hash_join(engine):
    # the CIDR match itself must be a broadcast HASH join on
    # (prefix, masked-ip); the ≤33-row distinct-prefix expansion is
    # allowed to plan as a broadcast nested-loop CROSS (no condition —
    # a narrow per-row fan-out, not a range probe)
    df = engine.query("ev | evaluate ipv4_lookup(nets, ip, cidr)")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_int64_overflow_suffix_defaults_like_try_cast(spark, tables):
    """A /suffix beyond int64 overflows try_cast("long") to NULL at
    runtime → default prefix (/32).  The compile-time prefix set for
    literal datatables must mirror that (ADVICE r12: python int()
    accepted the overflow, dropped the out-of-range prefix, and the
    Generate-shape paths missed the match)."""
    from pql_spark.compiler import literal_lookup_prefixes
    from pql_spark.parser import parse

    big = "9" * 20  # > 2**63
    q = (
        f"let nets = datatable(cidr: string, net_name: string)"
        f" ['10.0.0.0/{big}', 'host'];"
        f" ev | evaluate ipv4_lookup(nets, ip, cidr) | project id, net_name"
    )
    # unit: the compile-time set is the engine default, not empty
    stmts = parse(q)
    net_ast = next(s for s in stmts if hasattr(s, "tabular")).tabular
    assert literal_lookup_prefixes(net_ast, "cidr", v6=False) == [32]
    # end-to-end on both backends: 0.0.0.0 is id 6; /default=32 means
    # only the exact host 10.0.0.0 would match — none of IPS is that,
    # so extend with one: use the existing ev and assert no crash +
    # the row set matches the DF path
    got_df = sorted(map(tuple, compile_pql(q, tables.__getitem__).collect()))
    got_sql = sorted(map(tuple, PqlEngine(spark, tables).query(q).collect()))
    assert got_df == got_sql
    ev2 = spark.createDataFrame(
        [(0, "10.0.0.0")], "id long, ip string"
    )
    for backend, out in (
        ("df", compile_pql(q, {"ev": ev2}.__getitem__)),
        ("sql", PqlEngine(spark, {"ev": ev2}).query(q)),
    ):
        assert [tuple(r) for r in out.collect()] == [(0, "host")], backend


def test_errors(engine):
    with pytest.raises(QueryError, match="unknown source ip column"):
        engine.query("ev | evaluate ipv4_lookup(nets, nope, cidr)")
    with pytest.raises(QueryError, match="unknown ip-range column"):
        engine.query("ev | evaluate ipv4_lookup(nets, ip, nope)")
    with pytest.raises(QueryError, match="return_unmatched"):
        engine.query("ev | evaluate ipv4_lookup(nets, ip, cidr, nonsense)")
    with pytest.raises(QueryError, match="PqlEngine.query"):
        engine.to_sql(
            "ev | evaluate ipv4_lookup(nets, ip, cidr, return_unmatched)"
        )
