"""``scan`` step conditions / assignment values referencing declared
variables (the full-KQL-scan surface, previously a documented gap).

Row-only subtrees stay in codegen; the var-touching skeleton is
interpreted per candidate row in the automaton.  References:
brute-force python automatons below.
"""

from __future__ import annotations

import pytest

from pql_spark import PqlEngine, QueryError


@pytest.fixture(scope="module")
def engine(spark):
    df = spark.createDataFrame(
        [
            # uid 1: login t=1, buys t=3 (v=5), t=9 (v=2), t=20 (v=8)
            (1, 1, "login", 5.0),
            (1, 3, "buy", 5.0),
            (1, 9, "buy", 2.0),
            (1, 20, "buy", 8.0),
            # uid 2: login t=10, buy far later t=40
            (2, 10, "login", 1.0),
            (2, 40, "buy", 9.0),
            # uid 3: two logins then a buy near the SECOND login
            (3, 1, "login", 0.0),
            (3, 50, "login", 0.0),
            (3, 55, "buy", 4.0),
        ],
        "uid long, t long, e string, v double",
    )
    return PqlEngine(spark, resolver={"E": df})


def test_condition_references_declared_var(engine):
    # buy must occur within 10 ticks of the captured login time —
    # the condition (t - login_t <= 10) references the variable
    out = engine.query(
        """E | scan by uid order by t asc
             declare (login_t = tolong(0))
             with (
               step s1: e == "login" => login_t = t;
               step s2: t - login_t <= 10 and e == "buy";
             )
           | project uid, match_id, step, t, login_t"""
    )
    rows = sorted(map(tuple, out.collect()))
    # uid 1: login@1 then buy@3 (3-1<=10) → match.  After the match,
    # a new attempt needs a login first: buy@9/20 don't match s1.
    # uid 2: buy@40 is 30 ticks after login@10 → s2 never fires, no
    #   match (greedy single-attempt semantics: the automaton stays
    #   parked on s2).
    # uid 3: login@1 captured, buy@55 is 54 ticks later → no match
    #   for attempt 1; login@50 does NOT restart (pos is at s2, and
    #   s2's condition is false for it) — documented greedy semantics.
    assert rows == [
        (1, 0, "s1", 1, 1),
        (1, 0, "s2", 3, 1),
    ]


def test_accumulator_assignment(engine):
    # running total across steps: total = total + v references the var
    out = engine.query(
        """E | scan by uid order by t asc
             declare (total = 0.0)
             with (
               step s1: e == "login" => total = total + v;
               step s2: e == "buy" => total = total + v;
               step s3: e == "buy" => total = total + v;
             )
           | project uid, step, total"""
    )
    rows = sorted(map(tuple, out.collect()))
    # only uid 1 has login,buy,buy: totals 5.0, 10.0, 12.0
    assert rows == [
        (1, "s1", 5.0),
        (1, "s2", 10.0),
        (1, "s3", 12.0),
    ]


def test_var_condition_null_semantics(spark):
    # v NULL on the candidate row: total + v → NULL; NULL <= 100 is
    # unknown → step must NOT fire (and no crash)
    df = spark.createDataFrame(
        [(1, 1, "a", 1.0), (1, 2, "b", None), (1, 3, "b", 2.0)],
        "uid long, t long, e string, v double",
    )
    eng = PqlEngine(spark, resolver={"E": df})
    out = eng.query(
        """E | scan by uid order by t asc
             declare (acc = 0.0)
             with (
               step s1: e == "a" => acc = acc + v;
               step s2: e == "b" and acc + v <= 100.0 => acc = acc + v;
             )
           | project uid, step, acc"""
    )
    rows = sorted(map(tuple, out.collect()))
    # row t=2 has v NULL → acc+v NULL → condition unknown → skipped;
    # row t=3 fires with acc = 1.0 + 2.0
    assert rows == [(1, "s1", 1.0), (1, "s2", 3.0)]


def test_var_equality_is_null_safe_false(spark):
    # pql `==` coalesces NULL comparisons to FALSE — a NULL-valued
    # var compared to anything never fires the step
    df = spark.createDataFrame(
        [(1, 1, "a", None), (1, 2, "b", 7)],
        "uid long, t long, e string, v long",
    )
    eng = PqlEngine(spark, resolver={"E": df})
    out = eng.query(
        """E | scan by uid order by t asc
             declare (cap = tolong(0))
             with (
               step s1: e == "a" => cap = v;
               step s2: cap == v;
             )
           | project uid, step"""
    )
    assert out.collect() == []


_RANDOM_SCAN = """E | scan by uid order by t asc
     declare (start_t = tolong(0), acc = tolong(0))
     with (
       step s1: e == "a" => start_t = t, acc = v;
       step s2: e == "b" and t - start_t <= 6
                => acc = acc + v;
       step s3: e == "c" and acc >= 5;
     )
   | project uid, match_id, step, t, acc"""


def _reference(rows) -> list[tuple]:
    """Brute-force python automaton of ``_RANDOM_SCAN`` over
    (uid, t, e, v) rows."""
    outr = []
    by_uid: dict[int, list] = {}
    for u, t, e, v in rows:
        by_uid.setdefault(u, []).append((t, e, v))
    for u, ev in by_uid.items():
        ev.sort()
        pos, mid, st, pend = 0, 0, [None, None], []
        for t, e, v in ev:
            if pos == 0:
                hit = e == "a"
            elif pos == 1:
                hit = e == "b" and t - st[0] <= 6
            else:
                hit = e == "c" and st[1] >= 5
            if not hit:
                continue
            if pos == 0:
                st = [t, v]
            elif pos == 1:
                st = [st[0], st[1] + v]
            pend.append((t, f"s{pos + 1}", list(st)))
            pos += 1
            if pos == 3:
                for tt, sname, snap in pend:
                    outr.append((u, mid, sname, tt, snap[1]))
                mid += 1
                pos, pend = 0, []
    return sorted(outr)


def test_reference_automaton_random(spark):
    # brute-force python reference over a pseudo-random event stream
    import random

    rng = random.Random(7)
    rows = []
    for uid in range(6):
        t = 0
        for _ in range(40):
            t += rng.randint(1, 5)
            rows.append((uid, t, rng.choice("abc"), rng.randint(0, 9)))
    df = spark.createDataFrame(rows, "uid long, t long, e string, v long")
    eng = PqlEngine(spark, resolver={"E": df})
    got = sorted(map(tuple, eng.query(_RANDOM_SCAN).collect()))
    assert got == _reference(rows)


def test_hot_group_matches_reference(spark):
    # one scan key with 100k rows: the size at which a Catalyst fold
    # over collect_list turned quadratic; the kernel walks it linearly.
    # Rows come in pseudo-random pairs; an "a" opens a pair and a "b"
    # closes it, 3-5 ticks later, and v >= 3, so no attempt stalls
    df = spark.range(100_000).selectExpr(
        "7L AS uid",
        "id * 3 + pmod(xxhash64(id, 1), 3) AS t",  # strictly increasing
        "element_at(CASE WHEN id % 2 = 0"
        " THEN array('a', 'c', 'b', 'c', 'b')"
        " ELSE array('b', 'c', 'c', 'b', 'b') END,"
        " CAST(pmod(xxhash64(id DIV 2, 2), 5) AS INT) + 1) AS e",
        "3 + pmod(xxhash64(id, 3), 7) AS v",
    )
    rows = [tuple(r) for r in df.collect()]
    eng = PqlEngine(spark, resolver={"E": df})
    got = sorted(map(tuple, eng.query(_RANDOM_SCAN).collect()))
    want = _reference(rows)
    assert got == want and len(want) > 10_000


def test_unsupported_var_construct_errors(engine):
    with pytest.raises(QueryError, match="declared variable"):
        engine.query(
            """E | scan by uid order by t asc
                 declare (x = 0.0)
                 with (step s1: strcat(tostring(x), "!") == "0!";)"""
        )


def test_interpreted_mod_exact_above_2_53(spark):
    """Integer % in the var-referencing skeleton must be exact — the
    old math.fmod path round-trips through float64 and is wrong for
    |operands| > 2^53 (ADVICE r7).  9007199254740993 = 2^53 + 1 is not
    representable as a double (rounds to 2^53)."""
    big = 9007199254740993  # 2^53 + 1; big % 10 == 3, float path gives 2
    df = spark.createDataFrame(
        [(1, 1, big), (1, 2, big)], "uid long, t long, x long"
    )
    eng = PqlEngine(spark, resolver={"E": df})
    out = eng.query(
        f"""E | scan by uid order by t asc
             declare (seen = tolong(0))
             with (
               step s1: true => seen = x;
               step s2: seen % 10 == 3;
             )
           | project uid, step, seen"""
    )
    rows = sorted(map(tuple, out.collect()))
    assert rows == [(1, "s1", big), (1, "s2", big)]
    # negative dividend: Java remainder keeps the dividend's sign
    df2 = spark.createDataFrame(
        [(1, 1, -big), (1, 2, -big)], "uid long, t long, x long"
    )
    eng2 = PqlEngine(spark, resolver={"E": df2})
    out2 = eng2.query(
        """E | scan by uid order by t asc
             declare (seen = tolong(0))
             with (
               step s1: true => seen = x;
               step s2: seen % 10 == -3;
             )
           | project uid, step"""
    )
    assert sorted(map(tuple, out2.collect())) == [
        (1, "s1"), (1, "s2"),
    ]
