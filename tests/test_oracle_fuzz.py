"""Oracle-checked PQL pipeline fuzzing (VERDICT r14 item 5).

``test_backend_fuzz.py`` proves the DataFrame compiler and the SQL-text
backend AGREE; this suite proves they're both RIGHT: every generated
pipeline is built together with an independently-derived DuckDB SQL
mirror (hand-mapped per grammar construct, not machine-translated from
either backend), executed on identical inputs in both engines, and
compared value-for-value — the same discipline as the driver's
per-gate oracle, applied to ≥200 random pipelines per run.

Two input tables:

* ``T`` — the synthetic null-saturated 25-row table (every (a, b) pair
  of {NULL, -2, 0, 1, 3}², s cycling {NULL, '', 'x', 'y'}): maximal
  null/edge coverage, and (a, b) is a UNIQUE key so the serialize
  window shape is deterministic.
* the sf0.001 ``events`` table, reduced to the grammar's (a, b, s)
  schema by ONE shared cross-engine SQL prep (nulls injected on id
  residues) — real parquet data through the same pipelines.  (a, b) is
  non-unique here, so the serialize shape is excluded for this table.

Semantics each mirror encodes (and therefore cross-checks):
null-safe ``==``/``!=`` (coalesce-to-FALSE, pql.go:672-711), 3-valued
ordered comparisons, ``/``/``%`` null-on-zero (try_divide/try_mod),
``iff`` null-condition → else, ``min_of``/``max_of`` null-skipping
LEAST/GREATEST, numeric ``bin`` as floor-to-multiple, case-folding
string predicates with term-split ``has``, literal-list ``in`` (NOT
null-coalesced), deterministic md5-bucket ``sample by``, key-first
``summarize`` with null groups (one- and two-key forms, HAVING-shaped
post-aggregate filters, min/max/avg/countif and the distinct family),
``top-hitters`` with the key-asc tie-break, KQL null-ordering defaults
(asc → nulls first) under ``sort | serialize | row_number()/prev()``
and ``sort | take`` over the unique (a, b) key, ``join
kind=inner/leftouter`` against an aggregated sub-pipeline (raw-``=``
null-key semantics, ``$right.<col>`` duplicate naming), the rewritten
string family (null-propagating ``strcat``, ``tolower``/``toupper``,
0-based ``substring``, ``strlen``) as both scalar values and COMPUTED
group keys, and ``distinct`` with null-holding key pairs.
"""

from __future__ import annotations

import decimal
import math
import random

import duckdb
import pytest

from pql_spark import PqlEngine

SF_DIR = "/root/testdata/sf0.001"

# one shared prep, valid and identical in Spark SQL and DuckDB: floor()
# (not bare CAST — Spark truncates doubles toward zero, DuckDB rounds),
# C-style % on negatives (identical in both), 1-based substr
_EVENTS_PREP = """
SELECT CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE user_id % 5 - 2 END AS a,
       CASE WHEN event_id % 11 = 0 THEN NULL
            ELSE CAST(floor(value * 3) AS BIGINT) % 4 END AS b,
       CASE WHEN event_id % 13 = 0 THEN NULL
            WHEN event_id % 13 = 1 THEN ''
            ELSE substr(event_type, 1, 1) END AS s
FROM {src}
"""


# --------------------------------------------------------------- generator


class Gen:
    """Draws a random pipeline as a (pql, duckdb_sql) PAIR — the DuckDB
    side is composed per construct from the reference semantics, so it
    is an independent implementation, not a translation of either
    backend's output."""

    NUM_COLS = ["a", "b"]

    def __init__(self, seed: int, allow_serialize: bool = True) -> None:
        self.rng = random.Random(seed)
        self.allow_serialize = allow_serialize

    # -- expressions: return (pql, duck)

    def num(self, depth: int = 0) -> tuple[str, str]:
        r = self.rng
        if depth >= 2 or r.random() < 0.4:
            if r.random() < 0.6:
                c = r.choice(self.NUM_COLS)
                return c, c
            v = str(r.randint(-3, 3))
            return v, v
        kind = r.randint(0, 5)
        if kind == 0:
            cp, cd = self.boolean(2)
            tp, td = self.num(depth + 1)
            fp, fd = self.num(depth + 1)
            return (
                f"iff({cp}, {tp}, {fp})",
                # iff: NULL condition takes the else branch — exactly
                # SQL CASE (pql.go:979-1004)
                f"(CASE WHEN {cd} THEN {td} ELSE {fd} END)",
            )
        if kind == 5:
            # strlen over a string expr: nulls propagate, '' → 0
            sp, sd = self.string(depth + 1)
            return f"strlen({sp})", f"length({sd})"
        if kind == 1:
            fn = r.choice(["min_of", "max_of"])
            ap, ad = self.num(depth + 1)
            bp, bd = self.num(depth + 1)
            duck_fn = "least" if fn == "min_of" else "greatest"
            # nulls ignored on both sides (Spark least/greatest,
            # DuckDB/Postgres least/greatest)
            return f"{fn}({ap}, {bp})", f"{duck_fn}({ad}, {bd})"
        if kind == 2:
            ap, ad = self.num(depth + 1)
            # numeric bin = floor to a multiple (double-divide, floor
            # to BIGINT, re-multiply — the DF backend's exact shape)
            return (
                f"bin({ap}, 2)",
                f"(CAST(floor(({ad}) / 2) AS BIGINT) * 2)",
            )
        op = r.choice(["+", "-", "*", "/", "%"])
        lp, ld = self.num(depth + 1)
        rp, rd = self.num(depth + 1)
        # / and % are null-on-zero in BOTH engines (Spark via
        # try_divide/try_mod, DuckDB natively)
        return f"({lp} {op} {rp})", f"(({ld}) {op} ({rd}))"

    def string(self, depth: int = 0) -> tuple[str, str]:
        """String-typed expr pair.  The rewritten-function string
        family: strcat is null-propagating concat (the reference
        transpiles it to the target SQL concat), tolower/toupper fold
        case, substring is 0-BASED with clamping (functions.py maps to
        Spark's 1-based substring; DuckDB substr is 1-based too)."""
        r = self.rng
        if depth >= 2 or r.random() < 0.4:
            return "s", "s"
        kind = r.randint(0, 3)
        if kind == 0:
            lit = r.choice(["q", "X", ""])
            return f'strcat(s, "{lit}")', f"(s || '{lit}')"
        if kind == 1:
            fn = r.choice(["tolower", "toupper"])
            sp, sd = self.string(depth + 1)
            return f"{fn}({sp})", f"{'lower' if fn == 'tolower' else 'upper'}({sd})"
        if kind == 2:
            start = r.randint(0, 2)
            ln = r.randint(1, 2)
            sp, sd = self.string(depth + 1)
            return (
                f"substring({sp}, {start}, {ln})",
                f"substr({sd}, {start + 1}, {ln})",
            )
        cp, cd = self.boolean(2)
        tp, td = self.string(depth + 1)
        fp, fd = self.string(depth + 1)
        return (
            f"iff({cp}, {tp}, {fp})",
            f"(CASE WHEN {cd} THEN {td} ELSE {fd} END)",
        )

    def boolean(self, depth: int = 0) -> tuple[str, str]:
        r = self.rng
        kind = r.randint(0, 5) if depth < 2 else 0
        if kind == 0:
            cmp = r.choice(["==", "!=", "<", "<=", ">", ">="])
            lp, ld = self.num(depth + 1)
            rp, rd = self.num(depth + 1)
            if cmp in ("==", "!="):
                dop = "=" if cmp == "==" else "<>"
                # null-safe: NULL compares are FALSE, incl. null==null
                return (
                    f"({lp} {cmp} {rp})",
                    f"COALESCE(({ld}) {dop} ({rd}), FALSE)",
                )
            return f"({lp} {cmp} {rp})", f"(({ld}) {cmp} ({rd}))"
        if kind == 1:
            lit = r.choice(["x", "y", ""])
            return (
                f'(s == "{lit}")',
                f"COALESCE(s = '{lit}', FALSE)",
            )
        if kind == 2:
            c = r.choice(self.NUM_COLS)
            return f"isnull({c})", f"({c} IS NULL)"
        if kind == 3:
            lp, ld = self.boolean(depth + 1)
            rp, rd = self.boolean(depth + 1)
            op = r.choice(["and", "or"])
            return f"({lp} {op} {rp})", f"(({ld}) {op.upper()} ({rd}))"
        if kind == 4:
            word = r.choice(
                ["contains", "startswith", "endswith", "has", "contains_cs"]
            )
            lit = r.choice(["x", "y", "X"])
            # bare forms fold case; these are NOT null-coalesced
            if word == "contains":
                d = f"contains(lower(s), '{lit.lower()}')"
            elif word == "contains_cs":
                d = f"contains(s, '{lit}')"
            elif word == "startswith":
                d = f"starts_with(lower(s), '{lit.lower()}')"
            elif word == "endswith":
                d = f"ends_with(lower(s), '{lit.lower()}')"
            else:  # has: whole-term match over alphanumeric runs
                d = (
                    "list_contains(string_split_regex(lower(s),"
                    f" '[^a-zA-Z0-9]+'), '{lit.lower()}')"
                )
            return f'(s {word} "{lit}")', d
        c = r.choice(self.NUM_COLS)
        # literal-list in: NOT null-coalesced (pql.go:747-760) — plain
        # 3-valued SQL IN on both sides
        return f"({c} in (0, 1, 2))", f"({c} IN (0, 1, 2))"

    # -- pipeline: returns (pql, duck)

    def pipeline(self) -> tuple[str, str]:
        r = self.rng
        segs = ["T"]
        duck = "SELECT a, b, s FROM T"
        if r.random() < 0.5:
            cp, cd = self.boolean()
            segs.append(f"where {cp}")
            duck = f"SELECT * FROM ({duck}) WHERE {cd}"
        has_e = r.random() < 0.5
        has_e2 = False
        if has_e:
            ep, ed = self.num()
            segs.append(f"extend e = {ep}")
            duck = f"SELECT *, {ed} AS e FROM ({duck})"
            if r.random() < 0.25:  # chained extend referencing e
                has_e2 = True
                segs.append("extend e2 = (e + a)")
                duck = f"SELECT *, ((e) + (a)) AS e2 FROM ({duck})"
        if r.random() < 0.3:
            k = r.randint(1, 9)
            rate_k = int((k / 10.0) * float(1 << 32))
            segs.append(f"sample 0.{k} by a")
            # deterministic md5 bucket — the documented ANSI twin of
            # operators/sampling._bucket (NULL key → NULL < k → drop)
            duck = (
                f"SELECT * FROM ({duck}) WHERE"
                " ('0x' || substr(md5(CAST(a AS VARCHAR)), 1, 8))::BIGINT"
                f" < {rate_k}"
            )
        choices = list(range(11))
        if not self.allow_serialize:
            choices.remove(7)  # window order under (a, b) ties
        shape = r.choice(choices)
        if shape == 0:
            c = r.choice(self.NUM_COLS)
            agg_p, agg_d = r.choice(
                [
                    (f"sum({c})", f"sum({c})"),
                    (f"count_distinct({c})", f"count(DISTINCT {c})"),
                    (
                        f"count_distinctif({c}, {c} > 0)",
                        f"count(DISTINCT CASE WHEN {c} > 0 THEN {c} END)",
                    ),
                    (
                        f"dcountif({c}, {c} != 0)",
                        "count(DISTINCT CASE WHEN"
                        f" COALESCE({c} <> 0, FALSE) THEN {c} END)",
                    ),
                    (f"binary_all_or({c})", f"bit_or({c})"),
                    (f"min({c})", f"min({c})"),
                    (f"max({c})", f"max({c})"),
                    (f"avg({c})", f"avg({c})"),
                    (
                        f"countif({c} >= 1)",
                        f"count(CASE WHEN ({c}) >= (1) THEN 1 END)",
                    ),
                ]
            )
            hint = r.choice(
                ["", "hint.shufflekey = s ", "hint.num_partitions = 3 "]
            )
            if r.random() < 0.3:  # two grouping keys, one computed
                segs.append(
                    f"summarize {hint}n = count(), m = {agg_p}"
                    " by s, k2 = bin(a, 2)"
                )
                duck = (
                    "SELECT s, (CAST(floor((a) / 2) AS BIGINT) * 2)"
                    f" AS k2, count(*) AS n, {agg_d} AS m"
                    f" FROM ({duck}) GROUP BY s, k2"
                )
            else:
                segs.append(
                    f"summarize {hint}n = count(), m = {agg_p} by s"
                )
                duck = (
                    f"SELECT s, count(*) AS n, {agg_d} AS m"
                    f" FROM ({duck}) GROUP BY s"
                )
            if r.random() < 0.3:  # HAVING-shaped post-aggregate filter
                segs.append("where (n >= 2)")
                duck = f"SELECT * FROM ({duck}) WHERE ((n) >= (2))"
        elif shape == 1:
            vp, vd = self.num()
            segs.append(f"project s, v = {vp}")
            duck = f"SELECT s, {vd} AS v FROM ({duck})"
        elif shape == 2:
            segs.append("distinct s, a")
            duck = f"SELECT DISTINCT s, a FROM ({duck})"
        elif shape == 3:
            segs.append(
                "project-rename x = a, y = b | project-keep s, x, y"
                " | project-reorder y"
            )
            duck = f"SELECT b AS y, s, a AS x FROM ({duck})"
        elif shape == 4:
            segs.append("top-hitters 3 of s")
            # tie-break: measure desc, then key ASC with KQL nulls-first
            duck = (
                f"SELECT s, count(*) AS hitters FROM ({duck}) GROUP BY s"
                " ORDER BY hitters DESC, s ASC NULLS FIRST LIMIT 3"
            )
        elif shape == 5:
            vp, vd = self.num()
            segs.append(f"extend v2 = {vp} | project-away a, b")
            keep = (
                "s, e, e2, v2"
                if has_e2
                else ("s, e, v2" if has_e else "s, v2")
            )
            duck = (
                f"SELECT {keep} FROM"
                f" (SELECT *, {vd} AS v2 FROM ({duck}))"
            )
        elif shape == 6:
            pass  # leave the row set as-is (columns a, b, s[, e])
        elif shape == 7 and r.random() < 0.4:
            # deterministic top-of-order: (a, b) is a unique key on the
            # synthetic table, so sort|take is a well-defined row set
            k = r.randint(1, 6)
            segs.append(f"sort by a asc, b asc | take {k}")
            duck = (
                f"SELECT * FROM ({duck}) ORDER BY a ASC NULLS FIRST,"
                f" b ASC NULLS FIRST LIMIT {k}"
            )
        elif shape == 7:
            # KQL null-ordering default: asc → nulls FIRST; (a, b)
            # unique on the synthetic table makes the order total
            segs.append(
                "sort by a asc, b asc, s asc | serialize"
                " | extend rn = row_number(), p = prev(a)"
                " | project s, rn, p"
            )
            w = (
                "ORDER BY a ASC NULLS FIRST, b ASC NULLS FIRST,"
                " s ASC NULLS FIRST"
            )
            duck = (
                f"SELECT s, row_number() OVER ({w}) AS rn,"
                f" lag(a) OVER ({w}) AS p FROM ({duck})"
            )
        elif shape == 8:
            # join against an aggregated sub-pipeline of the SOURCE
            # table: bare `on s` is $left.s == $right.s with RAW = (null
            # keys match nothing), duplicate right columns are renamed
            # "$right.<col>" (compiler.py::_join / JoinInner golden)
            kind = r.choice(["inner", "leftouter"])
            segs.append(
                f"join kind={kind}"
                " (T | summarize cnt = count() by s) on s"
            )
            jtype = "LEFT JOIN" if kind == "leftouter" else "JOIN"
            duck = (
                f'SELECT l.*, r.s AS "$right.s", r.cnt FROM ({duck}) l'
                f" {jtype} (SELECT s, count(*) AS cnt FROM"
                " (SELECT a, b, s FROM T) GROUP BY s) r ON l.s = r.s"
            )
        elif shape == 9:
            # distinct over a (possibly null-holding) column pair
            segs.append("distinct s, a")
            duck = f"SELECT DISTINCT s, a FROM ({duck})"
        elif shape == 10:
            # group by a COMPUTED string key (case-folds + concats
            # collapse distinct source values into shared groups)
            sp, sd = self.string()
            segs.append(f"summarize n = count() by t = {sp}")
            duck = (
                f"SELECT {sd} AS t, count(*) AS n"
                f" FROM ({duck}) GROUP BY t"
            )
        if r.random() < 0.4:
            segs.append("count")
            duck = f'SELECT count(*) AS "count()" FROM ({duck})'
        return " | ".join(segs), duck


# ------------------------------------------------------------- comparator


def _norm(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, dict):  # a map: Spark's dict, DuckDB's key/value lists
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=str
    )


def run_both(engine, con, pql: str, duck_sql: str):
    df = engine.query(pql)
    s_cols, s_rows = df.columns, df.collect()
    res = con.execute(duck_sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (
        f"columns diverge\npql: {pql}\nduck: {duck_sql}\n"
        f"spark={s_cols} duck={d_cols}"
    )
    sr, dr = _rows(s_cols, s_rows), _rows(d_cols, d_rows)
    assert sr == dr, (
        f"values diverge\npql: {pql}\nduck: {duck_sql}\n"
        f"spark({len(sr)})={sr[:6]}\nduck({len(dr)})={dr[:6]}"
    )


# --------------------------------------------------------------- fixtures


@pytest.fixture(scope="module")
def synth(spark):
    rows = []
    vals = [None, -2, 0, 1, 3]
    strs = [None, "", "x", "y"]
    i = 0
    for a in vals:
        for b in vals:
            rows.append((a, b, strs[i % len(strs)]))
            i += 1
    t = spark.createDataFrame(rows, "a long, b long, s string")
    con = duckdb.connect()
    con.execute("CREATE TABLE T (a BIGINT, b BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO T VALUES (?, ?, ?)", rows)
    eng = PqlEngine(spark, resolver=lambda n: t)
    yield eng, con
    con.close()


@pytest.fixture(scope="module")
def events_derived(spark):
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src.createOrReplaceTempView("__fuzz_events")
    t = spark.sql(_EVENTS_PREP.format(src="__fuzz_events"))
    con = duckdb.connect()
    import glob as _glob

    p = f"{SF_DIR}/events.parquet"
    pat = p + "/*.parquet" if _glob.glob(p + "/*.parquet") else p
    con.execute(
        "CREATE VIEW T AS " + _EVENTS_PREP.format(src=f"read_parquet('{pat}')")
    )
    eng = PqlEngine(spark, resolver=lambda n: t)
    yield eng, con
    con.close()


# -- seed corpus: one pipeline per grammar shape plus the regressions
#    this suite exists to pin (each entry is (pql, duck))
SEED_CORPUS = [
    (
        "T | where (a == b) | count",
        'SELECT count(*) AS "count()" FROM (SELECT * FROM'
        " (SELECT a, b, s FROM T) WHERE COALESCE(a = b, FALSE))",
    ),
    (
        "T | where isnull(a) | summarize n = count(), m = sum(b) by s",
        "SELECT s, count(*) AS n, sum(b) AS m FROM (SELECT * FROM"
        " (SELECT a, b, s FROM T) WHERE a IS NULL) GROUP BY s",
    ),
    (
        "T | extend e = (a / b) | project s, v = bin(e, 2)",
        "SELECT s, (CAST(floor((e) / 2) AS BIGINT) * 2) AS v FROM"
        " (SELECT *, ((a) / (b)) AS e FROM (SELECT a, b, s FROM T))",
    ),
    (
        "T | extend e = (a % b) | where (e >= -1) | distinct s, a",
        "SELECT DISTINCT s, a FROM (SELECT * FROM (SELECT *,"
        " ((a) % (b)) AS e FROM (SELECT a, b, s FROM T))"
        " WHERE ((e) >= (-1)))",
    ),
    (
        'T | where (s has "x") | top-hitters 3 of s',
        "SELECT s, count(*) AS hitters FROM (SELECT * FROM"
        " (SELECT a, b, s FROM T) WHERE"
        " list_contains(string_split_regex(lower(s), '[^a-zA-Z0-9]+'),"
        " 'x')) GROUP BY s ORDER BY hitters DESC, s ASC NULLS FIRST"
        " LIMIT 3",
    ),
    (
        "T | sample 0.5 by a | summarize n = count(), m ="
        " count_distinct(b) by s",
        "SELECT s, count(*) AS n, count(DISTINCT b) AS m FROM"
        " (SELECT * FROM (SELECT a, b, s FROM T) WHERE"
        " ('0x' || substr(md5(CAST(a AS VARCHAR)), 1, 8))::BIGINT <"
        f" {int(0.5 * float(1 << 32))}) GROUP BY s",
    ),
    (
        "T | extend e = iff((a < b), min_of(a, 2), max_of(b, -1))"
        " | project s, v = e",
        "SELECT s, e AS v FROM (SELECT *, (CASE WHEN ((a) < (b)) THEN"
        " least(a, 2) ELSE greatest(b, -1) END) AS e FROM"
        " (SELECT a, b, s FROM T))",
    ),
    (
        "T | sort by a asc, b asc, s asc | serialize"
        " | extend rn = row_number(), p = prev(a) | project s, rn, p",
        "SELECT s, row_number() OVER (ORDER BY a ASC NULLS FIRST,"
        " b ASC NULLS FIRST, s ASC NULLS FIRST) AS rn, lag(a) OVER"
        " (ORDER BY a ASC NULLS FIRST, b ASC NULLS FIRST, s ASC NULLS"
        " FIRST) AS p FROM (SELECT a, b, s FROM T)",
    ),
    (
        "T | summarize n = count(), m = binary_all_or(a) by s",
        "SELECT s, count(*) AS n, bit_or(a) AS m FROM"
        " (SELECT a, b, s FROM T) GROUP BY s",
    ),
    (
        'T | where ((s contains "X") or (a in (0, 1, 2)))'
        " | project-rename x = a, y = b | project-keep s, x, y"
        " | project-reorder y",
        "SELECT b AS y, s, a AS x FROM (SELECT * FROM"
        " (SELECT a, b, s FROM T) WHERE ((contains(lower(s), 'x'))"
        " OR ((a IN (0, 1, 2)))))",
    ),
]


# -- multi-output queries: (pql, {output name: duck}) — one mirror per
#    facet count table, the facet's ``with`` pipe as ``main``, and each
#    fork branch (an unnamed one is ``fork_<i>``)
MULTI_CORPUS = [
    (
        "T | where (a >= -2) | facet by s, b"
        " with ( where (b > 0) | summarize n = count(), m = sum(a) by s )",
        {
            "main": "SELECT s, count(*) AS n, sum(a) AS m FROM T"
            " WHERE a >= -2 AND b > 0 GROUP BY s",
            "s": "SELECT s, count(*) AS count_ FROM T WHERE a >= -2"
            " GROUP BY s",
            "b": "SELECT b, count(*) AS count_ FROM T WHERE a >= -2"
            " GROUP BY b",
        },
    ),
    (
        "T | extend c = (a + b) | fork lo = ( where (c < 1)"
        " | summarize n = count(), m = max(b) by s )"
        " ( summarize n = count() by a | where (n > 4) )",
        {
            "lo": "SELECT s, count(*) AS n, max(b) AS m FROM T"
            " WHERE a + b < 1 GROUP BY s",
            "fork_1": "SELECT * FROM (SELECT a, count(*) AS n FROM T"
            " GROUP BY a) WHERE n > 4",
        },
    ),
]

# -- mv-expand over a bag_pack map: one row per property, the cell a
#    single-entry map; with_itemindex numbers the properties from 0
_BAG = "(SELECT s, MAP {'x': a, 'y': b} AS m FROM T)"
MV_MAP_CORPUS = [
    (
        'T | extend m = bag_pack("x", a, "y", b) | mv-expand m'
        " | project s, m",
        "SELECT s, map_from_entries([e]) AS m FROM"
        f" (SELECT s, unnest(map_entries(m)) AS e FROM {_BAG})",
    ),
    (
        'T | extend m = bag_pack("x", a, "y", b)'
        " | mv-expand with_itemindex = i m | project s, i, m",
        "SELECT s, i, map_from_entries([e]) AS m FROM"
        " (SELECT s, unnest(range(len(map_entries(m)))) AS i,"
        f" unnest(map_entries(m)) AS e FROM {_BAG})",
    ),
]


# ------------------------------------------------------------------ tests


@pytest.mark.parametrize("idx", range(len(MULTI_CORPUS)))
def test_multi_output_synth(synth, idx):
    eng, con = synth
    pql, outputs = MULTI_CORPUS[idx]
    res = eng.query(pql)
    assert list(res) == list(outputs)
    for name, duck_sql in outputs.items():
        s_df = res[name]
        r = con.execute(duck_sql)
        d_cols = [c[0] for c in r.description]
        assert s_df.columns == d_cols, (pql, name)
        assert _rows(s_df.columns, s_df.collect()) == _rows(
            d_cols, r.fetchall()
        ), (pql, name)


@pytest.mark.parametrize("idx", range(len(MV_MAP_CORPUS)))
def test_mv_expand_map_synth(synth, idx):
    eng, con = synth
    run_both(eng, con, *MV_MAP_CORPUS[idx])


@pytest.mark.parametrize("idx", range(len(SEED_CORPUS)))
def test_seed_corpus_synth(synth, idx):
    eng, con = synth
    pql, duck_sql = SEED_CORPUS[idx]
    run_both(eng, con, pql, duck_sql)


def test_fuzz_synth_150(synth):
    # 150 random pipelines over the null-saturated synthetic table
    eng, con = synth
    for seed in range(150):
        pql, duck_sql = Gen(seed).pipeline()
        run_both(eng, con, pql, duck_sql)


def test_fuzz_events_80(events_derived):
    # 80 random pipelines over real sf0.001 parquet rows (serialize
    # shape excluded: (a, b) is non-unique here, so window order under
    # ties is engine-defined)
    eng, con = events_derived
    for seed in range(1000, 1080):
        pql, duck_sql = Gen(seed, allow_serialize=False).pipeline()
        run_both(eng, con, pql, duck_sql)
