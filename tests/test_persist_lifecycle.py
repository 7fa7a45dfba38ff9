"""The library persists nothing and keeps no cached state in the
caller's session: its reuse points are Spark's own (exchange reuse
inside one plan, or a ``localCheckpoint`` whose blocks belong to the
frame it returns), each temp view lives for a single statement, and
dropping a view never evicts the caller's cache.  ``PqlEngine.close()``
therefore has nothing to release, and closing one engine cannot touch
what another engine or the caller cached."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pql_spark.engine import PqlEngine, compile_pql
from tests.conftest import cache_entries


def test_pipeline_leaves_the_persist_registry_alone(spark):
    """curate_corpus checkpoints its reuse points instead of persisting
    them: the session's persist registry (Spark's ``CacheManager``) gains
    no entry, and the result is still readable after an engine closes."""
    from pql_spark.pipelines import curate_corpus

    before = cache_entries(spark)
    docs = spark.createDataFrame(
        [(i, f"doc {i % 7} the quick brown fox " * 8) for i in range(40)],
        "doc_id long, text string",
    )
    qa: dict = {}
    out = curate_corpus(
        docs, min_quality=0.0, near_dup_threshold=0.9, qa=qa
    )
    rows = sorted(out.collect())
    assert len(rows) > 0
    assert cache_entries(spark) == before
    with PqlEngine(spark):
        pass
    assert sorted(out.collect()) == rows
    assert {r.stage: r.rows for r in qa["stage_counts"].collect()}[
        "final"
    ] == len(rows)
    assert cache_entries(spark) == before


def test_engines_share_a_session_without_touching_its_cache(
    spark, tmp_path
):
    """Two engines on one session: a frame the caller persisted stays
    cached after both query it and one of them closes, and no operator
    that once persisted an intermediate (the banded-Hamming signatures,
    the unigram-LM fit, the incremental near-dup bands, a
    ``materialize`` let on the DataFrame compiler) adds a cache entry."""
    from pql_spark.operators import near_dup_incremental, unigram_lm_score
    from pql_spark.operators.dedup import hamming_dup_pairs

    t = spark.range(100).withColumn("k", F.col("id") % 3)
    t.persist()
    try:
        t.count()
        before = cache_entries(spark)
        assert _is_cached(spark, t)
        first = PqlEngine(spark, resolver={"t": t})
        second = PqlEngine(spark, resolver={"t": t})
        q = "t | summarize n = count() by k"
        want = [(0, 34), (1, 33), (2, 33)]
        assert sorted((r.k, r.n) for r in first.query(q).collect()) == want
        assert sorted((r.k, r.n) for r in second.query(q).collect()) == want
        first.close()
        assert _is_cached(spark, t)
        assert sorted((r.k, r.n) for r in second.query(q).collect()) == want
        second.close()
        assert _is_cached(spark, t)
        assert cache_entries(spark) == before
    finally:
        t.unpersist()

    before = cache_entries(spark)
    sig = spark.range(200).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (F.col("id") / 2).cast("long") * 31 + i,
        ).cast("array<int>").alias("sig"),
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i % 5} the quick brown fox jumps") for i in range(30)],
        "doc_id long, text string",
    )
    built = {
        "hamming_dup_pairs": lambda: hamming_dup_pairs(
            sig, "sig", "id", 16, 2, 8
        ),
        "unigram_lm_score": lambda: unigram_lm_score(docs, vocab_size=10),
        "near_dup_incremental": lambda: near_dup_incremental(
            docs, str(tmp_path / "state")
        ),
        "materialize": lambda: compile_pql(
            "let m = materialize(t | where k >= 1);"
            " m | join kind=inner (m) on id | count",
            {"t": t}.__getitem__,
        ),
    }
    for name, build in built.items():
        assert build().collect(), name
        assert cache_entries(spark) == before, name


def _is_cached(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


@pytest.mark.parametrize("backend", ["auto", "sql", "df"])
def test_query_keeps_the_callers_cache(spark, backend):
    """A persisted resolver frame is still cached after a query: the
    SQL path's temp views are removed by name only, never with the
    UNCACHE that ``spark.catalog.dropTempView`` cascades.  ``auto`` is
    ``PqlEngine.query`` (SQL, DataFrame fallback on a refusal), ``sql``
    its SQL path alone, ``df`` the DataFrame compiler alone."""
    t = spark.range(100).withColumn("k", F.col("id") % 3)
    t.persist()
    try:
        t.count()
        assert _is_cached(spark, t)
        q = "t | summarize n = count() by k"
        eng = PqlEngine(spark, resolver={"t": t})
        if backend == "auto":
            out = eng.query(q)
        elif backend == "sql":
            out = eng._query_via_sql(q, {})
        else:
            out = compile_pql(q, {"t": t}.__getitem__)
        rows = out.collect()
        assert sorted((r.k, r.n) for r in rows) == [(0, 34), (1, 33), (2, 33)]
        assert _is_cached(spark, t), backend
    finally:
        t.unpersist()


def _pql_views(spark) -> list[str]:
    return [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith(("__sq_", "__pql_v"))
    ]


def test_no_temp_view_outlives_its_statement(spark):
    """Every view is dropped right after its one ``spark.sql``: a long
    loop of ``sql_over`` calls, a curation build with its QA report and
    an engine query leave no view behind, nor does a failing statement."""
    from pyspark.errors import AnalysisException

    from pql_spark.operators._util import sql_over
    from pql_spark.pipelines import curate_corpus

    src = spark.range(3)
    for i in range(1000):
        sql_over({"s": src}, f"SELECT id + {i} AS x FROM {{s}}")
    assert sql_over({"s": src}, "SELECT sum(id) AS n FROM {s}").head().n == 3
    with pytest.raises(AnalysisException):
        sql_over({"s": src}, "SELECT no_such_column FROM {s}")
    docs = spark.createDataFrame(
        [(i, f"doc {i} the quick brown fox " * 6) for i in range(30)],
        "doc_id long, text string",
    )
    qa: dict = {}
    curate_corpus(docs, min_quality=0.0, qa=qa).count()
    PqlEngine(spark, resolver={"t": src}).query("t | count").collect()
    assert _pql_views(spark) == []
