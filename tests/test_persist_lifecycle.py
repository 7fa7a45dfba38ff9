"""The tracked-persist registry must actually drain (ADVICE r9):
``tracked_persist`` parks strong DataFrame refs until someone evicts,
so the session lifecycle — ``PqlEngine.close()`` / context manager,
and bench.py's per-query drain — must call ``unpersist_tracked``.
Temp views need no such drain: each one lives for a single statement,
and dropping it never evicts the caller's cache."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pql_spark.engine import PqlEngine, compile_pql
from pql_spark.operators._util import (
    _TRACKED_PERSISTS,
    tracked_persist,
    unpersist_tracked,
)


def test_engine_close_drains_registry(spark):
    unpersist_tracked()  # start clean
    df = tracked_persist(spark.range(10).withColumn("x", F.col("id") * 2))
    df.count()  # materialize the cache
    assert len(_TRACKED_PERSISTS) == 1
    assert df.storageLevel.useMemory
    eng = PqlEngine(spark, {"t": df})
    n = eng.close()
    assert n == 1
    assert _TRACKED_PERSISTS == []
    assert not df.storageLevel.useMemory  # block really evicted
    assert df.count() == 10  # evicted plan recomputes fine


def test_engine_context_manager_drains(spark):
    unpersist_tracked()
    with PqlEngine(spark) as eng:
        tracked_persist(spark.range(5))
        tracked_persist(spark.range(6))
        assert len(_TRACKED_PERSISTS) == 2
        assert eng is not None
    assert _TRACKED_PERSISTS == []


def test_pipeline_persists_are_tracked_and_drain(spark):
    """curate_corpus registers its intermediates; after the caller
    materializes and closes, nothing lingers in the registry."""
    from pql_spark.pipelines import curate_corpus

    unpersist_tracked()
    docs = spark.createDataFrame(
        [(i, "the quick brown fox " * 8) for i in range(40)],
        "doc_id long, text string",
    )
    with PqlEngine(spark):
        out = curate_corpus(docs, min_quality=0.0, near_dup_threshold=0.9)
        out.count()
        assert len(_TRACKED_PERSISTS) >= 1
    assert _TRACKED_PERSISTS == []


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
    """Every view is dropped right after its one ``spark.sql``, without
    waiting for ``close()``/``unpersist_tracked()``: a long loop of
    ``sql_over`` calls, a curation build with its QA report and an
    engine query leave no view behind, nor does a failing statement."""
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
    unpersist_tracked()
