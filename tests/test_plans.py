"""Physical-plan quality gates.

At 100 TB the difference between a good and bad plan is the job: these
tests pin the optimizations that must not regress — parquet predicate
pushdown, column pruning, top-k via TakeOrderedAndProject, broadcast
joins for small dimensions, and equi-join preservation for innerunique
(a coalesce-wrapped join key would force BroadcastNestedLoopJoin,
SURVEY.md §4)."""

from __future__ import annotations

import contextlib
import io

import pytest

from pql_spark import PqlEngine, compile_pql
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def engine(spark, sf_catalog):
    return PqlEngine(spark, resolver=sf_catalog)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plan(df) -> str:
    df.collect()  # finalize AQE
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet(engine):
    df = engine.query(
        'lineitem | where l_quantity > 45 | project l_orderkey, l_quantity'
    )
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in plan


def test_in_list_pushed_to_parquet(engine):
    df = engine.query(
        'events | where event_type in ("click", "purchase") | project event_id'
    )
    plan = formatted_plan(df)
    assert "In(event_type" in plan


def test_column_pruning(engine):
    df = engine.query("lineitem | project l_orderkey, l_quantity")
    plan = formatted_plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_top_plans_take_ordered(engine):
    plan = formatted_plan(engine.query("orders | top 5 by o_totalprice"))
    assert "TakeOrderedAndProject" in plan


def test_small_dim_join_broadcasts(engine):
    df = engine.query(
        "orders | join kind=inner (customer) on o_custkey == c_custkey"
        " | summarize n = count() by c_mktsegment"
    )
    assert "BroadcastHashJoin" in executed_plan(df)


def test_innerunique_stays_equi_join(engine):
    """The join key must compile to raw equality (not the null-safe
    coalesce wrapper) so Catalyst plans a hash join, mirroring the
    reference's own ON-clause special case (pql.go:673-691)."""
    df = engine.query(
        "lineitem | project l_orderkey"
        " | join kind=innerunique (orders) on l_orderkey == o_orderkey"
        " | summarize n = count() by o_orderstatus"
    )
    plan = executed_plan(df)
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_null_safe_eq_still_pushdownable_stays_jvm(engine):
    """where with == compiles to coalesce(=, false) — no Python UDFs
    anywhere in the plan (whole-stage codegen keeps running)."""
    df = engine.query('events | where event_type == "click" | count')
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partial_aggregation(engine):
    """summarize must plan partial (map-side) + final HashAggregate —
    the shuffle carries pre-aggregated rows, not raw data."""
    df = engine.query("lineitem | summarize n = count() by l_returnflag")
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2


def test_facet_tables_use_partial_aggregation(engine):
    res = engine.query("events | facet by event_type")
    plan = formatted_plan(res["event_type"])
    assert "partial_count" in plan  # map-side combine before the shuffle
    # the count table reads only the faceted column
    assert "ReadSchema: struct<event_type:string>" in plan


def test_union_inner_prunes_to_common_columns(engine):
    df = engine.query(
        "events | project user_id, value"
        " | union kind=inner (events | project user_id, event_type)"
        " | summarize n = count() by user_id"
    )
    plan = formatted_plan(df)
    # both scans read ONLY user_id (+ the branch's own projection input)
    assert "ReadSchema: struct<user_id:bigint>" in plan


def test_blocked_embedding_dedup_plan(spark, sf_catalog):
    """The distributed embedding dedup must be a shuffle + grouped-map
    plan over a pruned scan — no driver-side collect feeding it."""
    from pql_spark.operators.dedup import embedding_dup_pairs

    emb = sf_catalog("embeddings")
    df = embedding_dup_pairs(emb, threshold=0.9, n_blocks=4)
    plan = formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan  # the block-pair kernel
    # scan pruned to the two needed columns
    assert "vec_id" in plan and "embedding" in plan
    assert "meta" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_top_nested_others_broadcasts_survivors(engine):
    df = engine.query(
        'events | top-nested 2 of event_type with others = "OTHER"'
        " by n = count()"
    )
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_find_pushes_filter_into_both_scans(engine):
    # `find in (…) where p` desugars to union+filter; Catalyst must
    # push a same-named predicate through the union into EVERY scan
    df = engine.query(
        "find in (customer, supplier) where c_nationkey == 3"
        " or s_nationkey == 3 project source_, c_name, s_name"
    )
    plan = formatted_plan(df)
    # both parquet scans present, each pruned to the needed columns
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert "Union" in plan
    # no full-schema reads: each side reads only name + nationkey
    assert "ReadSchema: struct<c_name:string,c_nationkey:int>" in plan
    assert "ReadSchema: struct<s_name:string,s_nationkey:int>" in plan


def test_sequence_detect_no_cartesian(engine):
    df = engine.query(
        """
        events
        | evaluate sequence_detect(ts, 1d, 2d,
            v = event_type == "view", p = event_type == "purchase"
            by user_id)
        """
    )
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one keyed window pass per chained step
    assert "Window" in plan
    # the step predicates evaluate JVM-side (no Python eval in plan)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_reduce_by_partial_aggregation(engine):
    df = engine.query("events | reduce by event_type")
    plan = formatted_plan(df)
    assert "partial_count" in plan or "Partial" in plan
    # one shuffle on the pattern key (each Exchange appears twice in
    # formatted output: once in the tree, once as a detail header)
    assert plan.count("Exchange") == 2


def test_autocluster_single_cube_shuffle(engine):
    df = engine.query(
        'events | evaluate autocluster(10, event_type)'
    )
    plan = formatted_plan(df)
    assert "Expand" in plan  # native grouping sets
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_lm_score_broadcasts_vocab(spark, sf_catalog):
    from pql_spark.operators import unigram_lm_score

    df = unigram_lm_score(sf_catalog("documents"), vocab_size=100)
    plan = formatted_plan(df)
    # vocab join must be a broadcast HASH join (the nested-loop joins
    # in the plan are the 1-row total cross-joins, which is fine)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    # top-V fits without a total sort
    assert "TakeOrderedAndProject" in plan


def test_line_dedup_corpus_plan(spark, sf_catalog):
    from pql_spark.operators import dedup_lines_corpus

    df = dedup_lines_corpus(sf_catalog("documents"))
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # first-occurrence aggregate is partial-aggregated (map-side combine
    # absorbs hot boilerplate lines)
    assert "partial_min" in plan
    assert "BatchEvalPython" not in plan


def test_dedup_lines_within_doc_is_narrow(spark, sf_catalog):
    from pql_spark.operators import dedup_lines

    df = dedup_lines(sf_catalog("documents"))
    plan = formatted_plan(df)
    assert "Exchange" not in plan  # zero shuffles
    assert "BatchEvalPython" not in plan


def test_geo_radius_join_plan_is_hash_equi_join(spark):
    """The spatial join must be ONE hash equi-join on the integer cell
    (broadcast or shuffled — never a cartesian/nested-loop), with the
    haversine verify riding the join, not a post-join blowup."""
    from pyspark.sql import functions as F

    from pql_spark.operators.geo import geo_radius_join

    pts = spark.range(500).select(
        F.col("id"),
        (F.lit(-122.5) + (F.col("id") % 40) * 0.004).alias("lon"),
        (F.lit(37.6) + ((F.col("id") * 13) % 40) * 0.004).alias("lat"),
    )
    df = geo_radius_join(pts, pts, radius_m=300.0, level=15)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BatchEvalPython" not in plan  # all-Catalyst, no Python


def test_hamming_dup_pairs_plan(spark):
    """The banded-Hamming join: posting-list candidates (one groupBy
    shuffle), equi-joins back for the verify — no cartesian, no
    row-at-a-time Python."""
    from pyspark.sql import functions as F

    from pql_spark.operators.dedup import hamming_dup_pairs

    sig = spark.range(400).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (F.col("id") * 31 + i) % 251,
        ).cast("array<int>").alias("sig"),
    )
    df = hamming_dup_pairs(sig, "sig", "id", 16, 2, 8)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # posting-list aggregation is partial-aggregated (map-side combine)
    assert "partial_sort_array" in plan or "partial_collect_list" in plan


def test_sql_backend_path_same_physical_shape(spark, sf_catalog):
    """The batched compile path (PqlEngine.query) must reach the same
    physical strategy as the DataFrame compiler on the canonical
    where+summarize+sort pipeline: pushed filter, pruned scan, partial
    aggregation — the plan quality is backend-independent."""
    q = (
        "lineitem | where l_quantity > 45"
        " | summarize n = count() by l_returnflag | sort by n desc"
    )
    for backend, df in (
        ("df", compile_pql(q, sf_catalog)),
        ("sql", PqlEngine(spark, resolver=sf_catalog).query(q)),
    ):
        plan = formatted_plan(df)
        assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
            "PushedFilters"
        )[1][:120], backend
        assert "partial_count" in plan, backend
        assert "TakeOrderedAndProject" in plan or "Sort" in plan, backend


_PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _python_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in _PYTHON_NODES if n in plan]


def test_batch_minhash_and_curation_run_no_python_workers(spark, monkeypatch):
    """Batch MinHash signatures are a JVM aggregate: neither the pair
    operator nor the curation pipeline (whose near-dup stage it is) may
    plan a Python-worker node.  The pipeline's checkpoints cut their
    input plans out of every later tree string, so the executed plan of
    each frame it checkpoints is recorded and checked too."""
    from pql_spark.operators.dedup import minhash_dup_pairs
    from pql_spark.pipelines import curate_corpus

    docs = spark.read.parquet(str(SF_SMOKE / "documents.parquet"))
    frame_cls = type(docs)
    checkpointed: list[str] = []
    local_checkpoint = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        out = local_checkpoint(self, *args, **kwargs)
        checkpointed.append(
            self._jdf.queryExecution().executedPlan().toString()
        )
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    assert _python_nodes(minhash_dup_pairs(docs)) == []
    assert _python_nodes(minhash_dup_pairs(docs, max_bucket=8)) == []
    qa: dict = {}
    out = curate_corpus(docs, qa=qa)
    assert _python_nodes(out) == []
    for name, frame in qa.items():
        assert _python_nodes(frame) == [], name
    # post-dedup corpus, drop list, QA base
    assert len(checkpointed) == 3
    for plan in checkpointed:
        assert [n for n in _PYTHON_NODES if n in plan] == []


def test_curation_qa_reads_its_checkpoints(spark):
    """The QA report's frames are built over the pipeline's local
    checkpoints, not over the lineage that produced them: their
    executed plans scan the checkpointed RDDs, with no cached relation
    and no re-read of the source files."""
    from pql_spark.pipelines import curate_corpus

    docs = spark.read.parquet(str(SF_SMOKE / "documents.parquet"))
    qa: dict = {}
    curate_corpus(docs, qa=qa)
    for name in ("stage_counts", "profile"):
        plan = executed_plan(qa[name])
        assert "ExistingRDD" in plan, name
        for leaf in ("InMemoryRelation", "InMemoryTableScan", "Scan parquet"):
            assert leaf not in plan, (name, leaf)
