"""Shared operator utilities."""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rebalance(df: DataFrame, key: str | None = None) -> DataFrame:
    """Spread a under-partitioned input across the cluster's cores.

    Small single-file tables arrive as ONE input split, which would
    serialize every narrow stage of a compute-heavy operator onto one
    core.  A round-robin repartition to the default parallelism costs
    one small shuffle and buys full-width execution — the same layout a
    real multi-split dataset gets for free.  No-op when the input is
    already parallel enough (the 100 TB case: thousands of splits).

    The width probe must NOT execute the plan: ``df.rdd
    .getNumPartitions()`` under AQE materializes query stages — on a
    composed input it ran the caller's whole upstream chain as an
    extra job (measured 2.4 s at sf0.1 inside curate_corpus) before
    the caller executed it again.  Instead, two job-free checks: a
    leaf file count ≥ cores means the scan alone is wide, and any
    Exchange / InMemoryTableScan in the compiled physical plan means
    a shuffle (or a cached post-shuffle layout) already widens the
    plan to ``spark.sql.shuffle.partitions``.

    ``key``: hash-partition on this column instead of round-robin.  An
    operator that next groups or joins on ``key`` (the MinHash
    ``GROUP BY id``) then reuses the layout instead of shuffling
    again; with unique keys the spread is as even as round-robin."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if "Exchange" in plan or "InMemoryTableScan" in plan:
            return df
    except Exception:  # noqa: BLE001 — non-SQL-backed plans: play safe
        pass
    return df.repartition(target, key) if key else df.repartition(target)


def sql_with_views(
    spark: SparkSession, sql: str, views: Mapping[str, DataFrame | None]
) -> DataFrame:
    """The one temp-view lifecycle: register each frame under its
    collision-proof name, run ONE ``spark.sql``, then drop every name
    in ``views`` again, also when the statement fails.  A ``None``
    frame names a view that something else registered (a streaming
    memory sink's); it is only dropped.

    Spark analyses the statement eagerly, so the returned DataFrame no
    longer needs the names.  The drop goes through the session catalog,
    which removes only the name: ``spark.catalog.dropTempView`` would
    also UNCACHE every cache entry whose plan contains the view's plan,
    evicting the caller's persisted frames."""
    try:
        for name, frame in views.items():
            if frame is not None:
                frame.createOrReplaceTempView(name)
        return spark.sql(sql)
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in views:
            catalog.dropTempView(name)


def sql_over(frames: dict[str, DataFrame], sql_fmt: str) -> DataFrame:
    """Run ONE ``spark.sql`` over temp views of the given frames.

    ``sql_fmt`` references each frame by ``{alias}`` (``str.format``:
    literal braces are doubled).  Driver-cost device (r16, guide §4's
    Python-boundary tax in its driver-side form): a chain of N
    DataFrame operations pays N py4j round trips AND N eager JVM
    analysis passes while building a plan; registering the input frames
    as temp views and parsing the whole downstream as one SQL statement
    yields the same analyzed tree in ONE pass.  The views exist only
    for that one call (:func:`sql_with_views`)."""
    from uuid import uuid4

    spark = next(iter(frames.values())).sparkSession
    names = {alias: f"__sq_{alias}_{uuid4().hex[:8]}" for alias in frames}
    return sql_with_views(
        spark,
        sql_fmt.format(**names),
        {names[alias]: frame for alias, frame in frames.items()},
    )


def pinned_filter(df: DataFrame, cond) -> DataFrame:
    """``df.filter(cond)`` WITHOUT predicate pushdown.

    Catalyst pushes filters below projections by SUBSTITUTING the
    referenced column's defining expression into the predicate — for a
    cheap predicate over an expensive derived column that (a) evaluates
    the whole tree twice (once in the sunk Filter, once in the Project
    above) and (b) can sink the tree below a repartition onto the
    narrow single-split pre-shuffle stage, serializing it on one core.
    Measured on the curation chain at sf0.1: quality/repetition filters
    went 0.8 s → 4.6 s from exactly this.

    The always-true ``spark_partition_id() >= 0`` guard marks the
    predicate non-deterministic, which pins the Filter exactly where
    it was written; the projection below stays collapsed and its tree
    evaluates ONCE per row.  (``rand() >= 0`` does NOT work — the
    optimizer range-folds it back to a deterministic predicate; the
    partition id is free to evaluate and survives optimization.)  Use
    only when the predicate references expensive computed columns —
    for scan-column predicates pushdown is the optimization, not the
    bug."""
    return df.filter(
        F.when(F.spark_partition_id() >= 0, cond).otherwise(F.lit(False))
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join resilient to extreme key skew.

    When one join-key value dominates (the classic SIEM/user-activity
    hot key), a plain hash join puts that key's entire partition on one
    task.  AQE's skew-join splitting handles moderate skew; for the
    pathological case this spreads the LEFT side over ``salt``
    sub-partitions (deterministic hash of the whole row) and replicates
    the matching RIGHT rows to every sub-partition, so the hot key runs
    on ``salt`` tasks instead of one.  Result is exactly the plain
    join's (verified by tests); cost is ``salt``× replication of the
    right side — use with a small-to-medium right side.
    """
    if how not in ("inner", "left", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    salt_l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*left.columns), F.lit(salt))
    )
    salt_r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = salt_l.join(salt_r, [on, "__salt"], how)
    return out.drop("__salt")
