"""Streaming pipeline building blocks.

Scale design: every operator here is a standard Structured Streaming
shape — incremental state in the state store, watermark-bounded (state
is evicted once the watermark passes), shuffle only on the grouping
keys.  On a cluster the same code runs continuously from Kafka/files;
tests drive it with ``trigger(availableNow=True)`` over the synthetic
``events`` parquet and a memory sink.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from pathlib import Path
from typing import Any
from uuid import uuid4

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pql_spark.operators._util import sql_with_views

# (schema, stream_dir) per parquet path — see stream_parquet_table
_STREAM_SRC_CACHE: dict[tuple, tuple] = {}


def stream_parquet_table(
    spark: SparkSession,
    sf_dir: str,
    name: str = "events",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over one of the synthetic parquet tables.

    The schema is taken from a batch read of the same path (streaming
    file sources require an explicit schema).  Nanosecond timestamp
    columns get the same long→timestamp restore as the batch catalog.
    """
    from pql_spark.sources.catalog import (
        _force_utc_ltz,
        _nanos_ts_columns,
        snapshot_key,
    )

    path = Path(sf_dir) / f"{name}.parquet"
    if _nanos_ts_columns(path):  # see sources.catalog._read_parquet
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _force_utc_ltz(spark)  # naive parquet ts → TIMESTAMP, not NTZ
    # schema + symlink dir are cached per (path, size, mtime): a
    # benchmark/test session builds the same source many times and a
    # schema footer read + mkdtemp costs ~0.1-0.2 s per call.  The stat
    # in the key re-reads a file REPLACED at the same path (ADVICE r8);
    # sources.catalog.clear_source_caches() drops everything.
    key = snapshot_key(path)
    cached = _STREAM_SRC_CACHE.get(key)
    if cached is None:
        schema = spark.read.parquet(str(path)).schema
        stream_dir = path
        if path.is_file():
            # the streaming file source requires a directory; expose a
            # single-file table through a symlink dir (zero copy)
            import tempfile

            stream_dir = Path(
                tempfile.mkdtemp(prefix=f"pql_stream_{name}_")
            )
            (stream_dir / path.name).symlink_to(path)
        cached = (schema, stream_dir)
        _STREAM_SRC_CACHE[key] = cached
    schema, stream_dir = cached
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(str(stream_dir))
    for c in _nanos_ts_columns(path):
        # integer `div` — float division would round 1e18-scale nanos
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def windowed_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 day",
    keys: Iterable[str] = ("event_type",),
    aggs: dict[str, Any] | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding event-time aggregation.

    State per (window, keys) lives in the state store and is dropped
    once the watermark passes the window end — bounded memory no matter
    how long the stream runs.
    """
    aggs = aggs or {
        "n": F.count(F.lit(1)),
        "avg_value": F.avg("value"),
    }
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            *aggs.keys(),
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Session windows: events for one key within ``gap`` of each other
    merge into one session (built-in ``session_window`` — incremental
    merge in the state store, no custom state code)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col(key_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_STATEFUL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("batch_events", T.LongType()),
    ]
)

_STATEFUL_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def stateful_user_counts(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    state_shards: int | None = None,
) -> DataFrame:
    """Custom stateful operator: running per-user totals via
    ``applyInPandasWithState``.

    The canonical shape for state Spark's built-ins can't express
    (custom eviction, conditional alerts, model state): per-key state is
    a tuple in the state store, each micro-batch's rows arrive as Arrow
    batches, and the update function merges them — Python runs once per
    key per batch, not per row.

    ``state_shards``: keying the operator on the raw user id means one
    Python call + one state round-trip PER USER per batch — fine for
    hot-key cardinalities, but at millions of active users the ~0.5 ms
    per-group overhead dominates the arithmetic.  An integer here
    switches to the Flink key-group pattern (same as
    :func:`stream_near_dup`): groups are ``pmod(hash(user), shards)``,
    each shard's state is its users' (n, total) parallel arrays, and
    batch rows are folded in with ONE pandas groupby per shard.
    Emitted rows are identical (every user present in the batch, with
    running totals); only the group key changes.  Size shards so one
    shard's users fit an executor's memory.
    """

    if state_shards is None:

        def update(
            key: tuple,
            pdfs: Iterator[pd.DataFrame],
            state: GroupState,
        ) -> Iterator[pd.DataFrame]:
            n, total = state.get if state.exists else (0, 0.0)
            batch_n = 0
            for pdf in pdfs:
                batch_n += len(pdf)
                n += len(pdf)
                total += float(pdf[value_col].sum())
            state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "batch_events": [batch_n],
                }
            )

        return df.groupBy(key_col).applyInPandasWithState(
            update,
            outputStructType=_STATEFUL_OUT,
            stateStructType=_STATEFUL_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    shard_state = T.StructType(
        [
            T.StructField("users", T.ArrayType(T.LongType())),
            T.StructField("ns", T.ArrayType(T.LongType())),
            T.StructField("totals", T.ArrayType(T.DoubleType())),
        ]
    )

    def update_shard(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            su, sn, st = state.get
            held = {
                (None if u is None else int(u)): (int(a), float(b))
                for u, a, b in zip(su, sn, st)
            }
        else:
            held = {}
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = pd.concat(frames) if len(frames) > 1 else frames[0]
        # size (not count) so null-VALUE rows count like the unsharded
        # len(pdf); dropna=False so null KEYS get a group like Spark's
        # groupBy in the unsharded path (ADVICE r7)
        agg = batch.groupby(key_col, dropna=False)[value_col].agg(
            ["size", "sum"]
        )
        out_u, out_n, out_t, out_b = [], [], [], []
        for user, row in agg.iterrows():
            uk = None if pd.isna(user) else int(user)
            bn = int(row["size"])
            # pandas grouped sum of an all-null group is 0.0 (min_count
            # defaults to 0), matching the unsharded Series.sum()
            bs = 0.0 if pd.isna(row["sum"]) else float(row["sum"])
            n0, t0 = held.get(uk, (0, 0.0))
            n1, t1 = n0 + bn, t0 + bs
            held[uk] = (n1, t1)
            out_u.append(uk)
            out_n.append(n1)
            out_t.append(t1)
            out_b.append(bn)
        state.update(
            (
                list(held.keys()),
                [a for a, _ in held.values()],
                [b for _, b in held.values()],
            )
        )
        yield pd.DataFrame(
            {
                "user_id": out_u,
                "n_events": out_n,
                "total_value": out_t,
                "batch_events": out_b,
            }
        )

    sharded = df.withColumn(
        "__shard",
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(state_shards)).cast("int"),
    )
    return sharded.groupBy("__shard").applyInPandasWithState(
        update_shard,
        outputStructType=_STATEFUL_OUT,
        stateStructType=shard_state,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    df: DataFrame,
    subset: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: keep the first row per key seen within the
    watermark horizon.

    ``dropDuplicates`` on a stream is stateful — one state entry per
    distinct key, evicted when the watermark passes — so memory is
    bounded by keys-per-horizon, not stream length.  The streaming twin
    of :func:`pql_spark.operators.dedup.dedup_exact`.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicates(subset)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str = "ts",
    by: str = "user_id",
    within: str = "2 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream inner join: left events matching right events of
    the same key within ``[right.ts, right.ts + within]``.

    The canonical two-stream correlation (click↔purchase, alert↔flow):
    both sides are watermarked and the join carries an event-time range
    constraint, so each side buffers only ``within + watermark`` of
    state — bounded memory on unbounded streams.  Batch-equivalent to
    :func:`pql_spark.operators.temporal.range_join` over the same
    window (asserted in tests and by the driver oracle).
    """
    lw = left.withWatermark(ts_col, watermark).alias("l")
    rw = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{by}") == F.col(f"r.{by}"))
        & (F.col(f"l.{ts_col}") >= F.col(f"r.{ts_col}"))
        & (
            F.col(f"l.{ts_col}")
            <= F.col(f"r.{ts_col}") + F.expr(f"INTERVAL {within}")
        )
    )
    return lw.join(rw, cond, "inner")


def pql_stream(
    spark: SparkSession,
    pql_text: str,
    resolver,
) -> DataFrame:
    """Compile a PQL query against streaming sources.

    The compiler is source-agnostic: ``where``/``project``/``extend``/
    ``summarize`` produce valid streaming plans (aggregations run in
    update/complete mode); ``sort``/``take``/``top`` are rejected by
    Spark's unsupported-operation check, matching Structured Streaming
    semantics.
    """
    from pql_spark import PqlEngine

    return PqlEngine(spark, resolver=resolver).query(pql_text)


def run_available_now_df(
    df: DataFrame,
    output_mode: str = "update",
    no_data_batches: bool | None = None,
) -> DataFrame:
    """Like :func:`run_available_now` but returns the drained sink as a
    MATERIALIZED DataFrame (``localCheckpoint`` of the memory sink —
    stays JVM-side).  Collecting the sink to Python ``Row`` objects and
    re-wrapping with ``createDataFrame`` costs ~3 s per 100 k rows of
    pure serialization; use this variant whenever the result feeds
    further DataFrame work."""
    out = _drain_to_memory(df, output_mode, no_data_batches)
    return out.localCheckpoint()


def run_available_now(
    df: DataFrame,
    output_mode: str = "update",
    no_data_batches: bool | None = None,
) -> list:
    """Drain a streaming DataFrame through a memory sink with
    ``availableNow`` (process-everything-then-stop) and return the
    collected rows — the batch-equivalence harness used by tests.

    ``no_data_batches=None`` (auto) skips the trailing zero-input
    finalize micro-batch for ``update``/``complete`` drains — those
    modes emit on the DATA batch, so the extra batch only evicts state
    (~0.7 s of planning + state commits per drain for nothing).  For
    ``append`` it stays ON because an append-mode watermark-gated
    aggregation emits a window ONLY when a later batch advances the
    watermark past it — skipping the finalize batch would silently drop
    the final windows.  Pass ``False`` explicitly for append drains of
    eager operators (stream-stream inner joins, ``dropDuplicates``,
    stateful kernels), which emit their matches in the data batch."""
    return _drain_to_memory(df, output_mode, no_data_batches).collect()


_ND_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


def _drain_to_memory(
    df: DataFrame,
    output_mode: str,
    no_data_batches: bool | None = None,
) -> DataFrame:
    """Shared drain: run ``df`` into a uniquely named memory sink with
    ``availableNow`` and return the sink's contents as a DataFrame; the
    temp view the sink registered is dropped again.

    ``no_data_batches`` — see :func:`run_available_now`; ``None``
    resolves to False (skip the finalize batch) for update/complete,
    True (keep it) for append."""
    name = f"mem_{uuid4().hex[:12]}"
    spark = df.sparkSession
    if no_data_batches is None:
        no_data_batches = output_mode == "append"
    # state-store partition count is fixed at query start from this conf;
    # a short availableNow drain doesn't need a wide state store, and
    # every extra partition is per-micro-batch task + state-commit
    # overhead (measured on the stream-stream interval join at sf0.1:
    # 8 partitions 2.7 s, 4 → 2.1 s).  4 keeps multi-task semantics
    # honest while halving the fixed cost; long-running production
    # streams size their own shuffle.partitions, not this harness.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get(_ND_CONF)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set(_ND_CONF, str(no_data_batches).lower())
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    # a transient drain doesn't need a durable checkpoint; keep the
    # state store's many tiny files in memory when a tmpfs exists
    shm = Path("/dev/shm")
    if shm.is_dir():
        writer = writer.option(
            "checkpointLocation", str(shm / f"pql_ckpt_{name}")
        )
    try:
        q = writer.start()
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(_ND_CONF, prev_nd)
        if shm.is_dir():
            import shutil

            shutil.rmtree(shm / f"pql_ckpt_{name}", ignore_errors=True)
        # best-effort: unload cached state-store providers so a long
        # suite of transient drains doesn't accumulate per-query state
        # maps + maintenance tasks in the executor JVM (an ACTIVE query
        # simply reloads its providers on the next micro-batch, so this
        # is safe even with concurrent streams — it trades one reload
        # for bounded memory)
        try:
            spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()  # noqa: E501
        except Exception:
            pass
    return sql_with_views(spark, f"SELECT * FROM {name}", {name: None})


# ------------------------------------------------------------------ sinks


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str | None = None,
    partition_by: Iterable[str] | None = None,
    available_now: bool = True,
    await_seconds: int | None = 300,
    no_data_batches: bool | None = None,
):
    """``writeStream`` → parquet files (append mode — the only mode the
    file sink supports; windowed aggregations must carry a watermark so
    finalized windows can be appended).

    ``no_data_batches=False`` skips the trailing zero-input finalize
    micro-batch for STATELESS plans (pure filters/projections) where it
    can emit nothing; leave it None (conf untouched) for watermark-
    gated aggregations, whose final windows are emitted BY that batch.

    ``partition_by`` gives hive-style directory partitioning, the same
    layout the batch sinks use — downstream readers get partition
    pruning on those columns.  ``checkpoint`` defaults to a sibling
    ``<path>_ckpt`` directory: with a durable checkpoint the sink is
    exactly-once across restarts (file-sink manifest + WAL).  With
    ``available_now`` the call drains everything currently readable and
    returns after termination; pass ``available_now=False`` for a
    continuously running query (returns the live StreamingQuery).
    """
    writer = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option(
            "checkpointLocation",
            checkpoint or f"{path.rstrip('/')}_ckpt",
        )
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if not available_now:
        return writer.start()
    writer = writer.trigger(availableNow=True)
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get(_ND_CONF)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    if no_data_batches is not None:
        spark.conf.set(_ND_CONF, str(no_data_batches).lower())
    try:
        q = writer.start()
        try:
            q.awaitTermination(await_seconds)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(_ND_CONF, prev_nd)
    return q


def stream_upsert_to_parquet(
    df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str | None = None,
    await_seconds: int | None = 300,
):
    """``foreachBatch`` upsert: merge each micro-batch into a parquet
    target by key — the update-mode companion to the append-only file
    sink (e.g. keep one current row per user/window while the stream
    runs).

    Each batch: drop in-batch duplicate keys (last write wins within a
    batch is not defined by Spark — rows are deduped deterministically
    by keeping the max over the non-key columns' struct), anti-join the
    existing target on the keys, union the new rows, and atomically
    swap the target directory.  Plain parquet has no transaction log,
    so the swap is directory-rename atomicity (fine for a single
    writer); on a real lakehouse swap this helper's body for
    ``MERGE INTO`` on Delta/Iceberg — the foreachBatch wiring is
    identical.
    """
    import shutil

    target = Path(path)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        others = [c for c in batch_df.columns if c not in keys]
        dedup = (
            batch_df.groupBy(*[F.col(k) for k in keys])
            .agg(
                F.max(F.struct(*[F.col(c) for c in others])).alias("__v")
            )
            .select(*keys, "__v.*")
            if others
            else batch_df.dropDuplicates(keys)
        )
        if target.exists():
            cur = spark.read.parquet(str(target))
            merged = cur.join(
                F.broadcast(dedup.select(*keys).distinct()),
                keys,
                "left_anti",
            ).unionByName(dedup)
        else:
            merged = dedup
        tmp = target.with_name(target.name + f".__tmp{batch_id}")
        merged.write.mode("overwrite").parquet(str(tmp))
        if target.exists():
            shutil.rmtree(target)
        tmp.rename(target)

    writer = (
        df.writeStream.foreachBatch(merge)
        .outputMode("update")
        .option(
            "checkpointLocation",
            checkpoint or f"{str(target).rstrip('/')}_ckpt",
        )
        .trigger(availableNow=True)
    )
    # an availableNow drain doesn't need a wide state store (see
    # run_available_now); the conf is fixed at query start.  update-mode
    # foreachBatch emits on the data batch, so the zero-input finalize
    # batch is skipped too (see run_available_now).
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get(_ND_CONF)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set(_ND_CONF, "false")
    try:
        q = writer.start()
        try:
            q.awaitTermination(await_seconds)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(_ND_CONF, prev_nd)
    return q


def merge_upsert_sql(table: str, view: str, keys: list[str]) -> str:
    """The ``MERGE INTO`` statement a lakehouse upsert batch issues:
    update-all on key match, insert-all otherwise.  Split out so the
    statement shape is unit-testable without a Delta/Iceberg runtime."""

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    return (
        f"MERGE INTO {table} t USING {q(view)} s ON {on}"
        " WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
    )


def _lakehouse_available(spark: SparkSession) -> str | None:
    """Name of the available transactional table format, or None.

    Delta: the ``delta-spark`` package registers
    ``DeltaSparkSessionExtension``; Iceberg: a SparkCatalog /
    SparkSessionCatalog is configured.  Both are classpath-level
    deployment choices — detectable, not assumable."""
    try:
        import delta  # noqa: F401

        return "delta"
    except ImportError:
        pass
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    if "DeltaSparkSessionExtension" in ext:
        return "delta"
    if "IcebergSparkSessionExtensions" in ext:
        return "iceberg"
    return None


def stream_upsert_to_table(
    df: DataFrame,
    table: str,
    keys: list[str],
    checkpoint: str | None = None,
    await_seconds: int | None = 300,
):
    """``foreachBatch`` MERGE-INTO upsert against a Delta/Iceberg
    table — the transactional twin of
    :func:`stream_upsert_to_parquet`'s directory swap, with the same
    per-batch key-dedup (deterministic max over the non-key struct).

    The MERGE gives atomic, concurrent-reader-safe upserts with no
    directory rename; the foreachBatch wiring, batch dedup, and
    statement shape (:func:`merge_upsert_sql`) are identical for both
    formats.  Raises ``NotImplementedError`` when neither runtime is
    on the session's classpath (this container ships neither — the
    sink is exercised there via the statement-shape unit tests and the
    parquet twin's end-to-end gate)."""
    spark = df.sparkSession
    fmt = _lakehouse_available(spark)
    if fmt is None:
        raise NotImplementedError(
            "stream_upsert_to_table needs a Delta or Iceberg runtime"
            " on the Spark session (delta-spark package or an Iceberg"
            " catalog extension); none detected.  Use"
            " stream_upsert_to_parquet for plain-parquet targets."
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        sp = batch_df.sparkSession
        others = [c for c in batch_df.columns if c not in keys]
        dedup = (
            batch_df.groupBy(*[F.col(k) for k in keys])
            .agg(
                F.max(F.struct(*[F.col(c) for c in others])).alias("__v")
            )
            .select(*keys, "__v.*")
            if others
            else batch_df.dropDuplicates(keys)
        )
        view = f"__sq_upsert_{uuid4().hex[:8]}"
        sql_with_views(sp, merge_upsert_sql(table, view, keys), {view: dedup})

    writer = (
        df.writeStream.foreachBatch(merge)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    # update-mode foreachBatch emits on the data batch — skip the
    # zero-input finalize batch (see run_available_now)
    spark = df.sparkSession
    prev_nd = spark.conf.get(_ND_CONF)
    spark.conf.set(_ND_CONF, "false")
    try:
        q = writer.start()
        try:
            q.awaitTermination(await_seconds)
        finally:
            q.stop()
    finally:
        spark.conf.set(_ND_CONF, prev_nd)
    return q


def stream_near_dup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    state_shards: int = 64,
) -> DataFrame:
    """Incremental MinHash-LSH near-duplicate detection over a document
    stream: emits (doc_id, band, dup_of) whenever a new document lands
    in an LSH band bucket already occupied by an earlier document.

    Plan: the narrow Arrow minhash kernel (no aggregation — streaming-
    safe) → the same band hashing as the batch pair generator
    (:func:`pql_spark.operators.dedup.band_signature`, so stream and
    batch buckets agree bit-for-bit) → ONE stateful groupBy keyed on
    (band, shard-of-bhash): each group's state is the bucket→keeper
    map of its shard.  Within a micro-batch the lowest id wins per
    bucket; across batches the stored keeper wins — first-seen
    semantics, bit-identical per bucket regardless of sharding.  A doc
    is a near-dup CANDIDATE if it appears in the output for any band;
    exact-Jaccard verification (or a drop-list join) belongs in the
    consumer's ``foreachBatch``.

    Sharding (the Flink key-group pattern): keying the stateful op on
    raw (band, bhash) means one Python call + one state-store
    round-trip PER OCCUPIED BUCKET per batch — at ~15 buckets/doc the
    per-group overhead dominates the kernel (measured ~2× the whole
    drain).  (band, pmod(xxhash64(bhash), state_shards)) caps the
    group count at bands × state_shards while the per-bucket keeper
    logic is unchanged.  Size ``state_shards`` so one shard's buckets
    (≈ docs × bands / (bands × shards)) stay comfortable in one
    executor's memory — shards scale with the corpus, groups stay
    bounded per batch.  For long-running streams wire a timeout
    eviction (GroupStateTimeout) matched to the dedup horizon.
    """
    from pql_spark.operators.dedup import band_signature, minhash_signature

    # a NULL text has no shingles, so no signature (as on the batch
    # paths): the Arrow kernel would sign it as "" and put every
    # NULL-text doc in the same buckets
    sig = minhash_signature(
        docs.filter(F.col(text_col).isNotNull()), text_col, id_col,
        num_perm, shingle_k, impl="pandas", include_shingles=False,
    )
    banded = band_signature(sig, id_col, num_perm, bands).withColumn(
        "__shard",
        F.pmod(F.xxhash64(F.col("bhash")), F.lit(state_shards)).cast("int"),
    )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("dup_of", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("bhashes", T.ArrayType(T.StringType())),
            T.StructField("keepers", T.ArrayType(T.LongType())),
        ]
    )

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        band = int(key[0])
        by_bucket: dict[str, list[int]] = {}
        for pdf in pdfs:
            for h, i in zip(pdf["bhash"], pdf[id_col]):
                by_bucket.setdefault(h, []).append(int(i))
        if state.exists:
            sb, sk = state.get
            keepers = dict(zip(list(sb), (int(k) for k in sk)))
        else:
            keepers = {}
        out_ids: list[int] = []
        out_dup: list[int] = []
        for h, ids in by_bucket.items():
            ids.sort()
            keeper = keepers.get(h)
            if keeper is None:
                keeper, dups = ids[0], ids[1:]
                keepers[h] = keeper
            else:
                dups = ids
            out_ids.extend(dups)
            out_dup.extend([keeper] * len(dups))
        state.update((list(keepers.keys()), list(keepers.values())))
        if not out_ids:
            return
        yield pd.DataFrame(
            {
                id_col: out_ids,
                "band": [band] * len(out_ids),
                "dup_of": out_dup,
            }
        )

    return banded.groupBy("band", "__shard").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def curate_stream(
    spark: SparkSession,
    docs_dir: str,
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.75,
    langs: Iterable[str] | None = ("en",),
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    state_shards: int = 64,
) -> DataFrame:
    """Incremental corpus curation — the streaming twin of
    ``pipelines.curate_corpus``'s filter+near-dup core, composed from
    this module's pieces with parquet files as the stage bus (the
    Kappa-architecture shape: each stage is an independently
    restartable streaming query with its own checkpoint):

    1. quality + language filters (narrow Catalyst expressions — they
       stream as-is) → append parquet sink ``<work>/kept``;
    2. :func:`stream_near_dup` over the kept files as a stream —
       MinHash-LSH keeper state flags each doc that lands in an
       occupied band bucket — appended to ``<work>/dups`` via
       foreachBatch (the file sink proper only takes append-mode
       queries, and stateful flags arrive in update mode);
    3. returns the batch view: kept docs minus flagged ids.

    Re-running after new files land in ``docs_dir`` processes ONLY the
    new files (checkpointed file-source offsets) and the keeper state
    persists, so previously seen content flags new near-duplicates —
    incremental curation without recomputing the corpus.
    """
    from pql_spark.operators.text import language_id, quality_score

    work = Path(work_dir)
    schema = spark.read.parquet(docs_dir).schema
    raw = spark.readStream.schema(schema).parquet(docs_dir)
    cols = [c for c in raw.columns]
    scored = quality_score(raw, text_col, id_col, append=True)
    scored = language_id(scored, text_col, id_col, append=True)
    kept = scored.filter(F.col("quality") >= min_quality)
    if langs is not None:
        kept = kept.filter(F.col("lang_pred").isin(*langs))
    # stateless filter chain: the zero-input finalize batch can emit
    # nothing — skip it (one micro-batch of planning + WAL per run)
    write_stream_parquet(
        kept.select(*cols),
        str(work / "kept"),
        checkpoint=str(work / "ckpt_kept"),
        no_data_batches=False,
    )

    kept_path = work / "kept"
    if not any(kept_path.glob("*.parquet")):
        # nothing survived the filters — empty corpus
        return spark.createDataFrame([], schema)
    kept_stream = spark.readStream.schema(schema).parquet(
        str(kept_path)
    )
    flags = stream_near_dup(
        kept_stream, text_col, id_col, num_perm, bands, shingle_k,
        state_shards=state_shards,
    )
    dups_path = work / "dups"

    def sink(batch_df: DataFrame, _bid: int) -> None:
        if batch_df.columns:
            batch_df.select(id_col).distinct().write.mode(
                "append"
            ).parquet(str(dups_path))

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get(_ND_CONF)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    # update-mode stateful kernel emits on the data batch — skip the
    # zero-input finalize batch (see run_available_now)
    spark.conf.set(_ND_CONF, "false")
    try:
        q = (
            flags.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(work / "ckpt_dups"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(_ND_CONF, prev_nd)

    kept_batch = spark.read.parquet(str(kept_path))
    if dups_path.exists():
        dup_ids = spark.read.parquet(str(dups_path)).distinct()
        kept_batch = kept_batch.join(
            F.broadcast(dup_ids), on=id_col, how="left_anti"
        )
    return kept_batch


def stream_sequence_detect(
    df: DataFrame,
    steps: list[tuple[str, str]],
    ts_col: str = "ts",
    key_col: str = "user_id",
    step_window: str = "1h",
    span_window: str = "2h",
    watermark: str = "1 day",
    state_shards: int | None = None,
) -> DataFrame:
    """Incremental streaming funnel matching — the stateful twin of the
    batch ``evaluate sequence_detect``: per-key greedy-earliest chains
    (each step-1 event chains the EARLIEST later event matching each
    next step within ``step_window``, whole chain ≤ ``span_window``).

    ``state_shards``: as in :func:`stateful_user_counts` — an integer
    switches the group key from the raw ``key_col`` (one Python call +
    state round-trip per active key per batch) to the Flink key-group
    pattern ``pmod(hash(key), shards)``; each shard's state holds its
    keys' event lists as flattened parallel arrays.  Emitted chains are
    identical; only the per-batch group count changes.

    ``steps`` is ``[(name, bool_sql_expr), …]``; output is one row per
    COMPLETED chain with columns ``<name>_<ts_col>``.  State per key is
    the compacted event list (timestamp + step-flag bitmask) within the
    span horizon: events older than ``max_seen − span`` can extend no
    future chain, so state is bounded by key rate × span, independent
    of stream length.  A chain is emitted exactly once — in the
    micro-batch where its final step's event arrives (exact under
    per-key in-order arrival; late events may chain differently than a
    batch re-run, the standard streaming caveat).  Python runs once per
    key per batch over Arrow batches, not per row."""
    from bisect import bisect_left, bisect_right

    from .pipeline import _duration_to_usec  # self-import safe

    names = [n for n, _ in steps]
    nsteps = len(steps)
    if nsteps < 2:
        raise ValueError("stream_sequence_detect needs >= 2 steps")
    step_us = _duration_to_usec(step_window)
    span_us = _duration_to_usec(span_window)
    key_field = df.schema[key_col]
    out_schema = T.StructType(
        [T.StructField(key_col, key_field.dataType)]
        + [
            T.StructField(f"{n}_{ts_col}", T.TimestampType())
            for n in names
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("us", T.ArrayType(T.LongType())),
            T.StructField("fl", T.ArrayType(T.IntegerType())),
        ]
    )
    flags = None
    for i, (_n, expr) in enumerate(steps):
        bit = F.when(F.expr(expr), F.lit(1 << i)).otherwise(F.lit(0))
        flags = bit if flags is None else flags + bit
    base = (
        df.withWatermark(ts_col, watermark)
        .select(
            F.col(key_col),
            F.unix_micros(F.col(ts_col)).alias("__us"),
            flags.alias("__fl"),
        )
        .filter(F.col("__fl") > 0)
    )

    def chains_of(us: list[int], fl: list[int]) -> list[tuple[int, ...]]:
        """The batch greedy automaton over a sorted event list."""
        per_step = [
            [t for t, f in zip(us, fl) if f & (1 << i)]
            for i in range(nsteps)
        ]
        out = []
        for t0 in per_step[0]:
            chain = [t0]
            ok = True
            for i in range(1, nsteps):
                lst = per_step[i]
                j = bisect_right(lst, chain[-1])
                if j >= len(lst) or lst[j] > chain[-1] + step_us:
                    ok = False
                    break
                chain.append(lst[j])
            if ok and chain[-1] - chain[0] <= span_us:
                out.append(tuple(chain))
        return out

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        old_us, old_fl = (
            state.get if state.exists else ([], [])
        )
        new_events: list[tuple[int, int]] = []
        for pdf in pdfs:
            new_events.extend(
                (int(u), int(f))
                for u, f in zip(pdf["__us"], pdf["__fl"])
            )
        merged = sorted(
            list(zip(old_us, old_fl)) + new_events
        )
        us = [t for t, _ in merged]
        fl = [f for _, f in merged]
        # completion timestamps that are NEW this batch (multiset)
        final_bit = 1 << (nsteps - 1)
        new_finals: dict[int, int] = {}
        for t, f in new_events:
            if f & final_bit:
                new_finals[t] = new_finals.get(t, 0) + 1
        rows = []
        for chain in chains_of(us, fl):
            if new_finals.get(chain[-1], 0) > 0:
                rows.append(chain)
        # evict events that can extend no future chain
        if us:
            horizon = max(us) - span_us
            keep = [(t, f) for t, f in merged if t >= horizon]
            state.update(
                ([t for t, _ in keep], [f for _, f in keep])
            )
        if rows:
            data = {key_col: [key[0]] * len(rows)}
            for i, n in enumerate(names):
                data[f"{n}_{ts_col}"] = [
                    pd.Timestamp(c[i], unit="us") for c in rows
                ]
            yield pd.DataFrame(data)

    if state_shards is None:
        return base.groupBy(key_col).applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    # ---- key-group sharded variant: state is the shard's keys' event
    # lists as flattened parallel arrays (keys[i] owns the slice
    # [sum(counts[:i]), sum(counts[:i+1])) of us/fl)
    shard_state = T.StructType(
        [
            T.StructField("keys", T.ArrayType(key_field.dataType)),
            T.StructField("counts", T.ArrayType(T.IntegerType())),
            T.StructField("us", T.ArrayType(T.LongType())),
            T.StructField("fl", T.ArrayType(T.IntegerType())),
        ]
    )
    final_bit = 1 << (nsteps - 1)

    def update_shard(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        held: dict = {}
        if state.exists:
            ks, cnts, sus, sfl = state.get
            pos = 0
            for k, c in zip(ks, cnts):
                c = int(c)
                held[k] = (
                    [int(t) for t in sus[pos : pos + c]],
                    [int(f) for f in sfl[pos : pos + c]],
                )
                pos += c
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = pd.concat(frames) if len(frames) > 1 else frames[0]
        out_rows: list[tuple] = []
        for k, grp in batch.groupby(key_col, sort=False):
            if hasattr(k, "item"):  # numpy scalar → plain Python
                k = k.item()
            old_us, old_fl = held.get(k, ([], []))
            new_events = [
                (int(u), int(f))
                for u, f in zip(grp["__us"], grp["__fl"])
            ]
            merged = sorted(list(zip(old_us, old_fl)) + new_events)
            us = [t for t, _ in merged]
            fl = [f for _, f in merged]
            new_finals: dict[int, int] = {}
            for t, f in new_events:
                if f & final_bit:
                    new_finals[t] = new_finals.get(t, 0) + 1
            for chain in chains_of(us, fl):
                if new_finals.get(chain[-1], 0) > 0:
                    out_rows.append((k, chain))
            horizon = max(us) - span_us
            keep = [(t, f) for t, f in merged if t >= horizon]
            held[k] = ([t for t, _ in keep], [f for _, f in keep])
        state.update(
            (
                list(held.keys()),
                [len(u) for u, _ in held.values()],
                [t for u, _ in held.values() for t in u],
                [f for _, fls in held.values() for f in fls],
            )
        )
        if out_rows:
            data = {key_col: [k for k, _ in out_rows]}
            for i, n in enumerate(names):
                data[f"{n}_{ts_col}"] = [
                    pd.Timestamp(c[i], unit="us") for _, c in out_rows
                ]
            yield pd.DataFrame(data)

    sharded = base.withColumn(
        "__shard",
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(state_shards)).cast("int"),
    )
    return sharded.groupBy("__shard").applyInPandasWithState(
        update_shard,
        outputStructType=out_schema,
        stateStructType=shard_state,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _duration_to_usec(text: str) -> int:
    """'1h' / '15 minutes' → microseconds (shared duration grammar)."""
    from ..functions import _duration_usec
    from ..lexer import Span

    return _duration_usec(text, Span(0, 0))
