"""Streaming tests: every streaming operator is checked for
batch-equivalence — drain the stream with availableNow into a memory
sink and compare against the same computation on the batch DataFrame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pql_spark.sources import parquet_catalog
from pql_spark.streaming import (
    pql_stream,
    run_available_now,
    sessionize,
    stream_parquet_table,
    stateful_user_counts,
    windowed_agg,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_stream(spark):
    if not SF_SMOKE.is_dir():
        pytest.skip(f"testdata not available at {SF_SMOKE}")
    return stream_parquet_table(spark, str(SF_SMOKE), "events")


@pytest.fixture(scope="module")
def events_batch(spark):
    if not SF_SMOKE.is_dir():
        pytest.skip(f"testdata not available at {SF_SMOKE}")
    return parquet_catalog(spark, str(SF_SMOKE))("events")


def _as_set(rows):
    return {tuple(r) for r in rows}


def test_windowed_agg_matches_batch(events_stream, events_batch):
    streamed = run_available_now(
        windowed_agg(events_stream, window="6 hours"), "update"
    )
    batch = (
        events_batch.groupBy(
            F.window("ts", "6 hours").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "avg_value",
        )
        .collect()
    )
    assert _as_set(streamed) == _as_set(batch)
    assert len(streamed) > 0


def test_sessionize_matches_batch_session_window(events_stream, events_batch):
    # session-window aggregation supports append/complete only; complete
    # emits every finalized-or-open session, which is the batch answer
    streamed = run_available_now(
        sessionize(events_stream, gap="2 hours"), "complete"
    )
    batch = (
        events_batch.groupBy(
            F.session_window("ts", "2 hours").alias("sess"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .collect()
    )
    assert _as_set(streamed) == _as_set(batch)
    assert len(streamed) > 0


def test_stateful_user_counts(events_stream, events_batch):
    streamed = run_available_now(stateful_user_counts(events_stream), "update")
    # one availableNow pass may split into several micro-batches; the
    # LAST emitted row per user carries the final running totals
    final = {}
    for r in streamed:
        final[r.user_id] = (r.n_events, round(r.total_value, 4))
    batch = {
        r.user_id: (r.n, round(r.total, 4))
        for r in events_batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert final == batch


def test_stateful_user_counts_sharded(events_stream, events_batch):
    # the key-group variant must emit identical running totals
    streamed = run_available_now(
        stateful_user_counts(events_stream, state_shards=4), "update"
    )
    final = {}
    for r in streamed:
        final[r.user_id] = (r.n_events, round(r.total_value, 4))
    batch = {
        r.user_id: (r.n, round(r.total, 4))
        for r in events_batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert final == batch


def test_pql_on_stream_stateless(spark, events_stream, events_batch):
    q = 'events | where value > 90 | project event_id, event_type, value'
    streamed = run_available_now(
        pql_stream(spark, q, lambda name: events_stream), "append"
    )
    batch = (
        events_batch.filter(F.col("value") > 90)
        .select("event_id", "event_type", "value")
        .collect()
    )
    assert _as_set(streamed) == _as_set(batch)


def test_pql_on_stream_aggregation(spark, events_stream, events_batch):
    q = "events | summarize n = count() by event_type"
    streamed = run_available_now(
        pql_stream(spark, q, lambda name: events_stream), "complete"
    )
    batch = events_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    assert _as_set(streamed) == _as_set(batch)


def test_pql_bin_windowed_on_stream(spark, events_stream, events_batch):
    """PQL time-bucketed aggregation over a stream: bin() gives the
    same epoch-aligned buckets as a batch groupBy."""
    q = 'events | summarize n = count() by h = bin(ts, "12 hours")'
    streamed = run_available_now(
        pql_stream(spark, q, lambda name: events_stream), "complete"
    )
    batch = (
        events_batch.groupBy(
            F.timestamp_micros(
                (F.floor(F.unix_micros("ts") / (43200 * 1_000_000))).cast(
                    "long"
                )
                * (43200 * 1_000_000)
            ).alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert _as_set(streamed) == _as_set(batch)


def test_bin_numeric(spark, events_batch):
    from pql_spark import PqlEngine

    df = PqlEngine(spark, resolver=lambda n: events_batch).query(
        "events | summarize n = count() by b = bin(value, 25) | sort by b asc"
    )
    rows = df.collect()
    assert rows and all(r.b % 25 == 0 for r in rows)  # floor to multiples
    assert [r.b for r in rows] == sorted(r.b for r in rows)
    assert sum(r.n for r in rows) == events_batch.count()


def test_stream_interval_join_matches_batch_range_join(
    spark, events_stream, events_batch
):
    from pql_spark.operators import range_join
    from pql_spark.streaming import stream_interval_join

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("event_id").alias("purchase_id")
        )
        return clicks, purchases

    s_clicks, s_purch = split(events_stream)
    streamed = run_available_now(
        stream_interval_join(s_clicks, s_purch, within="2 hours").select(
            "click_id", "purchase_id"
        ),
        "append",
    )
    b_clicks, b_purch = split(events_batch)
    batch = range_join(
        b_clicks,
        b_purch.select(
            "user_id",
            F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"),
            "purchase_id",
        ),
        by="user_id",
        bucket="2 hours",
    ).select("click_id", "purchase_id")
    assert _as_set(streamed) == _as_set(batch.collect())
    assert len(streamed) > 0


def test_stream_dedup_matches_batch_distinct(spark, events_stream, events_batch):
    from pql_spark.streaming import stream_dedup

    # duplicate every row (explode a 2-element array), then dedup on the
    # full identifying key — the stream must recover the original rows
    dup = events_stream.withColumn(
        "copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("copy")
    streamed = run_available_now(
        stream_dedup(
            dup.select("event_id", "ts", "user_id"),
            subset=["event_id"],
        ),
        "append",
    )
    batch = events_batch.select("event_id", "ts", "user_id").distinct()
    assert _as_set(streamed) == _as_set(batch.collect())


def test_dedup_incremental_anti_join(spark):
    from pql_spark.operators import dedup_incremental

    batch = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, fingerprint string"
    )
    seen = spark.createDataFrame([("a",), ("c",)], "fingerprint string")
    out = dedup_incremental(batch, seen)
    assert [r.id for r in out.collect()] == [2]


def test_pql_sort_rejected_on_stream(spark, events_stream):
    from pyspark.errors import AnalysisException

    q = "events | sort by value"
    df = pql_stream(spark, q, lambda name: events_stream)
    with pytest.raises(AnalysisException):
        run_available_now(df, "append")


def test_write_stream_parquet_matches_batch(
    tmp_path, spark, events_stream, events_batch
):
    """Append-mode parquet sink: finalized watermarked windows read
    back from the files equal the batch aggregation (the watermark has
    passed every window once the bounded input is drained)."""
    from pql_spark.streaming import write_stream_parquet

    out = tmp_path / "windows"
    write_stream_parquet(
        windowed_agg(events_stream, window="6 hours", watermark="1 second"),
        str(out),
        checkpoint=str(tmp_path / "ckpt"),
    )
    got = spark.read.parquet(str(out)).collect()
    batch = (
        events_batch.groupBy(
            F.window("ts", "6 hours").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "avg_value",
        )
        .collect()
    )
    # append emits only windows the final watermark passed; on bounded
    # input that is all but the last open window per key
    got_set, batch_set = _as_set(got), _as_set(batch)
    assert got_set <= batch_set
    assert len(got_set) >= len(batch_set) - len(
        {r["event_type"] for r in batch}
    )
    assert len(got_set) > 0


def test_stream_upsert_to_parquet(tmp_path, spark, events_stream, events_batch):
    """foreachBatch upsert: one current row per key after the drain,
    equal to the batch per-key aggregate."""
    from pql_spark.streaming import stream_upsert_to_parquet

    agg = (
        events_stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = tmp_path / "by_user"
    stream_upsert_to_parquet(
        agg, str(out), keys=["user_id"], checkpoint=str(tmp_path / "ck2")
    )
    got = {
        (r.user_id, r.n) for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        (r.user_id, r.n)
        for r in events_batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_near_dup_matches_batch_buckets(tmp_path, spark):
    """Streaming LSH near-dup candidates equal the batch band-bucket
    computation, including keeper state carried ACROSS micro-batches
    (docs split into two files, one file per trigger, lower ids
    first so first-seen == min-id)."""
    from pql_spark.operators.dedup import band_signature, minhash_signature
    from pql_spark.streaming import run_available_now, stream_near_dup

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    dups = base.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra")).alias("text"),
    )
    docs = base.unionByName(dups)
    # two ordered files → two micro-batches (originals, then dups)
    d = tmp_path / "docs"
    d.mkdir()
    base.toPandas().to_parquet(d / "a.parquet", index=False)
    dups.toPandas().to_parquet(d / "b.parquet", index=False)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got = run_available_now(stream_near_dup(stream), "update")
    flagged = {r.doc_id for r in got}
    groups = {(r.doc_id, r.dup_of) for r in got}

    sig = minhash_signature(
        docs, impl="pandas", include_shingles=False
    )
    buckets = (
        band_signature(sig, "doc_id", 64, 16)
        .groupBy("band", "bhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .collect()
    )
    want_flagged = set()
    want_groups = set()
    for r in buckets:
        keeper = r.ids[0]
        for other in r.ids[1:]:
            want_flagged.add(other)
            want_groups.add((other, keeper))
    assert flagged == want_flagged
    assert groups == want_groups
    assert len(flagged) >= 30  # every injected near-dup is caught


def test_stream_near_dup_null_text_has_no_signature(tmp_path, spark):
    """A NULL text gets no signature, as on the batch paths: NULL-text
    docs never share a bucket with each other, and a real near-dup
    beside them is still flagged."""
    import pandas as pd

    from pql_spark.streaming import stream_near_dup

    text = " ".join(f"word{i}" for i in range(40))
    d = tmp_path / "docs"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [text, text + " tail", "other words entirely here",
                     None, None, None],
        }
    ).to_parquet(d / "a.parquet", index=False)
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(d)
    )
    got = run_available_now(stream_near_dup(stream), "update")
    assert {(r.doc_id, r.dup_of) for r in got} == {(2, 1)}


def test_curate_stream_matches_batch(tmp_path, spark):
    """Composed incremental curation: filters + LSH near-dup over two
    incremental runs equals the batch computation over all files, and
    the second run flags new dups against FIRST-run keeper state."""
    from pql_spark.operators.dedup import band_signature, minhash_signature
    from pql_spark.operators.text import language_id, quality_score
    from pql_spark.streaming import curate_stream

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    dups = base.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra")).alias("text"),
    )
    src = tmp_path / "src"
    src.mkdir()
    base.toPandas().to_parquet(src / "a.parquet", index=False)

    work = tmp_path / "work"
    kept1 = curate_stream(spark, str(src), str(work), langs=None)
    n1 = kept1.count()
    # second run: only the new file is processed; near-dups of run-1
    # docs must be flagged by the persisted keeper state
    dups.toPandas().to_parquet(src / "b.parquet", index=False)
    kept2 = curate_stream(spark, str(src), str(work), langs=None)
    got = {r.doc_id for r in kept2.select("doc_id").collect()}

    # batch reference over ALL docs: same filters, drop any doc whose
    # band bucket contains a lower id
    all_docs = base.unionByName(dups)
    f = quality_score(all_docs, append=True).filter(
        F.col("quality") >= 0.75
    ).select("doc_id", "text")
    sig = minhash_signature(f, impl="pandas", include_shingles=False)
    buckets = (
        band_signature(sig, "doc_id", 64, 16)
        .groupBy("band", "bhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .collect()
    )
    flagged = set()
    for r in buckets:
        flagged.update(r.ids[1:])
    want = {r.doc_id for r in f.select("doc_id").collect()} - flagged
    assert got == want
    assert n1 >= len(
        {r.doc_id for r in f.filter(F.col("doc_id") < 100000).collect()}
    ) - len(flagged)
    # every injected near-duplicate was caught across runs
    assert not any(d >= 100000 and (d - 100000) in want for d in got)


@pytest.mark.parametrize("shards", [None, 4])
def test_stream_sequence_detect_matches_batch(spark, tmp_path, shards):
    """Cross-micro-batch stateful funnel chains == the batch
    `evaluate sequence_detect` under per-key in-order arrival (both the
    per-key and the key-group-sharded state layouts)."""
    import datetime as dt
    import random
    import time

    from pql_spark import PqlEngine
    from pql_spark.streaming import (
        run_available_now,
        stream_sequence_detect,
    )

    t0 = dt.datetime(2024, 1, 1)
    random.seed(7)
    rows = []
    for uid in range(6):
        t = t0
        for _ in range(40):
            t += dt.timedelta(minutes=random.randint(3, 50))
            rows.append(
                (uid, t,
                 random.choice(["view", "click", "purchase", "noise"]))
            )
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, etype string"
    )
    eng = PqlEngine(spark, resolver={"E": df})
    batch = eng.query(
        """
        E | evaluate sequence_detect(ts, 1h, 2h,
            v = etype == "view", c = etype == "click",
            p = etype == "purchase" by user_id)
        """
    )
    expected = sorted(tuple(r) for r in batch.collect())

    src = tmp_path / "src"
    src.mkdir()
    pdf = df.orderBy("ts").toPandas()
    n = len(pdf)
    for i in range(3):  # three time-ordered micro-batches
        spark.createDataFrame(
            pdf.iloc[i * n // 3:(i + 1) * n // 3]
        ).repartition(1).write.parquet(str(src / f"part{i}"))
        time.sleep(1.1)  # distinct mod times → in-order processing
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    out = stream_sequence_detect(
        stream,
        [
            ("v", "etype = 'view'"),
            ("c", "etype = 'click'"),
            ("p", "etype = 'purchase'"),
        ],
        ts_col="ts",
        key_col="user_id",
        step_window="1h",
        span_window="2h",
        state_shards=shards,
    )
    got = sorted(tuple(r) for r in run_available_now(out, "append"))
    assert got == expected and len(got) > 0


def test_stateful_user_counts_sharded_null_keys_and_values(spark, tmp_path):
    """The sharded path must match the unsharded one on null KEYS (a
    group in Spark's groupBy, dropped by default pandas groupby) and
    null VALUES (counted by len(pdf), dropped by pandas count) —
    ADVICE r7."""
    rows = [(1, 10.0), (1, None), (None, 5.0), (2, None), (None, None),
            (2, 7.0)]
    batch = spark.createDataFrame(rows, "user_id long, value double")
    path = str(tmp_path / "null_events")
    batch.coalesce(1).write.parquet(path)
    results = {}
    for shards in (None, 3):
        stream = spark.readStream.schema(batch.schema).parquet(path)
        streamed = run_available_now(
            stateful_user_counts(stream, state_shards=shards), "update"
        )
        final = {}
        for r in streamed:
            final[r.user_id] = (r.n_events, r.total_value)
        results[shards] = final
    assert results[3] == results[None]
    # and both match the batch answer: count() counts ROWS, sum skips
    # null values
    assert results[None] == {
        1: (2, 10.0), 2: (2, 7.0), None: (2, 5.0),
    }
