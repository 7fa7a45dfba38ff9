"""Batch-incremental LSH near-dup with persisted bucket state — the
batch twin of stream_near_dup; buckets must agree bit-for-bit with the
batch band_signature computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pql_spark.operators import near_dup_incremental
from pql_spark.operators.dedup import _arrow_minhash, band_signature

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs away "
    "into the green hills far beyond the quiet river valley town"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_flags_across_and_within_batches(spark, tmp_path):
    state = str(tmp_path / "state")
    b1 = _docs(spark, [(1, BASE), (2, "completely different words "
                                      "about database engines and "
                                      "vectorized execution plans")])
    out1 = near_dup_incremental(b1, state)
    assert out1.count() == 0  # first batch: everything is a keeper

    b2 = _docs(
        spark,
        [
            (10, BASE + " xtra"),      # near-dup of doc 1
            (11, BASE + " xtra"),      # exact dup of 10, within batch
            (12, "unrelated fresh content nothing shared here at all "
                 "with any other document in this corpus so far"),
        ],
    )
    out2 = near_dup_incremental(b2, state)
    by_id = {
        r.doc_id: r.dup_of
        for r in out2.groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .collect()
    }
    assert by_id.get(10) == 1     # historical keeper wins
    assert by_id.get(11) in (1, 10)  # state keeper or batch min
    assert 12 not in by_id

    # batch 3 against the grown state: doc 12's buckets are now owned
    b3 = _docs(spark, [(20, "unrelated fresh content nothing shared "
                            "here at all with any other document in "
                            "this corpus so far")])
    out3 = near_dup_incremental(b3, state)
    assert {r.dup_of for r in out3.collect()} == {12}


def test_state_buckets_match_batch_banding(spark, tmp_path):
    state = str(tmp_path / "state2")
    docs = _docs(spark, [(1, BASE), (2, BASE + " tail")])
    near_dup_incremental(docs, state)
    stored = {
        (r.band, r.bhash, r.keeper)
        for r in spark.read.parquet(state).collect()
    }
    # the Arrow kernel: a reference independent of the JVM aggregate
    # the operator signs with
    sig = _arrow_minhash(docs, "text", "doc_id", 64, 5)
    expect = {
        (r.band, r.bhash, r.keeper)
        for r in band_signature(sig, "doc_id", 64, 16)
        .groupBy("band", "bhash")
        .agg(F.min("doc_id").alias("keeper"))
        .collect()
    }
    assert stored == expect


def test_null_text_is_never_flagged_nor_a_keeper(spark, tmp_path):
    # JVM signatures: a NULL text has no shingle rows, so no signature
    # and no buckets; the empty and whitespace-only docs share one
    state = str(tmp_path / "state3")
    docs = _docs(spark, [(1, None), (2, None), (3, ""), (4, " \t "),
                         (5, BASE)])
    out = near_dup_incremental(docs, state)
    assert {(r.doc_id, r.dup_of) for r in out.collect()} == {(4, 3)}
    assert {k for k, in spark.read.parquet(state).select("keeper")
            .distinct().collect()} == {3, 5}
