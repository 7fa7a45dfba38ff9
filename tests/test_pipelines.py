"""End-to-end corpus-curation pipeline test with a hand-built corpus
where every stage's effect is individually checkable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pql_spark.pipelines import curate_corpus

GOOD = (
    "the quick brown fox jumps over the lazy dog and it runs for the "
    "hills in a way that is entirely typical of foxes in stories"
)


@pytest.fixture(scope="module")
def raw_docs(spark):
    rows = [
        (1, GOOD),                        # keeper
        (2, GOOD),                        # exact dup of 1 → dropped
        (3, GOOD + " basically"),         # near dup of 1 → dropped
        (4, "word " * 40 + "the of is a that it in for and to"),  # keeper
        (5, "short"),                     # fails length/quality
        (6, "der hund und die katze ist ein tier mit im haus nicht "
            "und der mann ist auch da mit dem hund und der katze im"),
        (7, "!!! ??? *** ### " * 20),     # punctuation soup → low quality
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_stages(raw_docs):
    out = curate_corpus(
        raw_docs,
        min_quality=0.75,
        langs=("en",),
        near_dup_threshold=0.5,
        test_rate=0.3,
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 4}
    # doc 6 is german, 5/7 low quality, 2 exact dup, 3 near dup
    assert all(r.lang_pred == "en" for r in rows.values())
    assert all(r.quality >= 0.75 for r in rows.values())
    assert all(r.split in ("train", "test") for r in rows.values())
    # original columns survive
    assert rows[1].text == GOOD


def test_curate_corpus_split_is_content_keyed(spark, raw_docs):
    out1 = curate_corpus(raw_docs, near_dup_threshold=0.5)
    # same text under a different id gets the same split
    reid = raw_docs.withColumn("doc_id", F.col("doc_id") + 1000)
    out2 = curate_corpus(reid, near_dup_threshold=0.5)
    s1 = {r.text: r.split for r in out1.collect()}
    s2 = {r.text: r.split for r in out2.collect()}
    assert s1 == s2


def test_curate_corpus_new_stages(spark, raw_docs):
    # repetition filter: doc 4 is 'word' x40 — dup 3-gram frac ~1
    out = curate_corpus(
        raw_docs,
        near_dup_threshold=0.5,
        max_dup_ngram_frac=0.5,
    )
    assert {r.doc_id for r in out.collect()} == {1}
    # decontamination: a benchmark sharing doc 1's opening 13-gram
    bench = spark.createDataFrame(
        [(900, GOOD)], "doc_id long, text string"
    )
    out = curate_corpus(
        raw_docs, near_dup_threshold=0.5, benchmark=bench
    )
    assert {r.doc_id for r in out.collect()} == {4}
    # redaction rewrites the surviving text in place
    pii = spark.createDataFrame(
        [(10, GOOD + " reach me at a.b@x.org please thanks")],
        "doc_id long, text string",
    )
    out = curate_corpus(pii, near_dup_threshold=0.5, redact=True)
    assert "<EMAIL>" in out.head().text


def test_curate_corpus_no_lang_filter(raw_docs):
    out = curate_corpus(
        raw_docs, langs=None, near_dup_threshold=0.5, min_quality=0.5
    )
    ids = {r.doc_id for r in out.collect()}
    assert 6 in ids  # german doc kept when lang filter is off


@pytest.mark.parametrize("langs", [("en", 1), (None,), ["en", b"de"]])
def test_curate_corpus_rejects_non_str_langs(raw_docs, langs):
    # language codes are compared as SQL string literals: a non-str
    # entry would silently compare by its str() form, so it is refused
    with pytest.raises(ValueError, match="langs must be str"):
        curate_corpus(raw_docs, langs=langs)


def test_wav_roundtrip_and_distributed_feature(spark):
    """WAV codec path: encode→decode roundtrip accuracy and the
    distributed kernel reproducing driver-side reference math."""
    import numpy as np

    import pql_spark.operators.multimodal as M

    sig = M.synth_audio(5)
    payload = M.encode_wav(sig, 8000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    back, sr = M.decode_wav(payload)
    assert sr == 8000 and len(back) == len(sig)
    assert float(np.abs(back - sig).max()) < 1e-3  # 16-bit quantization

    media = M.synthesize_wav_media(spark, n=24)
    feats = {r.media_id: r.feature
             for r in M.extract_features(media, dim=8,
                                         decoder="wav").collect()}
    for k in (0, 11, 23):
        p = M.encode_wav(M.synth_audio(k), 8000)
        s, sr = M.decode_wav(p)
        ref = M.audio_feature(s, sr, 8)
        assert all(abs(a - b) < 1e-6 for a, b in zip(ref, feats[k]))


def test_wav_stereo_decode():
    import numpy as np

    import pql_spark.operators.multimodal as M
    import io
    import wave

    left = M.synth_audio(1)[:100]
    right = M.synth_audio(2)[:100]
    inter = np.empty(200, dtype=np.float64)
    inter[0::2], inter[1::2] = left, right
    pcm = np.clip(inter * 32767.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm.tobytes())
    mono, sr = M.decode_wav(buf.getvalue())
    assert len(mono) == 100
    ref = (np.round(left * 32767) + np.round(right * 32767)) / 2 / 32767
    assert float(np.abs(mono - ref).max()) < 1e-3


def test_curate_corpus_line_scrub_stage(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and it runs for "
        "the hills in a way that is entirely typical of foxes"
    )
    docs = spark.createDataFrame(
        [(1, "nav menu\n" + base + "\nnav menu")],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs, min_quality=0.5, langs=None, drop_repeated_lines=True
    ).collect()
    assert len(out) == 1
    assert out[0].text == "nav menu\n" + base  # second copy scrubbed


def test_curate_corpus_stage_timing(spark, raw_docs):
    """timing= dict gets per-stage wall seconds (diagnostic mode:
    localCheckpoint barriers per stage; results identical)."""
    from pql_spark.pipelines import curate_corpus

    timing = {}
    out = curate_corpus(
        raw_docs, min_quality=0.5, langs=None, redact=True,
        timing=timing,
    )
    n = out.count()
    assert n > 0
    assert {"quality_lang", "exact_dedup", "near_dup_pairs",
            "redact", "split"} <= set(timing)
    assert all(isinstance(v, float) and v >= 0 for v in timing.values())
    # identical survivors vs the lazy pipeline
    base = curate_corpus(raw_docs, min_quality=0.5, langs=None,
                         redact=True)
    assert sorted(r.doc_id for r in out.select("doc_id").collect()) == \
        sorted(r.doc_id for r in base.select("doc_id").collect())


def test_curate_corpus_qa_report(spark, raw_docs):
    """qa= dict gets the kept-vs-dropped profile, per-cohort quality
    histograms, and a stage-count accounting that reconciles with the
    actual output — and the main result is unchanged by qa."""
    qa = {}
    out = curate_corpus(
        raw_docs, min_quality=0.75, langs=("en",),
        near_dup_threshold=0.5, qa=qa,
    )
    survivors = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert survivors == [1, 4]

    # stage accounting: monotone non-increasing, reconciles at both ends
    sc = {r.stage: r.rows for r in qa["stage_counts"].collect()}
    order = [r.stage for r in
             qa["stage_counts"].orderBy("stage_idx").collect()]
    assert order[0] == "input" and order[-1] == "final"
    assert sc["input"] == raw_docs.count()
    assert sc["final"] == len(survivors)
    counts = [sc[s] for s in order]
    assert counts == sorted(counts, reverse=True)

    # profile: both cohorts, stable schema, n's reconcile
    prof = qa["profile"].collect()
    by = {}
    for r in prof:
        by.setdefault(r.cohort, {})[r.column] = r
    assert set(by) == {"kept", "dropped"}
    assert set(by["kept"]) == {"doc_id", "quality", "text_len"}
    assert by["kept"]["quality"].n == len(survivors)
    assert by["dropped"]["quality"].n == raw_docs.count() - len(survivors)
    # the pipeline kept only >= min_quality rows
    assert by["kept"]["quality"].min_num >= 0.75

    # histograms: fixed [0,1] bins, counts sum to cohort sizes
    hk = qa["quality_hist_kept"].collect()
    hd = qa["quality_hist_dropped"].collect()
    assert sum(r.n for r in hk) == len(survivors)
    assert sum(r.n for r in hd) == raw_docs.count() - len(survivors)
    assert all(0.0 <= r.lo < r.hi <= 1.0 + 1e-9 for r in hk + hd)

    # main result identical without qa
    base = curate_corpus(
        raw_docs, min_quality=0.75, langs=("en",),
        near_dup_threshold=0.5,
    )
    assert sorted(r.doc_id for r in base.select("doc_id").collect()) == \
        survivors


def test_curate_corpus_qa_stage_counts_match_frames(spark, raw_docs):
    """r15 fused stage counts: each (stage, rows) row must equal the
    directly-computed count of that stage's frame — exercised WITH the
    optional repetition stage so the fused pairs (input+quality_lang,
    near_dup_decontam+final) sit around an unfused middle stage."""
    qa = {}
    out = curate_corpus(
        raw_docs, min_quality=0.5, langs=None,
        near_dup_threshold=0.5, max_dup_ngram_frac=0.9, qa=qa,
    )
    rows = qa["stage_counts"].orderBy("stage_idx").collect()
    order = [r.stage for r in rows]
    assert order == [
        "input", "quality_lang", "repetition", "exact_dedup",
        "near_dup_decontam", "final",
    ]
    assert [r.stage_idx for r in rows] == list(range(6))
    sc = {r.stage: r.rows for r in rows}
    # both fused pairs reconcile against independent recomputation
    assert sc["input"] == raw_docs.count()
    assert sc["final"] == out.count()
    assert sc["near_dup_decontam"] == sc["final"]  # split appends only
    counts = [sc[s] for s in order]
    assert counts == sorted(counts, reverse=True)
    assert sc["quality_lang"] <= sc["input"]
    assert sc["exact_dedup"] <= sc["repetition"] <= sc["quality_lang"]
    # r16 fold: exact_dedup + near_dup_decontam come from ONE pass over
    # the persisted post-dedup frame left-joined to the drop list; both
    # must equal the directly-computed frame counts (the left join may
    # not change cardinality, the no-match count must equal the
    # anti-join count)
    rerun = {}
    out2 = curate_corpus(
        raw_docs, min_quality=0.5, langs=None,
        near_dup_threshold=0.5, max_dup_ngram_frac=0.9, qa=rerun,
        timing={},  # timing mode materializes each stage frame
    )
    assert sc["final"] == out2.count()
    sc2 = {r.stage: r.rows for r in rerun["stage_counts"].collect()}
    assert sc2 == sc
