"""Unit tests for the beyond-reference data-pipeline operators
(dedup, similarity, text analysis, multimodal plumbing) on small
hand-constructed frames with known answers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pql_spark.operators import (
    cosine_topk,
    dedup_exact,
    doc_fingerprint,
    embedding_dup_pairs,
    ivf_assign,
    ivf_topk,
    language_id,
    lsh_bucket_topk,
    minhash_dup_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    pairwise_topk,
    pairwise_topk_skew,
    quality_score,
    quantized_topk,
    repetition_stats,
    semantic_dedup_pairs,
    simhash,
    simhash_dedup,
    token_stats,
    word_grams,
    word_shingles,
)
from pql_spark.operators import kmv_distinct
from pql_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different text about spark and scale"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, "a", [1.0, 0.0, 0.0]),
        (1, "a", [0.9, 0.1, 0.0]),
        (2, "a", [0.0, 1.0, 0.0]),
        (3, "b", [0.0, 0.0, 1.0]),
        (4, "b", [0.0, 0.1, 0.9]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )


# ---------------------------------------------------------------- dedup


def test_dedup_exact(docs):
    out = dedup_exact(docs, subset=["text"])
    assert out.count() == 3


def test_minhash_signature_shape(docs):
    sig = minhash_signature(docs, num_perm=16, shingle_k=2)
    row = sig.filter(F.col("doc_id") == 1).head()
    assert len(row.minhash) == 16
    # identical text ⇒ identical signature
    row4 = sig.filter(F.col("doc_id") == 4).head()
    assert list(row.minhash) == list(row4.minhash)


def test_minhash_impls_agree(docs):
    """The batch JVM aggregate and the stream's Arrow-batched numpy
    kernel must produce bit-identical signatures."""
    from pql_spark.operators.dedup import _arrow_minhash

    agg = {
        r.doc_id: list(r.minhash)
        for r in minhash_signature(docs, num_perm=16, shingle_k=2).collect()
    }
    fast = {
        r.doc_id: list(r.minhash)
        for r in _arrow_minhash(docs, "text", "doc_id", 16, 2).collect()
    }
    assert fast == agg


def test_minhash_dup_pairs(docs):
    pairs = minhash_dup_pairs(
        docs, num_perm=32, bands=16, shingle_k=2, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 4) in found  # exact dup: jaccard 1.0
    assert (1, 2) in found  # near dup (one word appended)
    for r in pairs:
        assert 0.0 <= r.jaccard <= 1.0
        assert r.id_a < r.id_b


def test_minhash_dup_pairs_max_bucket_star(spark):
    """A bucket of d identical docs emits d-1 star pairs under the cap
    instead of d(d-1)/2 — and every star pair is exact-verified at
    jaccard 1.0, keeping the dup cluster connected."""
    rows = [(i, "the quick brown fox jumps over the lazy dog")
            for i in range(10)]
    rows.append((99, "completely different text about spark and scale"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dup_pairs(
        df, num_perm=32, bands=16, shingle_k=2, threshold=0.5,
        max_bucket=5,
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # star: min id 0 paired with each of 1..9, nothing quadratic
    assert found == {(0, i) for i in range(1, 10)}
    assert all(r.jaccard == pytest.approx(1.0) for r in pairs)


def test_minhash_dup_pairs_cap_not_triggered(docs):
    """A cap larger than every bucket must reproduce exact results."""
    exact = {
        (r.id_a, r.id_b)
        for r in minhash_dup_pairs(
            docs, num_perm=32, bands=16, shingle_k=2, threshold=0.5
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_dup_pairs(
            docs, num_perm=32, bands=16, shingle_k=2, threshold=0.5,
            max_bucket=1000,
        ).collect()
    }
    assert capped == exact


def test_minhash_dup_pairs_sql_twin_bit_exact(docs):
    """The default path and the capped path (star emission for
    oversized buckets) share one SQL parse.  With a cap no bucket
    reaches, both must produce bit-identical rows (ids AND jaccard
    doubles), sorted and unsorted."""
    sql_rows = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dup_pairs(
            docs, num_perm=32, bands=16, shingle_k=2, threshold=0.5
        ).collect()
    )
    col_rows = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dup_pairs(
            docs, num_perm=32, bands=16, shingle_k=2, threshold=0.5,
            max_bucket=10**6,
        ).collect()
    )
    assert sql_rows == col_rows and len(sql_rows) > 0
    unsorted = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dup_pairs(
            docs, num_perm=32, bands=16, shingle_k=2, threshold=0.5,
            sort_pairs=False,
        ).collect()
    )
    assert unsorted == sql_rows


def test_ngram_jaccard_max_posting(spark):
    """Hot grams (boilerplate shared by every doc) are dropped from
    candidate generation, but surviving pairs keep their EXACT jaccard
    — verified against the uncapped path."""
    boiler = "subscribe to our newsletter for updates"
    rows = [
        (1, f"the quick brown fox {boiler}"),
        (2, f"the quick brown fox today {boiler}"),
        (3, f"unrelated spark scale text {boiler}"),
        (4, f"another totally distinct document {boiler}"),
        (5, f"fifth doc with its own words {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, shingle_k=2, threshold=0.3).collect()
    }
    # cap of 4: grams shared by all 5 docs (the boilerplate) are dropped
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, shingle_k=2, threshold=0.3, max_posting=4
        ).collect()
    }
    # (1,2) share non-boilerplate grams → survives with identical jaccard
    assert (1, 2) in capped
    assert capped[(1, 2)] == pytest.approx(exact[(1, 2)])
    # every capped pair exists in exact with the same value (no false
    # positives, no jaccard drift)
    for k, v in capped.items():
        assert exact[k] == pytest.approx(v)


def test_ngram_jaccard_exact_value(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, shingle_k=2, threshold=0.1).collect()
    }
    assert pairs[(1, 4)] == pytest.approx(1.0)
    # doc1: 8 distinct 2-shingles; doc2 adds "dog today" ⇒ 8/9
    assert pairs[(1, 2)] == pytest.approx(8 / 9)


def test_simhash_properties(docs):
    out = {r.doc_id: list(r.simhash) for r in simhash(docs, bits=32).collect()}
    assert len(out[1]) == 32 and set(out[1]) <= {0, 1}
    assert out[1] == out[4]  # identical text, identical fingerprint
    ham_12 = sum(a != b for a, b in zip(out[1], out[2]))
    ham_13 = sum(a != b for a, b in zip(out[1], out[3]))
    assert ham_12 < ham_13  # near-dup closer than unrelated text


def test_simhash_dedup(docs):
    kept = simhash_dedup(docs)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 4 not in ids and 1 in ids  # min-id representative survives
    assert len(ids) == 3


def test_embedding_dup_pairs(vecs):
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_dup_pairs(vecs, threshold=0.9).collect()
    }
    assert set(pairs) == {(0, 1), (3, 4)}
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert pairs[(0, 1)] == pytest.approx(expected)


def test_decontaminate_removes_overlap(spark):
    from pql_spark.operators import contamination_report, decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally different words in this one"),
            (3, "prefix alpha beta gamma delta epsilon suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    clean = decontaminate(corpus, bench, gram_n=5)
    assert {r.doc_id for r in clean.collect()} == {2}
    report = {
        r.doc_id: r.n_hits
        for r in contamination_report(corpus, bench, gram_n=5).collect()
    }
    assert report == {1: 1, 3: 1}
    # min_hits above the overlap keeps everything
    assert decontaminate(corpus, bench, gram_n=5, min_hits=2).count() == 3


def test_decontaminate_broadcasts_benchmark(spark):
    from pql_spark.operators import contamination_report

    corpus = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, "a b c d e")], "doc_id long, text string"
    )
    plan = (
        contamination_report(corpus, bench, gram_n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_kmv_distinct_exact_when_small(spark):
    df = spark.range(40).select((F.col("id") % 10).alias("v"))
    row = kmv_distinct(df, "v", k=64).head()
    assert row.estimate == 10.0  # sketch not full ⇒ exact
    assert row.n_sketch == 10


def test_kmv_distinct_estimates_within_bound(spark):
    n = 20000
    df = spark.range(n).select(F.col("id").alias("v"))
    row = kmv_distinct(df, "v", k=512).head()
    assert row.n_sketch == 512
    # KMV std error ≈ 1/sqrt(k-2) ≈ 4.4%; allow 3 sigma
    assert abs(row.estimate - n) / n < 0.14


def test_kmv_distinct_deterministic(spark):
    df = spark.range(5000).select(F.col("id").alias("v"))
    a = kmv_distinct(df, "v", k=128).head()
    b = kmv_distinct(df.orderBy(F.rand(7)), "v", k=128).head()
    assert (a.estimate, a.kth_min) == (b.estimate, b.kth_min)


# ------------------------------------------------------------ similarity


def test_cosine_topk(vecs):
    out = cosine_topk(vecs, [1.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in out] == [0, 1]
    assert out[0].cosine == pytest.approx(1.0)


def test_quantize_embeddings_roundtrip(vecs):
    from pql_spark.operators import quantize_embeddings

    out = quantize_embeddings(vecs).collect()
    for r in out:
        assert len(r.qvec) == len(r.embedding)
        for q, x in zip(r.qvec, r.embedding):
            assert -127 <= q <= 127
            # dequantized value within half a quantization step
            assert abs(q * r.qscale - x) <= r.qscale / 2 + 1e-12


def test_quantize_embeddings_matches_scalar_rule(spark, vecs):
    """Bit-equal to the scalar rule applied per element in Python:
    scale = max|v| / 127 (1.0 for a zero vector), q = _q8(x, scale)."""
    from pql_spark.operators import quantize_embeddings
    from pql_spark.operators.similarity import _q8

    extra = spark.createDataFrame(
        [
            (5, "c", [-1.0, 0.5, 0.25]),
            (6, "c", [0.0, 0.0, 0.0]),
            (7, "c", [-0.3, 127.0, -63.5]),  # -63.5: a .5 tie at scale 1
        ],
        "vec_id long, label string, embedding array<double>",
    )
    got, want = {}, {}
    for r in quantize_embeddings(vecs.unionByName(extra)).collect():
        got[r.vec_id] = (list(r.qvec), r.qscale)
        m = max(abs(x) for x in r.embedding)
        scale = m / 127.0 if m > 0 else 1.0
        want[r.vec_id] = ([_q8(x, scale) for x in r.embedding], scale)
    assert len(got) == 8
    assert got == want


def test_quantized_topk_matches_exact(vecs):
    from pql_spark.operators import quantized_topk

    exact = [
        (r.vec_id, round(r.cosine, 9))
        for r in cosine_topk(vecs, [0.9, 0.1, 0.0], k=3).collect()
    ]
    approx = [
        (r.vec_id, round(r.cosine, 9))
        for r in quantized_topk(vecs, [0.9, 0.1, 0.0], k=3, rerank=2).collect()
    ]
    assert approx == exact


def test_quantized_topk_prequantized_input(vecs):
    from pql_spark.operators import quantize_embeddings, quantized_topk

    pre = quantize_embeddings(vecs)
    out = quantized_topk(pre, [1.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in out] == [0, 1]
    assert out[0].cosine == pytest.approx(1.0)


def test_lsh_bucket_topk_contains_self(vecs):
    out = lsh_bucket_topk(vecs, [1.0, 0.0, 0.0], k=3, planes=4).collect()
    assert out and out[0].vec_id == 0  # exact match always in own bucket


def test_pairwise_topk_grouped(vecs):
    out = pairwise_topk(vecs, k=1, key_col="label").collect()
    best = {r.id: r.neighbor for r in out}
    assert best[0] == 1 and best[1] == 0  # mutual NN within label a
    assert best[3] == 4 and best[4] == 3  # within label b
    assert all(r.rank == 1 for r in out)


def test_pairwise_topk_matches_brute_force(vecs):
    """Against a brute-force cosine + sort over the collected rows:
    within each label, cosine desc then neighbor id asc, top 2."""
    rows = vecs.collect()

    def cos(u, v):
        dot = sum(a * b for a, b in zip(u, v))
        return dot / math.sqrt(sum(a * a for a in u) * sum(b * b for b in v))

    want = []
    for q in sorted(rows, key=lambda r: r.vec_id):
        cands = sorted(
            (-cos(q.embedding, c.embedding), c.vec_id)
            for c in rows
            if c.label == q.label and c.vec_id != q.vec_id
        )
        want += [
            (q.vec_id, nb, rank, round(-neg, 9))
            for rank, (neg, nb) in enumerate(cands[:2], start=1)
        ]
    got = [
        (r.id, r.neighbor, r.rank, round(r.cosine, 9))
        for r in pairwise_topk(vecs, k=2, key_col="label").collect()
    ]
    assert got == want


_C02 = 0.9 / math.sqrt(0.82)  # cosine of [1, 0] and [0.9, 0.1]


def _zero_case_rows(rows):
    return [
        tuple(round(x, 9) if isinstance(x, float) else x for x in r)
        for r in rows
    ]


def _zero_topk(op, df):
    return [
        (r.vec_id, r.cosine)
        for q in ([1.0, 0.0], [0.0, 0.0])
        for r in op(df, q, k=3).collect()
    ]


def _zero_pairwise(op):
    return lambda df: [
        (r.id, r.neighbor, r.cosine, r.rank)
        for r in op(df, k=2, key_col="label").collect()
    ]


_ZERO_VECTOR_CASES = {
    # a zero row or query vector: NULL cosine, ranked last
    "cosine_topk": (
        lambda df: _zero_topk(cosine_topk, df),
        [(0, 1.0), (2, _C02), (1, None), (0, None), (1, None), (2, None)],
    ),
    "quantized_topk": (
        lambda df: _zero_topk(
            lambda d, q, k: quantized_topk(d, q, k=k, rerank=1), df
        ),
        [(0, 1.0), (2, _C02), (1, None), (0, None), (1, None), (2, None)],
    ),
    # a zero vector has no nearest centroid: NULL cell, never probed
    "ivf_assign": (
        lambda df: [
            (r.vec_id, r.cell)
            for r in ivf_assign(df, [[1.0, 0.0], [0.0, 1.0]])
            .orderBy("vec_id")
            .collect()
        ],
        [(0, 0), (1, None), (2, 0)],
    ),
    "ivf_topk": (
        lambda df: [
            (r.vec_id, r.cosine)
            for r in ivf_topk(
                df, [1.0, 0.0], k=3, n_centroids=2, nprobe=2
            ).collect()
        ],
        [(0, 1.0), (2, _C02)],
    ),
    # NULL fails every threshold: the zero vector is in no pair
    "semantic_dedup_pairs": (
        lambda df: [
            tuple(r)
            for r in semantic_dedup_pairs(
                df, threshold=0.9, n_clusters=1
            ).collect()
        ],
        [(0, 2, _C02)],
    ),
    "embedding_dup_pairs": (
        lambda df: [
            tuple(r)
            for r in embedding_dup_pairs(df, threshold=0.9, n_blocks=2)
            .collect()
        ],
        [(0, 2, _C02)],
    ),
    "pairwise_topk": (
        _zero_pairwise(pairwise_topk),
        [
            (0, 2, _C02, 1), (0, 1, None, 2),
            (1, 0, None, 1), (1, 2, None, 2),
            (2, 0, _C02, 1), (2, 1, None, 2),
        ],
    ),
    "pairwise_topk_skew": (
        _zero_pairwise(
            lambda d, k, key_col: pairwise_topk_skew(
                d, k=k, key_col=key_col, salt=2
            )
        ),
        [
            (0, 2, _C02, 1), (0, 1, None, 2),
            (1, 0, None, 1), (1, 2, None, 2),
            (2, 0, _C02, 1), (2, 1, None, 2),
        ],
    ),
}


@pytest.mark.parametrize("op", sorted(_ZERO_VECTOR_CASES))
def test_zero_vector_has_a_null_cosine(spark, op):
    """One zero-vector rule on every vector operator: a cosine with a
    zero-norm side is NULL and never raises (ANSI DIVIDE_BY_ZERO), NULL
    passes no threshold, and NULL ranks after every cosine."""
    df = spark.createDataFrame(
        [(0, "a", [1.0, 0.0]), (1, "a", [0.0, 0.0]), (2, "a", [0.9, 0.1])],
        "vec_id long, label string, embedding array<double>",
    )
    run, want = _ZERO_VECTOR_CASES[op]
    assert _zero_case_rows(run(df)) == _zero_case_rows(want)


def test_ivf_full_probe_equals_brute_force(sf_catalog):
    from pql_spark.operators import ivf_topk

    emb = sf_catalog("embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head().embedding]
    exact = cosine_topk(emb, qv, k=10).collect()
    approx = ivf_topk(emb, qv, k=10, n_centroids=4, nprobe=4).collect()
    assert [(r.vec_id, round(r.cosine, 9)) for r in exact] == [
        (r.vec_id, round(r.cosine, 9)) for r in approx
    ]


def test_ivf_partial_probe_recall_and_determinism(sf_catalog):
    from pql_spark.operators import ivf_topk

    emb = sf_catalog("embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head().embedding]
    exact = {r.vec_id for r in cosine_topk(emb, qv, k=10).collect()}
    run1 = ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=3).collect()
    run2 = ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=3).collect()
    assert [tuple(r) for r in run1] == [tuple(r) for r in run2]
    got = {r.vec_id for r in run1}
    assert len(got & exact) / len(exact) >= 0.6  # clustered data → recall


def test_train_centroids_deterministic_and_unit_norm(sf_catalog):
    import math

    from pql_spark.operators import train_centroids

    emb = sf_catalog("embeddings")
    c1 = train_centroids(emb, n_centroids=4, sample_size=64)
    c2 = train_centroids(emb, n_centroids=4, sample_size=64)
    assert c1 == c2
    for row in c1:
        assert math.isclose(sum(x * x for x in row), 1.0, rel_tol=1e-9)


def test_pairwise_topk_single_cell(vecs):
    out = pairwise_topk(vecs, k=1).collect()  # no key: one cell
    assert {r.id for r in out} == {0, 1, 2, 3, 4}
    best = {r.id: r.neighbor for r in out}
    assert best[0] == 1


# ------------------------------------------------------------------ text


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only three words")], "id long, text string")
    row = df.select(word_shingles(F.col("text"), 5).alias("s")).head()
    assert list(row.s) == ["only three words"]  # doc shorter than k


def test_token_stats(docs):
    row = token_stats(docs).filter(F.col("doc_id") == 1).head()
    assert row.n_words == 9
    assert row.n_tokens == 9  # no punctuation ⇒ same as words
    assert row.n_chars_measured == len(
        "the quick brown fox jumps over the lazy dog"
    )


def test_quality_score_bounds(docs):
    for r in quality_score(docs).collect():
        assert 0.0 <= r.quality <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0


def test_word_grams_keeps_multiplicity(spark):
    df = spark.createDataFrame([(1, "a b a b a")], "id long, text string")
    row = df.select(word_grams(F.col("text"), 2).alias("g")).head()
    assert list(row.g) == ["a b", "b a", "a b", "b a"]


def test_repetition_stats_lines(spark):
    rows = [
        (1, "same line\nsame line\nother line\nsame line"),
        (2, "a\nb\nc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    r1 = out[1]
    assert r1.n_lines == 4
    assert r1.dup_line_frac == pytest.approx(3 / 4)  # 3 copies of 'same line'
    assert r1.dup_line_char_frac == pytest.approx(27 / 37)
    r2 = out[2]
    assert r2.dup_line_frac == 0.0
    assert r2.dup_line_char_frac == 0.0


def test_repetition_stats_ngrams(spark):
    # 'spam spam spam spam' — one distinct 2-gram 'spam spam' occurring
    # 3 times covering 9*3=27 chars of 19 normalized chars (overlap can
    # push the Gopher ratio past 1; that's the published definition)
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here differ fully")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].top_ngram_frac == pytest.approx(27 / 19)
    assert out[1].dup_ngram_frac == 1.0  # every 3-gram is 'spam spam spam'
    assert out[2].dup_ngram_frac == 0.0
    assert 0 < out[2].top_ngram_frac < 1


def test_redact_pii(spark):
    from pql_spark.operators import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b@x.org and c@d.io, ip 192.168.0.1"),
            (2, "ssn 123-45-6789 phone 555-123-4567 card 4111111111111111"),
            (3, "clean text"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].redacted == "mail <EMAIL> and <EMAIL>, ip <IP>"
    assert (out[1].n_email, out[1].n_ip) == (2, 1)
    assert out[2].redacted == "ssn <SSN> phone <PHONE> card <CARD>"
    assert (out[2].n_ssn, out[2].n_phone, out[2].n_card) == (1, 1, 1)
    assert out[3].redacted == "clean text"
    assert out[3].n_email == 0


def test_chunk_documents(spark):
    from pql_spark.operators import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "short doc")], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_size=4, overlap=1).collect()
    chunks = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens) for r in out
    }
    # stride 3, n=10 → starts 0,3,6 and a tail start ceil(6/3)=2... c_last=2
    assert chunks[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert chunks[(1, 1)] == ("w3 w4 w5 w6", 4)
    assert chunks[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert (1, 3) not in chunks
    assert chunks[(2, 0)] == ("short doc", 2)  # ≤ chunk_size → one chunk
    # overlap invariant: consecutive chunks share `overlap` tokens
    assert chunks[(1, 0)][0].split()[-1:] == chunks[(1, 1)][0].split()[:1]


def test_pack_sequences(spark):
    from pql_spark.operators import pack_sequences

    df = spark.createDataFrame(
        [(i, 300) for i in range(10)], "doc_id long, n_tokens long"
    )
    out = {r.doc_id: r for r in pack_sequences(df, budget=1000).collect()}
    # single shard: offsets 0,300,...; doc 3 starts at 900 (seq 0), doc 4
    # at 1200 (seq 1)
    assert out[0].offset == 0 and out[0].seq == 0
    assert out[3].offset == 900 and out[3].seq == 0
    assert out[4].offset == 1200 and out[4].seq == 1
    sharded = pack_sequences(df, budget=1000, shards=3).collect()
    assert {r.shard for r in sharded} <= {0, 1, 2}
    # within each shard offsets are the cumsum in id order
    for s in {r.shard for r in sharded}:
        rows = sorted(
            (r for r in sharded if r.shard == s), key=lambda r: r.doc_id
        )
        expect = 0
        for r in rows:
            assert r.offset == expect
            expect += 300


def test_language_id(spark):
    rows = [
        (1, "the cat and the dog in a house that is for it"),
        (2, "der Hund und die Katze ist ein Tier mit im Haus nicht"),
        (3, "el perro y la casa es en un los de que por"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "es"}


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of ≥ w+k-1 words
    share at least one fingerprint."""
    from pql_spark.operators import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"unrelated prefix words here {shared} and a suffix"),
        (2, f"{shared} totally different continuation of text stream"),
        (3, "no overlap at all with anything else whatsoever in here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r.doc_id: set(r.fingerprints)
        for r in winnow_fingerprints(df, k=5, w=4).collect()
    }
    assert fps[1] & fps[2]  # shared 10-word substring ≥ w+k-1 = 8
    assert not (fps[1] & fps[3])


def test_winnow_short_doc(spark):
    from pql_spark.operators import winnow_fingerprints

    df = spark.createDataFrame([(1, "two words")], "doc_id long, text string")
    row = winnow_fingerprints(df, k=5, w=4).head()
    assert len(row.fingerprints) == 1  # whole doc is the single gram


def test_doc_fingerprint_normalization(spark):
    rows = [(1, "Hello   World"), (2, "hello world"), (3, "other text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.fingerprint for r in doc_fingerprint(df).collect()}
    assert out[1] == out[2]  # case/whitespace-insensitive
    assert out[1] != out[3]


# ------------------------------------------------------------ multimodal


def test_multimodal_roundtrip(spark):
    media = M.synthesize_media(spark, n=8, kind="image", payload_bytes=256)
    feats = M.extract_features(media, dim=4)
    rows = feats.collect()
    assert len(rows) == 8
    for r in rows:
        assert r.n_bytes == 256
        assert len(r.feature) == 4
        assert all(0.0 <= x <= 1.0 for x in r.feature)
    # determinism: same media_id ⇒ same feature
    again = M.extract_features(
        M.synthesize_media(spark, n=8, kind="image", payload_bytes=256), dim=4
    ).collect()
    assert {r.media_id: list(r.feature) for r in rows} == {
        r.media_id: list(r.feature) for r in again
    }


def test_multimodal_real_decoder_stub(spark):
    media = M.synthesize_media(spark, n=2)
    feats = M.extract_features(media, decoder="real")
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        feats.collect()


def test_frame_sample_plan(spark):
    rows = [
        (1, "video", b"x", {"width": 1, "height": 1, "duration_ms": 2500,
                            "codec": "fake"}),
        (2, "image", b"y", {"width": 1, "height": 1, "duration_ms": 0,
                            "codec": "fake"}),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.frame_sample_plan(df, every_ms=1000).collect()
    assert {(r.media_id, r.frame_ts_ms) for r in out} == {
        (1, 0), (1, 1000), (1, 2000)
    }


def test_embedding_dup_pairs_blocked_equals_brute_force(spark):
    """The distributed block-Gram path must reproduce a brute-force
    numpy Gram matrix over the collected rows exactly — any block
    assignment, any n_blocks."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    sims = (mat @ mat.T) / np.outer(norms, norms)
    # 0.3: the corpus's largest cosine is ~0.48, so a higher threshold
    # would compare two empty pair sets
    ii, jj = np.nonzero((sims >= 0.3) & (ids[:, None] < ids[None, :]))
    want = {(int(ids[i]), int(ids[j])): sims[i, j] for i, j in zip(ii, jj)}
    assert len(want) > 100
    for nb in (1, 3, 8):
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_dup_pairs(
                emb, threshold=0.3, n_blocks=nb
            ).collect()
        }
        assert set(got) == set(want), f"n_blocks={nb}"
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=1e-12), f"n_blocks={nb}"


def test_png_codec_roundtrip_and_filters():
    import struct
    import zlib

    import numpy as np

    from pql_spark.operators._png import _SIG, decode_png, encode_png

    rng = np.random.RandomState(7)
    for shape in ((13, 17), (9, 5, 3), (6, 4, 4)):
        a = rng.randint(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(a)), a), shape

    # hand-encode with every scanline filter type; decode must invert
    def manual_png(arr, ftype):
        h, w, c = arr.shape
        bpp = c
        rows, prev = [], np.zeros(w * c, dtype=np.int64)
        for y in range(h):
            cur = arr[y].reshape(-1).astype(np.int64)
            enc = np.empty_like(cur)
            for x in range(len(cur)):
                a_ = cur[x - bpp] if x >= bpp else 0
                b_, c_ = prev[x], (prev[x - bpp] if x >= bpp else 0)
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = a_
                elif ftype == 2:
                    pred = b_
                elif ftype == 3:
                    pred = (a_ + b_) >> 1
                else:
                    p = a_ + b_ - c_
                    pa, pb, pc = abs(p - a_), abs(p - b_), abs(p - c_)
                    pred = (
                        a_ if (pa <= pb and pa <= pc)
                        else (b_ if pb <= pc else c_)
                    )
                enc[x] = (cur[x] - pred) % 256
            rows.append(bytes([ftype]) + bytes(enc.astype(np.uint8)))
            prev = cur

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            _SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + chunk(b"IEND", b"")
        )

    a = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    for f in range(5):
        assert np.array_equal(decode_png(manual_png(a, f)), a), f


def test_multimodal_png_decode_features(spark):
    """Real-codec path: distributed PNG decode + featurize must equal
    the driver-side reference math on the same deterministic images,
    and the first image's feature must match a pinned hash."""
    import hashlib

    import numpy as np

    from pql_spark.operators._png import decode_png

    media = M.synthesize_png_media(spark, n=24, width=48, height=32)
    out = {
        r.media_id: r
        for r in M.extract_features(media, dim=16, decoder="png").collect()
    }
    assert len(out) == 24
    local = {r.media_id: bytes(r.payload) for r in media.collect()}
    for mid, payload in local.items():
        ref = M.image_feature(decode_png(payload), 16)
        got = list(out[mid].feature)
        assert np.allclose(got, ref, atol=1e-6), mid
    digest = hashlib.md5(
        ",".join(f"{v:.6f}" for v in M.image_feature(
            decode_png(local[0]), 16
        )).encode()
    ).hexdigest()
    # pinned: deterministic synthetic image → deterministic feature
    assert digest == "2c7ebf57341ff5d0d05c5d557fa153d3"


def test_ngram_prefix_filter_matches_default(spark):
    """PPJoin prefix filtering is LOSSLESS: identical pairs + jaccard
    values to the count-only inverted-index path, on a corpus with
    real frequency skew (shared boilerplate + rare content)."""
    boiler = "the quick brown fox jumps over the lazy dog again and"
    rows = []
    for i in range(30):
        rows.append((i, boiler + f" unique{i} content{i} words{i}"))
    # near-dup pairs: same rare content, one word changed
    rows.append((100, boiler + " unique1 content1 words1 extra"))
    rows.append((101, boiler + " unique2 content2 words2 extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, shingle_k=2, threshold=0.4
        ).collect()
    )
    pref = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, shingle_k=2, threshold=0.4, prefix_filter=True
        ).collect()
    )
    assert pref == base
    assert base  # non-degenerate


def _gram_stats(df):
    """(pair mass Σ df·(df−1)/2, postings Σ df) of the 2-gram shingles,
    by a plain ``groupBy(gram)``."""
    from pql_spark.operators.dedup import shingle_rows

    s = (
        shingle_rows(df, "text", "doc_id", 2)
        .groupBy("gram").count()
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("mass"),
            F.sum("count").alias("postings"),
        )
        .head()
    )
    return s.mass, s.postings


def test_ngram_prefix_auto_decision(spark):
    """The prefix_filter='auto' rule over the postings statistics: ON
    iff the pair mass Σ df·(df−1)/2 exceeds 100× the posting count
    Σ df.  A boilerplate-heavy corpus (one hot phrase in every doc →
    mass ≈ C(d,2)·grams ≫ postings) turns the filter ON; a corpus of
    all-unique grams (mass 0) keeps it OFF.  Either way the output is
    identical to both explicit settings."""
    from pql_spark.operators.dedup import prefix_auto_decision

    assert prefix_auto_decision(100.0 * 20 + 0.5, 20)
    assert not prefix_auto_decision(100.0 * 20, 20)
    assert not prefix_auto_decision(0.0, 20)
    assert not prefix_auto_decision(None, None)  # empty input

    # mass ratio ≈ 0.3·d for this shape (3 hot grams of 5): d=400 →
    # ≈120 > the 100 threshold; d=60 → ≈18 < 100
    very_hot = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + f"u{i} v{i}")
         for i in range(400)],
        "doc_id long, text string",
    )
    hot = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + f"u{i} v{i}")
         for i in range(60)],
        "doc_id long, text string",
    )
    flat = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(60)],
        "doc_id long, text string",
    )
    assert prefix_auto_decision(*_gram_stats(very_hot))
    assert not prefix_auto_decision(*_gram_stats(hot))
    assert not prefix_auto_decision(*_gram_stats(flat))
    kw = dict(shingle_k=2, threshold=0.4)
    auto = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(hot, **kw).collect()
    )
    for setting in (True, False):
        explicit = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(
                hot, prefix_filter=setting, **kw
            ).collect()
        )
        assert explicit == auto


def _ngram_corpora(spark, tmp_path):
    """A hot corpus (three boilerplate 2-grams in all 405 docs: pair
    mass ≈ 121× the postings) and a flat one (mass ≈ 0.05×), each with
    five near-dup pairs above t=0.5, written to parquet so the input
    is not driver-local and ``"auto"`` really decides."""
    hot = [(i, f"alpha beta gamma delta u{i} v{i}") for i in range(400)]
    hot += [
        (1000 + i, f"alpha beta gamma delta u{i} v{i} w{i}")
        for i in range(5)
    ]
    flat = [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(60)]
    flat += [(100 + i, f"a{i} b{i} c{i} d{i} x{i}") for i in range(5)]
    out = {}
    for name, rows in (("hot", hot), ("flat", flat)):
        path = str(tmp_path / name)
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            path
        )
        out[name] = (spark.read.parquet(path), rows)
    return out


def _brute_jaccard(rows, k, t):
    from pql_spark.operators.text import py_tokens

    def shingles(text):
        toks = py_tokens(text)
        if len(toks) <= k:
            return {" ".join(toks)}
        return {
            " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
        }

    sets = {i: shingles(text) for i, text in rows}
    ids = sorted(sets)
    out = []
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            inter = len(sets[a] & sets[b])
            j = inter / len(sets[a] | sets[b])
            if inter and j >= t:
                out.append((a, b, round(j, 9)))
    return out


def test_ngram_prefix_auto_decides_both_branches(spark, tmp_path):
    """``"auto"`` on parquet inputs takes the decision inside
    ``ngram_jaccard_pairs``: the hot corpus gets the PPJoin plan (its
    ``row_number`` prefix Window) and the flat one the naive plan (no
    Window), and on both corpora ``"auto"``, ``True`` and ``False``
    all equal a brute-force Python Jaccard."""
    kw = dict(shingle_k=2, threshold=0.5)
    for name, (df, rows) in _ngram_corpora(spark, tmp_path).items():
        want = _brute_jaccard(rows, 2, 0.5)
        assert len(want) == 5, name
        auto = ngram_jaccard_pairs(df, **kw)
        plan = auto._jdf.queryExecution().optimizedPlan().toString()
        assert ("Window [row_number()" in plan) == (name == "hot"), name
        for setting, out in (
            ("auto", auto),
            (True, ngram_jaccard_pairs(df, prefix_filter=True, **kw)),
            (False, ngram_jaccard_pairs(df, prefix_filter=False, **kw)),
        ):
            got = [
                (r.id_a, r.id_b, round(r.jaccard, 9)) for r in out.collect()
            ]
            assert got == want, (name, setting)


def test_ngram_prefix_auto_decision_runs_no_job(spark, tmp_path,
                                                monkeypatch):
    """The ``"auto"`` decision is observed on the postings checkpoint:
    building the operator runs only that checkpoint's jobs (one per
    exchange of the postings plan, then the checkpoint itself), no
    decision ``head``, and the observed mass/postings equal a
    ``groupBy(gram)`` over the shingles."""
    import pql_spark.operators.dedup as D

    seen = []
    rule = D.prefix_auto_decision
    monkeypatch.setattr(
        D, "prefix_auto_decision",
        lambda mass, postings: seen.append((mass, postings))
        or rule(mass, postings),
    )
    sc = spark.sparkContext
    st = sc.statusTracker()
    for name, (df, _) in _ngram_corpora(spark, tmp_path).items():
        group = f"ngram-auto-{name}"
        sc.setJobGroup(group, group)
        try:
            D.ngram_jaccard_pairs(df, shingle_k=2, threshold=0.5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sorted(st.getJobIdsForGroup(group))
        stages = [
            [st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds]
            for j in jobs
        ]
        assert 1 <= len(jobs) <= 3, (name, stages)
        assert any(
            n.startswith("localCheckpoint at") for n in stages[-1]
        ), (name, stages)
        assert not any("head at" in n for s in stages for n in s), stages
        assert seen.pop() == _gram_stats(df), name
        assert not seen


def test_ngram_prefix_filter_float_ceil_boundary(spark):
    """ADVICE r8: prefix length uses ceil on a float product; at
    t=0.07, n=100 the product is 7.000000000000001 so an unguarded
    ceil gives 8 — prefix one gram too short — and a pair at EXACTLY
    the threshold vanishes.  Construction: doc A = 93 unique words +
    the 8 words of doc B, so A has 100 2-gram shingles of which the
    LAST 7 in document-frequency order (df=2 sorts after df=1) are
    exactly B's 7 shingles: jaccard = 7/(100+7-7) = 0.07, and the only
    shared grams sit at positions 94..100 of A — inside the correct
    94-gram prefix, outside the buggy 93."""
    a_words = [f"a{i}" for i in range(93)] + [f"z{i}" for i in range(8)]
    b_words = [f"z{i}" for i in range(8)]
    docs = spark.createDataFrame(
        [(1, " ".join(a_words)), (2, " ".join(b_words))],
        "doc_id long, text string",
    )
    kw = dict(shingle_k=2, threshold=0.07)
    base = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs, **kw).collect()
    )
    assert base == [(1, 2, 0.07)]
    pref = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, prefix_filter=True, **kw
        ).collect()
    )
    assert pref == base
