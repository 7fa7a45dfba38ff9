"""``minhash_signature`` has two forms that share no code: a batch
frame gets the JVM aggregate (one ``GROUP BY id`` over the verify's
shingle rows), a stream gets the narrow Arrow kernel
(``_arrow_minhash``).  These tests pin the two to each other on an
adversarial corpus, and pin ``minhash_dup_pairs`` to a run whose
signatures come from the Arrow kernel — same ids, bit-equal jaccard
doubles.  A NULL text has no shingles on either form, so no
signature."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pql_spark.operators.dedup import (
    _arrow_minhash,
    _bucket_pairs,
    _verify_jaccard,
    band_signature,
    minhash_dup_pairs,
    minhash_signature,
)
from pql_spark.operators.text import shingle_rows

NUM_PERM, BANDS, K, THRESHOLD = 32, 16, 3, 0.3

BASE = "the quick brown fox jumps over the lazy dog near the river bank"
UNI = "naïve café straße 東京 über résumé smörgåsbord façade"
FOOTER = "boilerplate footer text for every page on the site"

ROWS = [
    (1, BASE),
    (2, BASE + " today"),                      # near dup of 1
    (3, BASE),                                 # exact dup of 1
    (4, None),                                 # NULL text
    (5, ""),                                   # empty
    (6, " \t\n  "),                            # whitespace only
    (7, "alpha\u00a0beta gamma delta epsilon zeta eta"),  # one token
    (8, "alpha beta gamma delta epsilon zeta eta"),
    (9, "line one\u2028line two three four five six"),    # one token
    (10, "line one line two three four five six"),
    (11, "short doc"),                         # fewer than K words
    (12, "SHORT   doc"),                       # same after normalizing
    (13, "a b a b a b a b a b"),               # repeated shingles
    (14, "a b a b a b a b a b a b a b"),
    (15, UNI),                                 # non-ASCII words
    (16, UNI + " jalapeño"),
    (17, "NAÏVE CAFÉ straße 東京 ÜBER résumé smörgåsbord façade"),
    (18, "alpha beta gamma delta\u1680epsilon zeta eta"),  # one token
    (20, FOOTER),                              # a 4-doc bucket cluster
    (21, FOOTER),
    (22, FOOTER),
    (23, FOOTER),
]


@pytest.fixture(scope="module")
def adv(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def _jvm_sig(df):
    return minhash_signature(df, num_perm=NUM_PERM, shingle_k=K)


def _arrow_sig(df):
    return _arrow_minhash(df, "text", "doc_id", NUM_PERM, K)


def _sigs(sig):
    return {r.doc_id: list(r.minhash) for r in sig.collect()}


def _signature_pairs(df, max_bucket, signature=_arrow_sig):
    """The pair chain over ``signature(df)`` (default: the Arrow
    kernel): band → bucket → (capped) pair emission → rows-based exact
    verify.  Returns (candidates, verified pairs sorted by id)."""
    sig = signature(df)
    buckets = (
        band_signature(sig, "doc_id", NUM_PERM, BANDS)
        .groupBy("band", "bhash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    cand = _bucket_pairs(buckets, max_bucket).dropDuplicates(
        ["id_a", "id_b"]
    )
    sh = shingle_rows(df, "text", "doc_id", K)
    return cand, _verify_jaccard(sh, cand, "doc_id", THRESHOLD)


def test_jvm_signature_matches_arrow_kernel(adv):
    agg = _sigs(_jvm_sig(adv))
    arrow = _sigs(_arrow_sig(adv))
    # NULL text: no shingles, so no row on either form
    assert set(agg) == set(arrow) == {i for i, t in ROWS if t is not None}
    for doc_id, sig in agg.items():
        assert len(sig) == NUM_PERM
        assert sig == arrow[doc_id], doc_id
    # the tokenization edge cases really are edge cases
    assert agg[5] == agg[6]            # empty == whitespace-only
    assert agg[7] != agg[8]            # U+00A0 is not whitespace
    assert agg[9] != agg[10]           # nor is U+2028
    assert agg[18] != agg[8]           # nor is U+1680
    assert agg[11] == agg[12]          # short docs: one whole-doc shingle
    assert agg[15] == agg[17]          # non-ASCII lower-casing agrees


def _jvm_pairs(df, **kw):
    return [
        tuple(r)
        for r in minhash_dup_pairs(
            df, num_perm=NUM_PERM, bands=BANDS, shingle_k=K,
            threshold=THRESHOLD, **kw,
        ).collect()
    ]


@pytest.mark.parametrize("max_bucket", [None, 2])
@pytest.mark.parametrize("sort_pairs", [True, False])
def test_pairs_match_pandas_signature_run(adv, sort_pairs, max_bucket):
    # the NULL-text row has its own test below
    docs = adv.filter(F.col("text").isNotNull())
    _, ref = _signature_pairs(docs, max_bucket)
    want = [tuple(r) for r in ref.collect()]
    got = _jvm_pairs(docs, max_bucket=max_bucket, sort_pairs=sort_pairs)
    if not sort_pairs:
        got.sort()
    # tuple equality: same ids AND bit-equal jaccard doubles
    assert got == want
    ids = {(a, b) for a, b, _ in got}
    assert {(1, 2), (1, 3), (5, 6), (11, 12), (15, 16)} <= ids
    footer = {p for p in ids if p[0] >= 20}
    if max_bucket is None:
        assert footer == {(a, b) for a in range(20, 24)
                          for b in range(a + 1, 24)}
    else:
        # the 4-doc bucket exceeds the cap: star pairs from its min id
        assert footer == {(20, 21), (20, 22), (20, 23)}


def test_null_text_yields_no_pair_on_either_path(adv):
    # no signature, so the NULL doc is a candidate on neither chain
    cand, ref = _signature_pairs(adv, None)
    jvm_cand, _ = _signature_pairs(adv, None, _jvm_sig)
    for c in (cand, jvm_cand):
        assert not any(4 in (r.id_a, r.id_b) for r in c.collect())
    want = [tuple(r) for r in ref.collect()]
    got = _jvm_pairs(adv)
    assert got == want
    assert (5, 6, 1.0) in got


def test_null_text_no_longer_fills_a_capped_bucket(adv):
    # The empty docs' buckets are {5, 6} on both chains: a NULL doc in
    # them would turn them into stars from id 4 over a cap of 2, which
    # the verify then drops, losing (5, 6).
    _, ref = _signature_pairs(adv, 2)
    want = [tuple(r) for r in ref.collect()]
    got = _jvm_pairs(adv, max_bucket=2)
    assert (5, 6, 1.0) in want
    assert got == want
