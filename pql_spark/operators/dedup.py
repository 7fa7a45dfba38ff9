"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the point of these, vs. the naive O(n²) all-pairs):

- exact: hash-shuffle groupBy on the dedup key — one shuffle, AQE
  handles skew.
- MinHash+LSH: per-doc signature (batch: one map-side-combined
  aggregate over the shingle rows; streaming: a narrow Arrow kernel),
  explode to (band, hash) buckets, pair *within buckets only* —
  candidate generation cost is Σ|bucket|² instead of n²; verification
  runs only on candidates.
- SimHash: 64-bit fingerprint per row (narrow), exact-match dedup is a
  groupBy; near-match joins on rotated prefix blocks.
- embedding near-dup: the default is a fully distributed block
  Gram-matrix matmul (exact, nothing collected to the driver, per-task
  tiles bounded by the block size); LSH-style hyperplane bucketing
  (see similarity.py) bounds the cost further when approximate recall
  is acceptable, and a broadcast variant exists for explicitly-small
  sides.

All hashes derive from md5 (deterministic across runs/engines — lets a
SQL oracle reproduce results exactly), arithmetic stays in Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ._util import rebalance, sql_over
from .similarity import _cosine_tiles
from .text import _sized_shingle_rows, shingle_rows, tokens

# ngram_jaccard_pairs(prefix_filter="auto") turns the PPJoin prefix
# filter on when the naive inverted join's pair mass Σ df·(df−1)/2
# exceeds this multiple of the posting count — scale-free, calibrated
# on the measured corpora (see the operator docstring): flat sf1
# ratio ≈36 and flat sf10 ≈76 (naive wins both — prefix-ON is 6.6×
# slower at sf1 and disk-death at sf10), zipf ≈220 (prefix wins 56×).
_PREFIX_AUTO_MASS_RATIO = 100.0


def prefix_auto_decision(mass: float | None, postings: int | None) -> bool:
    """The ``prefix_filter="auto"`` rule over the postings statistics:
    ON iff the naive inverted join's candidate-pair mass
    ``mass`` = Σ df·(df−1)/2 exceeds ``_PREFIX_AUTO_MASS_RATIO`` ×
    ``postings`` = Σ df, df being each gram's posting-list length.
    :func:`ngram_jaccard_pairs` observes both sums on its postings
    checkpoint; ``None`` (an empty input) reads as no mass."""
    return bool((mass or 0.0) > _PREFIX_AUTO_MASS_RATIO * (postings or 1))


# prime just under 2^29: with 32-bit base hashes, a*h + b stays < 2^61 —
# no int64 overflow in Spark OR in a BIGINT-only SQL oracle
_P = 536870909


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) params per permutation (seeded LCG — stable
    across sessions so signatures are reproducible)."""
    params = []
    state = 42
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a, b))
    return params


def _md5_hash32(s: Column) -> Column:
    """Deterministic 32-bit integer hash of a string via md5 — matches
    ``('0x' || substr(md5(x),1,8))::BIGINT`` in ANSI-SQL oracles."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def _minhash_agg_sql(idq: str, src: str, num_perm: int) -> str:
    """The JVM MinHash aggregate as SQL text: ONE ``GROUP BY id`` over
    (id, gram) shingle rows emitting ``n`` (distinct-shingle count, the
    exact verify's set size) and ``minhash`` (the ``num_perm``
    ``min((a·h+b) mod P)`` values, ``h`` the :func:`_md5_hash32` of the
    gram).  Shared by the batch :func:`minhash_signature` and the
    one-parse :func:`minhash_dup_pairs` so their signatures agree by
    construction.  The aggregate combines map-side, so its shuffle
    ships about one row per document, not one per gram."""
    mins = ", ".join(
        f"min(({a} * __h + {b}) % {_P})" for a, b in _perm_params(num_perm)
    )
    return (
        f"SELECT {idq}, count(1) AS n, array({mins}) AS minhash FROM"
        f" (SELECT {idq},"
        " CAST(conv(substring(md5(gram), 1, 8), 16, 10) AS BIGINT) AS __h"
        f" FROM {src}) GROUP BY {idq}"
    )


def _md5_hash64(s: Column) -> Column:
    """Deterministic 60-bit integer hash of a string via md5 — matches
    ``('0x' || substr(md5(x),1,15))::BIGINT`` in ANSI-SQL oracles."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def dedup_exact(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact deduplication — keep one row per distinct key.

    ``dropDuplicates`` compiles to a hash aggregate: map-side partial
    dedup, one shuffle on the key, AQE coalesces output partitions.
    """
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def dedup_incremental(
    batch: DataFrame,
    seen: DataFrame,
    key: str = "fingerprint",
) -> DataFrame:
    """Incremental dedup: rows of ``batch`` whose ``key`` is NOT in the
    ``seen`` set (e.g. fingerprints of previously ingested corpus).

    A left-anti join — at 100 TB, with ``seen`` bucketed on ``key`` and
    the batch fingerprinted with :func:`pql_spark.operators.text.
    doc_fingerprint`, each incremental ingest touches only the new
    partition plus a co-located probe of the store; re-ingesting the
    full corpus is never needed.
    """
    return batch.join(seen.select(key).distinct(), key, "left_anti")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 13,
    broadcast: bool = True,
) -> DataFrame:
    """Per-document benchmark contamination: (id, n_hits) where n_hits is
    the number of DISTINCT ``gram_n``-word n-grams the document shares
    with the benchmark set (GPT-3 appendix C–style train/test overlap).

    Scale shape: the benchmark gram set is tiny next to a 100 TB corpus —
    distinct-reduce it and **broadcast** it, so the corpus side is one
    narrow explode + broadcast hash semi-probe + per-doc count, with the
    only shuffle keyed by doc id for the count.  Set ``broadcast=False``
    to fall back to a shuffle join when the benchmark itself is huge.
    """
    bench = (
        shingle_rows(benchmark, text_col, id_col, gram_n)
        .select("gram")
        .distinct()
    )
    if broadcast:
        bench = F.broadcast(bench)
    grams = shingle_rows(corpus, text_col, id_col, gram_n)
    return (
        grams.join(bench, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 13,
    min_hits: int = 1,
    broadcast: bool = True,
) -> DataFrame:
    """Drop corpus documents sharing ≥ ``min_hits`` distinct
    ``gram_n``-word n-grams with ``benchmark`` (dataset decontamination —
    the standard pre-training hygiene step so eval benchmarks don't leak
    into training data).

    ``corpus`` minus the :func:`contamination_report` ids via a left-anti
    join on the doc id.  The contaminated-id set is small (hits only), so
    AQE turns the anti-join into a broadcast probe — the full corpus is
    never shuffled.
    """
    hits = contamination_report(
        corpus, benchmark, text_col, id_col, gram_n, broadcast
    )
    flagged = hits.filter(F.col("n_hits") >= min_hits).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256, id_suffix: str = ""
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch.

    Keeps the k smallest md5-derived hash values of the column — a
    mergeable, fixed-size sketch whose estimator is
    ``(k-1) * 2^32 / h_(k)`` (Bar-Yossef et al.).  Unlike HLL registers,
    the sketch is a DETERMINISTIC function of the value set, so a SQL
    oracle reproduces the estimate bit-for-bit — an exactly-testable
    approximate-distinct operator.

    Plan: distinct on the hashed value (map-side partial dedup) then
    top-k ascending via ``TakeOrderedAndProject`` — no total sort, one
    shuffle, O(k) result.  Returns one row: (estimate double, kth_min
    long, n_sketch int).
    """
    hashed = df.select(
        _md5_hash32(F.col(col).cast("string")).alias("h")
    ).distinct()
    kmin = hashed.orderBy(F.col("h").asc()).limit(k)
    cnt = F.count(F.lit(1))
    return kmin.agg(
        # sketch not full ⇒ it holds every distinct value: exact count
        F.when(cnt < k, cnt.cast("double"))
        .otherwise(
            F.round(
                (F.lit(float(k - 1)) * F.lit(float(1 << 32))) / F.max("h"),
                4,
            )
        )
        .alias("estimate"),
        F.max("h").alias("kth_min"),
        cnt.cast("int").alias("n_sketch"),
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """Per-document MinHash signature ``(id, minhash)``: ``minhash`` is
    an array<long> of length ``num_perm`` over the distinct k-word
    shingles.  A NULL text has no shingles, so it gets no row.

    The form follows the input kind:

    - a batch frame: shingles are built as exploded ROWS
      (:func:`pql_spark.operators.text.shingle_rows`), each row is
      md5-hashed once, and the signature is one ``GROUP BY id`` with
      ``num_perm`` ``min((a·h+b) mod P)`` aggregates
      (:func:`_minhash_agg_sql`, shared with :func:`minhash_dup_pairs`)
      — all JVM, map-side partial aggregation, no Python workers;
    - a streaming frame (``df.isStreaming``): the narrow Arrow kernel
      :func:`_arrow_minhash`, the one form a stateless streaming query
      can run.

    md5 over UTF-8 bytes is engine-independent, so the two forms are
    bit-identical; they share no code, so each checks the other.
    """
    if df.isStreaming:
        return _arrow_minhash(df, text_col, id_col, num_perm, shingle_k)
    rows = shingle_rows(rebalance(df, id_col), text_col, id_col, shingle_k)
    return sql_over(
        {"sh": rows},
        f"SELECT `{id_col}`, minhash FROM"
        f" ({_minhash_agg_sql(f'`{id_col}`', '{sh}', num_perm)})",
    )


def _arrow_minhash(
    df: DataFrame, text_col: str, id_col: str, num_perm: int, shingle_k: int
) -> DataFrame:
    """The streaming form of :func:`minhash_signature`: one
    Arrow-batched kernel does shingling + md5 + the permutation mins.
    Shingling runs INSIDE the kernel (a Python twin of
    :func:`pql_spark.operators.text.word_shingles` — lower, collapse
    whitespace, split, sliding k-gram, first-occurrence distinct) so
    Arrow ships ONE text string per document instead of ~n_words
    shingle strings, and md5 runs once per DISTINCT shingle in the
    batch with the permutation mins as a single ``minimum.reduceat`` —
    measured ~4× over Catalyst-side shingling + a per-doc loop.  Narrow
    (no shuffle, no aggregate), so it runs inside a stateless streaming
    query; it pays for Python workers.  NULL texts are filtered before
    the kernel: they have no shingles, as in the JVM aggregate."""
    params = _perm_params(num_perm)

    import hashlib

    import numpy as np
    import pandas as pd

    from .text import py_tokens

    def _py_shingles(text: str) -> list:
        # Python twin of word_shingles(): values match the Catalyst
        # expression byte-for-byte (tests compare this kernel with the
        # JVM aggregate on an adversarial corpus).  py_tokens uses the
        # Java-\s ASCII whitespace class — Python \s also matches
        # U+00A0/U+2028/U+1680… and silently diverged (ADVICE r7).
        toks = py_tokens(text)
        if len(toks) <= shingle_k:
            return [" ".join(toks)]
        return list(
            dict.fromkeys(
                " ".join(toks[i : i + shingle_k])
                for i in range(len(toks) - shingle_k + 1)
            )
        )

    def kernel(batches):
        # One vectorized pass per Arrow batch instead of per-document
        # numpy calls: md5 runs once per DISTINCT shingle in the batch,
        # then each permutation is a (U,)-sized mul/add/mod + gather +
        # minimum.reduceat over small REUSED buffers.  The buffer reuse
        # matters: a single (num_perm × total) matrix formulation page-
        # faults ~50 MB of fresh allocations per batch (measured 0.7 s
        # vs 0.03 s for this loop on a 1k-doc batch) and would grow
        # unboundedly with Arrow batch size; these buffers are O(batch
        # shingles), not O(batch shingles × num_perm).
        import itertools

        for pdf in batches:
            # every document has >= 1 shingle (_py_shingles of any text,
            # even "", is non-empty), so each reduceat segment is too
            shs = [_py_shingles(t) for t in pdf[text_col]]
            lens = np.fromiter((len(s) for s in shs), np.int64, len(shs))
            flat = np.asarray(
                list(itertools.chain.from_iterable(shs)), dtype=object
            )
            codes, uniques = pd.factorize(flat)
            hu = np.fromiter(
                (
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
                    for s in uniques
                ),
                np.int64,
                count=len(uniques),
            )
            starts = np.cumsum(lens) - lens
            red = np.empty((len(shs), num_perm), dtype=np.int64)
            mu = np.empty(len(hu), dtype=np.int64)
            gv = np.empty(len(flat), dtype=np.int64)
            for p, (a, b) in enumerate(params):
                # a < P, h < 2^32 → a·h < 2^62: no int64 overflow
                np.multiply(hu, a, out=mu)
                np.add(mu, b, out=mu)
                np.mod(mu, _P, out=mu)
                np.take(mu, codes, out=gv)
                red[:, p] = np.minimum.reduceat(gv, starts)
            yield pd.DataFrame({id_col: pdf[id_col], "minhash": list(red)})

    return (
        df.select(F.col(id_col), F.col(text_col))
        .filter(F.col(text_col).isNotNull())
        .mapInPandas(kernel, f"{id_col} long, minhash array<long>")
    )


def _bucket_pairs_sql(cap: int | None) -> str:
    """Candidate pairs emitted map-side from a bucket posting list
    (column ``ids``: sorted array), as SQL text: an array of
    ``named_struct('a', x, 'b', y)`` with x before y in ``ids``.

    ``cap=None``: every bucket contributes all |b|·(|b|-1)/2 pairs.
    With a cap, oversized buckets fall back to a STAR (first member
    paired with each other member): O(|b|) pairs that keep the cluster
    connected for downstream grouping without the quadratic blow-up a
    boilerplate-heavy corpus hits at scale (one 10⁶-doc bucket =
    5·10¹¹ pairs materialized in a single task).  Star pairs are still
    exact-verified by the caller, so precision is unchanged; only
    pair-recall *inside* oversized buckets drops — cluster membership
    does not."""
    all_pairs = (
        "flatten(transform(ids, (x, i) -> transform("
        "slice(ids, i + 2, size(ids)), y -> named_struct('a', x, 'b', y))))"
    )
    if cap is None:
        return all_pairs
    star = (
        "transform(slice(ids, 2, size(ids) - 1),"
        " y -> named_struct('a', element_at(ids, 1), 'b', y))"
    )
    return (
        f"CASE WHEN size(ids) <= {int(cap)} THEN {all_pairs}"
        f" ELSE {star} END"
    )


def _bucket_pairs(buckets: DataFrame, cap: int | None) -> DataFrame:
    """(id_a, id_b) candidate pairs from bucket posting lists (column
    ``ids``: sorted array of doc ids) — see :func:`_bucket_pairs_sql`;
    id_a < id_b."""
    return buckets.select(
        F.expr(f"explode({_bucket_pairs_sql(cap)})").alias("p")
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))


def _verify_jaccard(
    sh: DataFrame, cand: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs, rows-based.

    |A∩B| is counted by joining the pair list back to the (id, gram)
    rows — no shingle ARRAYS are ever shuffled, and zero-intersection
    candidates simply never reach the aggregate (they can't pass any
    threshold > 0).
    """
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.select(F.col(id_col).alias("id_a"), F.col("gram"))
        .join(cand, "id_a")
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("gram")),
            ["id_b", "gram"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_inter") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_inter")
    )
    return (
        inter.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def band_signature(
    sig: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """Explode a ``minhash`` signature column into (id, band, bhash)
    rows — md5 over each band's slice, the shared LSH banding used by
    the batch pair generator and the streaming near-dup operator
    (identical hashes, so their buckets agree).  Narrow (no shuffle).

    Driver-cost note: the per-band struct array is emitted as ONE SQL
    string (``F.expr``) — the Column-API construction of the same tree
    cost ~0.5 s of py4j round trips per call (r15, measured), paid by
    every minhash/incremental/curation gate; the parsed Catalyst tree
    is identical."""
    return sig.select(
        F.col(id_col),
        F.expr(
            f"explode(array({_band_entries_sql(num_perm, bands)}))"
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bhash")


def _band_entries_sql(num_perm: int, bands: int) -> str:
    """The banding struct array as SQL text — shared by
    :func:`band_signature` and the one-parse :func:`minhash_dup_pairs`
    SQL so their band hashes agree by construction."""
    rows = num_perm // bands
    return ", ".join(
        f"named_struct('band', {i}, 'bhash', md5(concat_ws(',', "
        f"CAST(slice(minhash, {i * rows + 1}, {rows}) "
        f"AS array<string>))))"
        for i in range(bands)
    )


def minhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    sort_pairs: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    ``sort_pairs=False`` skips the final global orderBy — for
    consumers that only feed the pairs into connected components /
    drop-lists, where the sort is a wasted full exchange+sort of the
    pair set at any scale (guide §2.4).

    signature → ``bands`` bands of ``num_perm/bands`` rows; docs sharing
    any band hash become candidates; candidates are verified with exact
    shingle-set Jaccard ≥ threshold.  Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    Signatures come from ONE JVM aggregate over the (id, gram) shingle
    rows that the exact verify joins anyway (:func:`_minhash_agg_sql`,
    the batch :func:`minhash_signature`): a partial-then-final
    ``GROUP BY id`` that emits each document's shingle count ``n`` next
    to its signature, so the verify needs no second aggregate for set
    sizes — ``n`` rides with the id through the bucket lists onto each
    candidate pair.  No Python workers run anywhere in the plan.  A
    NULL text has no shingle rows, so it has no signature and joins no
    bucket.

    Measured against the Arrow-kernel signatures this replaced (4-core
    host, Spark 4.1.2, Python 3.11): every Python task paid ~0.3 s of
    worker overhead before its kernel ran (a no-op ``mapInPandas`` over
    four one-row tasks: 0.40 s vs 0.06 s for the same job in the JVM),
    and the four workers plus their daemon held ~575 MB.  Same-session
    alternated A/B at sf0.1, median of 4: op_minhash_dups 3.32 → 3.07 s
    (jobs 11 → 9, shuffle 5.1 → 5.6 MB), op_curate_corpus 10.3 → 9.7 s.
    Candidate generation is then ONE shuffle — groupBy(band, bhash) on
    ~50 bytes/row with pairs emitted map-side from each bucket's sorted
    member list (vs. a two-sided self-join, which shuffles the banded
    rows twice and sort-merges).  Exact verify is rows-based: |A∩B| by
    joining the pair list back to the (id, gram) rows, so no shingle
    ARRAYS are ever shuffled.

    ``max_bucket`` bounds the quadratic pair emission for oversized
    buckets (typically exact-dup / boilerplate clusters, which a band
    hash captures wholesale): those fall back to star pairs — see
    :func:`_bucket_pairs_sql`.  Default None keeps exact LSH semantics so
    SQL oracles can mirror candidate generation verbatim.  Note the
    per-bucket member LIST still materializes during the aggregate (16
    bytes per doc — fine to ~10⁷ dups per bucket); corpora beyond that
    should run :func:`dedup_exact` first, which removes exact-dup
    mega-buckets at the source.

    The whole signature → band → bucket → pair → verify chain is ONE
    ``spark.sql`` parse (:func:`~pql_spark.operators._util.sql_over`):
    a Column build of the same ~15 ops paid ~0.5 s of py4j round trips
    and per-op eager analysis on every call.
    """
    # hash-partitioned on the id: when this adds an exchange, the
    # signature GROUP BY id reuses its layout instead of a second one
    df = rebalance(df, id_col)
    sh = shingle_rows(df, text_col, id_col, shingle_k)
    idq = f"`{id_col}`"
    order = " ORDER BY id_a, id_b" if sort_pairs else ""
    return sql_over(
        {"sh": sh},
        f"WITH sig AS ({_minhash_agg_sql(idq, '{sh}', num_perm)}"
        "), banded AS ("
        f" SELECT named_struct('id', {idq}, 'n', n) AS m,"
        " bk.band AS band, bk.bhash AS bhash FROM"
        f" (SELECT {idq}, n,"
        f" explode(array({_band_entries_sql(num_perm, bands)})) AS bk"
        " FROM sig)"
        "), buckets AS ("
        " SELECT ids FROM ("
        "  SELECT sort_array(collect_list(m)) AS ids"
        "  FROM banded GROUP BY band, bhash)"
        " WHERE size(ids) >= 2"
        "), cand AS ("
        " SELECT DISTINCT p.a.id AS id_a, p.a.n AS n_a,"
        " p.b.id AS id_b, p.b.n AS n_b FROM ("
        f"  SELECT explode({_bucket_pairs_sql(max_bucket)}) AS p"
        "  FROM buckets)"
        "), inter AS ("
        " SELECT id_a, id_b, n_a, n_b, count(1) AS n_inter FROM"
        f"  (SELECT {idq} AS id_a, gram FROM {{sh}})"
        "  JOIN cand USING (id_a)"
        f"  JOIN (SELECT {idq} AS id_b, gram FROM {{sh}})"
        "  USING (id_b, gram)"
        " GROUP BY id_a, id_b, n_a, n_b)"
        " SELECT id_a, id_b, jaccard FROM ("
        "  SELECT id_a, id_b, n_inter / (n_a + n_b - n_inter) AS jaccard"
        "  FROM inter)"
        f" WHERE jaccard >= {float(threshold)!r}D{order}",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_posting: int | None = None,
    prefix_filter: bool | str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via an inverted index.

    Explode distinct shingles → group the posting list per gram → emit
    id pairs map-side (only docs sharing ≥1 shingle ever meet — the
    inverted-index trick that bounds the join away from n²) → |A∩B| by
    groupBy pair → Jaccard.  Each posting carries its doc's
    distinct-shingle count ``n`` next to the id, so the set sizes ride
    with the posting lists into the pair rows: ONE postings aggregate
    ``gram → sort_array(collect_list(struct(id, n)))`` feeds either
    path, with no per-doc size aggregate joined back.  Fully
    SQL-expressible, so it doubles as the oracle-checkable twin of the
    MinHash path.  Ids are assumed unique per document.

    ``prefix_filter=True``: PPJoin-style LOSSLESS candidate pruning
    (Bayardo et al. 2007 "Scaling Up All Pairs", Xiao et al. 2008
    PPJoin).  Grams get a global total order by ascending document
    frequency; each doc indexes only its PREFIX — the first
    ``n − ceil(t·n) + 1`` grams in that order — and any pair with
    Jaccard ≥ t provably shares a prefix gram, so candidates come from
    prefix postings only, then get the rows-based exact verify
    (results identical to the default path).  The decision rule,
    measured on both sides (local[32], best of 2, identical outputs):

    * ON wins on Zipfian boilerplate — text where a few hot phrases
      appear in a large fraction of docs, so their grams would emit
      d(d-1)/2 pairs each but sort LAST and drop out of every prefix.
      On ``tools/gen_scale.py zipf`` (30 k docs, top template in 26 %
      of docs → 6 grams × 7 861 postings): **3.55 s ON vs 198.6 s
      OFF**, identical 750 pairs.  Real web/common-crawl text is this
      shape.
    * OFF wins when gram frequencies are only MILDLY hot — nothing
      prunes enough to pay for the verify join-back, which costs more
      than the default's count-only partial aggregate: **26.8 s OFF →
      177 s ON** on the synthetic sf1 gate corpus (mean df 73), and at
      100× of it (sf10, 500 k docs, pair mass 2.0 B) OFF still wins
      decisively — measured r13: OFF 604 s, while ON generated 85.8 M
      distinct candidates whose rows-based verify shuffles ~4.5 B
      narrow rows (~100 GB) and FILLED THE DISK on local[32].  The
      distributed cost model is not the in-process one: a single-node
      PPJoin (the DuckDB scale twin) verifies those same candidates
      shuffle-free in 154 s, but Spark's verify pays the exchange, so
      its crossover sits much higher.

    ``prefix_filter="auto"`` (the default since r13) therefore
    MEASURES instead of assuming: the naive pair mass Σ df·(df−1)/2
    and the posting count P = Σ df come from the postings aggregate
    itself, and the filter turns on iff mass > 100·P
    (:func:`prefix_auto_decision`).  The ratio is scale-free and the
    threshold is calibrated on the measured corpora: flat sf1 ratio
    ≈ 36 and flat sf10 ratio ≈ 76 (OFF correctly wins at both — ON is
    6.6× slower at sf1 and disk-death at sf10), zipf ratio ≈ 220 (ON
    wins 3.55 s vs 198.6 s).  Both paths are exact, so the choice
    never changes results — only the plan.

    NOTE (ADVICE r13): ``"auto"`` makes this builder EAGER — the
    postings aggregate is materialized ONCE with ``localCheckpoint``
    at CALL time, and the two sums are read from an ``Observation``
    on that checkpoint, so the decision runs no job of its own.  The
    chosen path then plans over the flat checkpoint.  Its blocks
    belong to the returned frame: Spark's ContextCleaner frees them
    once that frame is garbage-collected.  The trade of a LOCAL
    checkpoint, which :func:`connected_components` makes too: the
    blocks live in executor storage without lineage, so losing an
    executor fails a later job over them instead of recomputing the
    lost partitions.
    Two escapes keep the lazy contract where it matters: a
    driver-local input (``df.isLocal()`` — createDataFrame test
    corpora) skips the checkpoint and resolves to the naive path,
    which is always right at that scale; and passing
    ``prefix_filter=True/False`` explicitly keeps the builder fully
    lazy (the postings aggregate is then planned once and its
    exchange reused by every branch that reads it).

    ``max_posting`` drops grams whose posting list exceeds the cap from
    candidate generation — a pathologically hot gram (a boilerplate
    phrase in d docs) otherwise materializes d(d-1)/2 pairs in one
    task.  Unlike a MinHash band bucket, a hot GRAM carries no near-dup
    signal (it's a stop-phrase), so dropping beats star-chaining here.
    Capped mode can no longer count |A∩B| from the pair multiset, so it
    switches to the rows-based exact verify — surviving pairs keep
    their exact Jaccard; only pairs whose EVERY shared gram is hot are
    missed.  ``prefix_filter=False, max_posting=None`` keeps the
    original one-pass exact path (cheapest when no gram is hot).
    """
    df = rebalance(df)
    if max_posting is not None:
        # capped mode has its own pruning: prefix_filter is ignored
        inv = shingle_rows(df, text_col, id_col, shingle_k)
        postings = inv.groupBy("gram").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
        capped = postings.filter(F.size("ids").between(2, max_posting))
        cand = _bucket_pairs(capped, None).dropDuplicates(
            ["id_a", "id_b"]
        )
        return _verify_jaccard(inv, cand, id_col, threshold)
    if prefix_filter == "auto" and df.isLocal():
        # driver-local input (createDataFrame corpora): trivially
        # small, the naive path always wins — stay lazy (ADVICE r13)
        prefix_filter = False
    # the ONE postings aggregate; ids are unique, so sort_array orders
    # each list by id and every emitted pair has id_a < id_b
    postings = _sized_shingle_rows(
        df, text_col, id_col, shingle_k
    ).groupBy("gram").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "n"))
        ).alias("ps")
    )
    if prefix_filter == "auto":
        # the decision's statistics ride on the checkpoint job that
        # both paths read anyway (see docstring): no scan of its own
        stats = Observation()
        gf = F.size("ps").cast("long")
        postings = postings.observe(
            stats,
            F.sum(gf * (gf - 1) / 2).alias("mass"),
            F.sum(gf).alias("postings"),
        ).localCheckpoint()
        seen = stats.get
        prefix_filter = prefix_auto_decision(seen["mass"], seen["postings"])
    t = f"{float(threshold)!r}D"
    # both paths end in the same Jaccard arithmetic over the set sizes
    # the pairs carry, and the same order
    jaccard = (
        " SELECT id_a, id_b, jaccard FROM ("
        "  SELECT id_a, id_b,"
        "   n_inter / (n_a + n_b - n_inter) AS jaccard FROM inter)"
        f" WHERE jaccard >= {t}"
        " ORDER BY id_a, id_b"
    )
    if prefix_filter:
        # ONE SQL parse for the whole PPJoin chain (r16 driver-cost
        # pass — see the minhash_dup_pairs note).  Semantics:
        # * global gram order (doc-frequency asc, gram) — rare grams
        #   first, so prefixes are maximally selective and hot grams
        #   never enter one; the doc frequency is the posting list's
        #   size, read off the exploded postings;
        # * the 1e-9 epsilon guards each float ceil in the SAFE
        #   direction (longer prefix / lower required overlap — extra
        #   candidates only, and the verify is exact);
        # * the PPJoin POSITION filter (r13): a pair sharing prefix
        #   gram w at 1-based ranks (i, j) has overlap ≤
        #   min(nx−i, ny−j) + 1, while Jaccard ≥ t needs overlap ≥
        #   ceil(t/(1+t) · (nx+ny)) — lossless, measured 4.9× fewer
        #   candidates on the sf10 flat corpus.
        frac = f"{float(threshold / (1.0 + threshold))!r}D"
        return sql_over(
            {"postings": postings},
            "WITH grams AS ("
            " SELECT gram, size(ps) AS __gf, inline(ps) FROM {postings}"
            "), pref AS ("
            " SELECT id, gram, __rn, n FROM ("
            "  SELECT id, gram, n, row_number() OVER (PARTITION BY id"
            "   ORDER BY __gf ASC, gram ASC) AS __rn FROM grams)"
            f" WHERE __rn <= n - ceil({t} * n - 1e-9D) + 1"
            "), cand AS ("
            " SELECT DISTINCT a.id AS id_a, b.id AS id_b,"
            "  a.n AS n_a, b.n AS n_b"
            " FROM pref a JOIN pref b ON a.gram = b.gram"
            " WHERE a.id < b.id"
            "  AND least(a.n - a.__rn, b.n - b.__rn) + 1 >="
            f"  ceil({frac} * (a.n + b.n) - 1e-9D)"
            "), inter AS ("
            " SELECT id_a, id_b, n_a, n_b, count(1) AS n_inter FROM"
            "  (SELECT id AS id_a, gram FROM grams)"
            "  JOIN cand USING (id_a)"
            "  JOIN (SELECT id AS id_b, gram FROM grams)"
            "  USING (id_b, gram)"
            " GROUP BY id_a, id_b, n_a, n_b)" + jaccard,
        )
    # naive path: each shared gram contributes exactly one pair row,
    # so the pair multiset count IS |A∩B| — no second pass over the
    # grams
    return sql_over(
        {"postings": postings},
        "WITH inter AS ("
        " SELECT id_a, id_b, n_a, n_b, count(1) AS n_inter FROM ("
        "  SELECT inline(flatten(transform(ps, (x, i) ->"
        "   transform(slice(ps, i + 2, size(ps)), y -> named_struct("
        "    'id_a', x.id, 'n_a', x.n, 'id_b', y.id, 'n_b', y.n)))))"
        "  FROM {postings})"
        " GROUP BY id_a, id_b, n_a, n_b)" + jaccard,
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """Per-document SimHash fingerprint as array<int> of ``bits`` sign
    bits (1/0).  bit_j = sign of Σ_tokens (±1 by bit j of token hash).

    Kept as a bit array (not packed into one long) so Hamming distance
    is a zip_with XOR sum and no 64-bit sign issues arise.
    """
    df = rebalance(df)
    toks = tokens(F.col(text_col))
    th = F.transform(toks, _md5_hash64)

    def bits_pm(h: Column) -> Column:
        # bit j of h as ±1, via the binary-string rendering (single
        # expression; avoids shift-by-column, which Spark lacks)
        chars = F.split(F.reverse(F.lpad(F.bin(h), bits, "0")), "")
        return F.transform(
            F.slice(chars, 1, bits),
            lambda c: F.when(c == "1", F.lit(1)).otherwise(F.lit(-1)),
        )

    counts = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, bits_pm(h), lambda a, b: a + b.cast("long")
        ),
    )
    bit_cols = F.transform(
        counts, lambda c: F.when(c > 0, F.lit(1)).otherwise(F.lit(0))
    )
    return df.select(F.col(id_col), bit_cols.alias("simhash"))


def hamming_dup_pairs(
    sig: DataFrame,
    sig_col: str,
    id_col: str,
    sig_len: int,
    threshold: int,
    bands: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Generic banded-Hamming near-dup join over ANY fixed-length
    integer signature column (``array<int>`` of ``sig_len``): pairs
    with Hamming distance ≤ ``threshold`` as (id_a, id_b, hamming),
    id_a < id_b.

    The signature splits into ``bands`` equal chunks; a pair within
    ``threshold`` mismatches corrupts at most ``threshold`` bands, so
    by pigeonhole it shares ≥ 1 intact band whenever
    ``threshold < bands`` — that setting is LOSSLESS.  Candidates
    come only from shared-(band, value) posting lists (one groupBy,
    map-side pair emission via :func:`_bucket_pairs`, bounded by
    bucket occupancy — never all-pairs), then an exact zip_with
    mismatch-count verify.  Shared by pHash image near-dup and the
    audio fingerprint (multimodal.py); element values may be any
    ints, not just bits.

    ``max_bucket``: star-cap for pathologically hot buckets — a
    degenerate corpus (flat images, silent audio) can put a large
    fraction of rows behind ONE (band, value), and an uncapped bucket
    emits |b|²/2 pairs in a single task.  With a cap, oversized
    buckets emit min-id stars (O(|b|) pairs, cluster stays connected
    for downstream grouping); pairs are exact-verified either way, so
    precision never changes — only pair-recall inside oversized
    buckets (same trade as the MinHash band cap).
    """
    if not 1 <= bands <= sig_len:
        raise ValueError("bands must be in [1, sig_len]")
    if sig_len % bands:
        raise ValueError("bands must divide the signature length")
    width = sig_len // bands
    # rebalance: a single-split input would otherwise run the banded
    # explode and both verify-join probes on one core (no-op on a wide
    # input — the 100 TB case).  Its exchange is the reuse point: the
    # banded side and both verify sides read it, so Spark runs the
    # signature construction (an Arrow kernel for pHash/audio/video)
    # once and the other readers see a ReusedExchange.  The null-id
    # filter sits BELOW the exchange because Catalyst infers
    # ``isnotnull(id)`` for the two join sides only — inferred there,
    # it makes their exchange differ from the banded side's and the
    # kernel runs twice.  A null id never pairs, so the filter changes
    # no result.  On a wide input there is no exchange to reuse: the
    # banded side and the verify sides each run the construction.
    # NOTE: if the signature column itself is an expensive derived
    # expression, repartition the input BEFORE computing it — an
    # exchange added here sits above the projection, so the
    # construction still runs at the scan's width (PERF_NOTES_r12, the
    # sf1 hamming chase).
    sig = rebalance(
        sig.select(F.col(id_col), F.col(sig_col).alias("__sig")).filter(
            F.col(id_col).isNotNull()
        )
    )
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("__sig"), b * width + 1, width),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        ).alias("band", "sig"),
    )
    posts = banded.groupBy("band", "sig").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    ).filter(F.size("ids") >= 2)
    # a pair sharing k intact bands is emitted k times; dedup AFTER
    # the verify filter, not before the joins — the duplicate
    # candidates re-run only the 16-element zip_with (cheap, map-side)
    # while the dedup shuffle then carries the tiny verified pair set
    # instead of every banded collision (PERF_NOTES_r12: one wide
    # exchange removed from the sf1 path; hamming is deterministic
    # per pair, so first-wins dedup is value-exact)
    cand = _bucket_pairs(posts, max_bucket)
    pa, pb = sig.alias("pa"), sig.alias("pb")
    ham = F.aggregate(
        F.zip_with(
            F.col("pa.__sig"), F.col("pb.__sig"),
            lambda x, y: F.when(x != y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(pa, F.col("id_a") == F.col(f"pa.{id_col}"))
        .join(pb, F.col("id_b") == F.col(f"pb.{id_col}"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= F.lit(int(threshold)))
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """Keep one document (min id) per identical SimHash fingerprint —
    one groupBy shuffle on the fingerprint."""
    sh = simhash(df, text_col, id_col, bits)
    keep = sh.groupBy(F.col("simhash").cast("array<string>").alias("fp")).agg(
        F.min(id_col).alias(id_col)
    )
    return keep.select(id_col).join(df, id_col, "inner")


def _cosine_pairs(a_ids, a_vecs, threshold: float, b_ids=None, b_vecs=None):
    """``(id_a, id_b, cosine)`` for every row pair at cosine ≥
    ``threshold``, normalized to ``id_a < id_b``; a zero vector pairs
    with nothing (see :func:`_cosine_tiles`).  Without a B side the A
    rows pair among themselves (strict upper triangle: no self-pairs,
    no double count); with one, the two sides hold disjoint ids."""
    import numpy as np
    import pandas as pd

    same = b_vecs is None
    if same:
        b_ids = a_ids
    outs = [
        pd.DataFrame(
            {
                "id_a": np.empty(0, np.int64),
                "id_b": np.empty(0, np.int64),
                "cosine": np.empty(0, np.float64),
            }
        )
    ]
    tiles = (
        _cosine_tiles(a_vecs, b_vecs) if len(a_ids) and len(b_ids) else ()
    )
    for s, sims in tiles:
        a = a_ids[s : s + len(sims)]
        hit = sims >= threshold
        if same:
            hit &= a[:, None] < b_ids[None, :]
        ii, jj = np.nonzero(hit)
        outs.append(
            pd.DataFrame(
                {
                    "id_a": np.minimum(a[ii], b_ids[jj]),
                    "id_b": np.maximum(a[ii], b_ids[jj]),
                    "cosine": sims[ii, jj],
                }
            )
        )
    return pd.concat(outs, ignore_index=True)


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_blocks: int = 8,
    sort_pairs: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, exact,
    fully distributed — the default entry point.
    ``sort_pairs=False`` skips the final global orderBy for
    connected-components consumers (guide §2.4).

    Block Gram-matrix design: rows are hashed into ``n_blocks`` blocks;
    every unordered block pair (ba ≤ bb) becomes one task group whose
    Arrow kernel runs BLAS matmuls between the two blocks' matrices
    (upper triangle on the diagonal groups).  Nothing is collected to
    the driver; the kernel tiles the Gram product over A-side row
    chunks (:func:`_cosine_tiles`), so per-task similarity memory is a
    fixed ≤ ~128 MB regardless of block size — only the
    (n/n_blocks)-row block matrices themselves scale with data.  The
    replication cost is (n_blocks+1)/2 × the input — pick n_blocks ≈
    √(cluster cores) so every core gets a tile.  The
    total work is inherently O(n²) because the result is exact; for
    corpus-scale near-dup where approximate recall is acceptable, use
    :func:`pql_spark.operators.similarity.lsh_bucket_topk`-style
    hyperplane bucketing instead (candidates only within buckets).
    """
    import pandas as pd

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    ).withColumn("__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)))
    pairs = spark.createDataFrame(
        [(a, b) for a in range(n_blocks) for b in range(a, n_blocks)],
        "ba int, bb int",
    )
    side_a = base.join(
        F.broadcast(pairs), base["__blk"].cast("int") == pairs["ba"]
    ).select("ba", "bb", F.lit(0).alias("__side"), id_col, vec_col)
    side_b = base.join(
        F.broadcast(pairs),
        (base["__blk"].cast("int") == pairs["bb"]) & (pairs["ba"] != pairs["bb"]),
    ).select("ba", "bb", F.lit(1).alias("__side"), id_col, vec_col)
    work = side_a.unionByName(side_b)

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        a = pdf[pdf["__side"] == 0]
        a_ids = a[id_col].to_numpy(dtype="int64")
        if ba == bb:
            return _cosine_pairs(a_ids, a[vec_col], threshold)
        # off-diagonal blocks are disjoint id sets — every unordered
        # row pair appears in exactly one group
        b = pdf[pdf["__side"] == 1]
        return _cosine_pairs(
            a_ids, a[vec_col], threshold,
            b[id_col].to_numpy(dtype="int64"), b[vec_col],
        )

    out = work.groupBy("ba", "bb").applyInPandas(
        kernel, "id_a long, id_b long, cosine double"
    )
    return out.orderBy("id_a", "id_b") if sort_pairs else out


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_clusters: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    passes: int = 1,
    sort_pairs: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): coarse k-means cells over the embeddings, exact
    cosine pairs WITHIN each cell.

    Scale shape: centroid training is a bounded driver-side sample
    (deterministic spherical k-means); assignment is a narrow Catalyst
    pass; pair generation is one tiled Gram product per cell
    (:func:`_cosine_tiles`) in ``applyInPandas`` — total work drops
    from O(n²) to Σ_cells O(|cell|²), the SemDeDup trade: cross-cell
    duplicates are missed BY DESIGN (semantic dups land in the same
    cell).  Raise ``n_clusters`` so the largest cell's vectors fit
    executor memory; emitted pairs are exact cosines, so precision vs
    brute force is 1.  A zero vector gets a NULL cell and pairs with
    nothing.

    ``passes`` (r12) is the cross-cell recall knob: each extra pass
    re-trains the coarse quantizer with a rotated deterministic
    initialization (``train_centroids(init_frac=p/(2*passes))``) —
    a different local optimum with different cell boundaries — and
    unions the within-cell pairs, deduplicated on (id_a, id_b).  A
    duplicate pair is missed only if EVERY pass splits it across
    cells; boundary pairs rarely straddle two independent partitions.
    Cost is linear in ``passes`` (the full Σ|cell|² kernel re-runs per
    pass; precision stays 1 — cosines are exact either way).  Measured
    on the rotation-degenerate circle construction in
    ``tests/test_semantic_passes.py``: passes=1 recall 55/60, passes=2
    recall 1.0, zero false pairs, at 2x the single-pass cost envelope.
    """
    import pandas as pd

    from .similarity import ivf_assign, train_centroids

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype="int64")
        return _cosine_pairs(ids, pdf[vec_col], threshold)

    narrow = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    )
    out = None
    for p in range(max(passes, 1)):
        cents = train_centroids(
            df, n_clusters, vec_col, id_col, sample_size, iters,
            init_frac=p / (2 * passes) if passes > 1 else 0.0,
        )
        pass_pairs = (
            ivf_assign(narrow, cents, vec_col, "__sd_cell")
            .groupBy("__sd_cell")
            .applyInPandas(kernel, "id_a long, id_b long, cosine double")
        )
        out = (
            pass_pairs if out is None else out.unionByName(pass_pairs)
        )
    if passes > 1:  # same pair found by several passes: identical
        out = out.dropDuplicates(["id_a", "id_b"])  # exact cosines
    return out.orderBy("id_a", "id_b") if sort_pairs else out


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_clusters: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    passes: int = 1,
) -> DataFrame:
    """Remove semantic near-duplicates: keep the min-id representative
    of every within-cell duplicate cluster (transitive over the pair
    graph) plus all unpaired rows — ``semantic_dedup_pairs`` composed
    with :func:`dedup_by_pairs`.  ``passes`` > 1 adds the rotated-init
    cross-cell recall passes (see :func:`semantic_dedup_pairs`)."""
    pairs = semantic_dedup_pairs(
        df, vec_col, id_col, threshold, n_clusters, sample_size, iters,
        passes, sort_pairs=False,  # CC ignores pair order (guide §2.4)
    )
    return dedup_by_pairs(df, pairs, id_col)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_pairs_max: int | None = 500_000,
) -> DataFrame:
    """Connected components over a duplicate-pair graph →
    ``(id, component)`` with component = min node id in the group —
    the transitive-closure step that turns pairwise near-dup output
    (minhash/ngram/embedding pairs) into whole duplicate CLUSTERS, so
    "keep one per cluster" is exact even for chains a~b~c where (a, c)
    was never emitted as a pair.

    Distributed min-label propagation: each round is one
    edges⋈labels join plus a groupBy-min (two shuffles), and
    ``localCheckpoint`` truncates the lineage so the plan stays flat.
    Rounds needed = graph diameter — near-dup clusters are dense/
    star-shaped, so typically 2-4; ``max_iter`` bounds adversarial
    chains.  Early-exits via a cheap changed-row probe.  No unbounded
    driver state: scales to edge sets far larger than memory (the same
    min-propagation used by MapReduce CC algorithms; see also
    large-star/small-star for log-round guarantees on long chains).

    ``driver_pairs_max`` (r15, guide §1.2/§3.1): a pair set at or
    below this row count is solved on the DRIVER — one bounded
    ``toPandas`` of the 2-long-column pair table plus a vectorized
    numpy min-label/pointer-doubling loop — instead of the
    distributed loop.  The distributed loop costs ~5 driver-
    synchronized shuffling jobs even for a 500-node graph (measured
    ~1.9 s at sf0.1 for 311 pairs); the driver path is one count on
    the checkpointed pairs + one Arrow collect (~0.3 s).  This is the
    broadcast-join size trade applied to CC: 500 k pairs is ~8 MB of
    ids — far under the driver's broadcast-sized budget — while any
    corpus-scale pair graph blows past the gate and takes the
    distributed loop unchanged.  Pass ``None`` (or 0) to force the
    distributed loop.  Both paths implement the same min-label +
    pointer-doubling algorithm, so results are identical (asserted by
    tests/test_sampling.py equivalence tests)."""
    base = pairs.select(
        F.col(id_a).cast("long").alias("a"),
        F.col(id_b).cast("long").alias("b"),
    ).localCheckpoint()
    pdf = None
    if driver_pairs_max:
        # one bounded Arrow collect decides the path AND delivers the
        # data: ≤ max rows back means we hold the complete pair set
        # (saves the separate count job the old two-action probe paid)
        pdf = base.limit(driver_pairs_max + 1).toPandas()
        if len(pdf) > driver_pairs_max:
            pdf = None  # over the gate: fall through, distributed loop
    if pdf is not None:
        import numpy as np
        import pandas as pd

        spark = pairs.sparkSession
        schema = "id long, component long"
        if not len(pdf):
            return spark.createDataFrame([], schema)
        a = pdf["a"].to_numpy(np.int64)
        b = pdf["b"].to_numpy(np.int64)
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ea, eb = inv[: len(a)], inv[len(a) :]
        comp = np.arange(len(nodes))
        while True:
            prev = comp.copy()
            np.minimum.at(comp, ea, prev[eb])
            np.minimum.at(comp, eb, prev[ea])
            while True:  # pointer doubling to the pass's fixpoint
                nxt = comp[comp]
                if np.array_equal(nxt, comp):
                    break
                comp = nxt
            if np.array_equal(comp, prev):
                break
        out = pd.DataFrame(
            {"id": nodes, "component": nodes[comp]}
        )
        return spark.createDataFrame(out, schema)
    edges = base.union(
        base.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        neighbor = edges.join(
            labels.select(
                F.col("id").alias("b"),
                F.col("component").alias("nc"),
            ),
            "b",
        ).select(F.col("a").alias("id"), F.col("nc").alias("component"))
        new = (
            labels.select("id", "component")
            .union(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling: follow each label one more hop
        # (label[label[id]]) so convergence is O(log diameter), not
        # O(diameter) — a 1M-long path converges in ~20 rounds
        new = (
            new.join(
                new.select(
                    F.col("id").alias("component"),
                    F.col("component").alias("__root"),
                ),
                "component",
            )
            .select("id", F.col("__root").alias("component"))
            .localCheckpoint()
        )
        if it == 0:
            # round 1 always changes when any edge exists — skip the
            # probe job (one fewer action per call; star-shaped dup
            # graphs converge in 2 rounds, so this halves the probes)
            labels = new
            continue
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    return labels


def dedup_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Remove all but one row per duplicate CLUSTER (transitive over
    the pair graph): keeps the min-id representative of each component
    plus every row that appears in no pair.  One broadcast-sized
    anti-join against the (tiny relative to the corpus) non-
    representative id set."""
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_dup_incremental(
    new_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """Batch-incremental MinHash-LSH near-dup detection with PERSISTED
    bucket state — the batch twin of
    :func:`pql_spark.streaming.stream_near_dup` for pipelines that
    ingest in daily/hourly increments: each call flags new documents
    whose LSH band buckets are already owned by an earlier batch's
    keeper (or by a lower id within this batch), then appends this
    batch's NEW buckets to the state, so re-computation never touches
    historical documents.

    State at ``state_dir``: parquet ``(band, bhash, keeper)`` — one row
    per occupied bucket, bounded by corpus bucket count.  Identical
    banding to :func:`band_signature`/:func:`minhash_dup_pairs`, so
    batch, incremental, and streaming buckets agree bit-for-bit.
    Returns ``(id, band, dup_of)`` candidate rows (same contract as
    the stream: verify exact Jaccard downstream if needed).
    Signatures are the batch :func:`minhash_signature` (the JVM
    aggregate — no Python workers), bit-identical to the stream's Arrow
    kernel.  A NULL text has no shingles on either, so it is never
    flagged and never a keeper.  The state append is plain parquet
    `append` — wrap calls in your job-level retry/transaction if
    partial writes matter.
    """
    from pathlib import Path

    from pyspark.sql import types as T

    spark = new_docs.sparkSession
    sig = minhash_signature(new_docs, text_col, id_col, num_perm, shingle_k)
    # checkpointed: the call writes this batch's new buckets below, and
    # the returned dups are read after that write; both read this one
    # materialization (the blocks belong to the returned frame)
    banded = band_signature(sig, id_col, num_perm, bands).localCheckpoint()
    state_schema = T.StructType(
        [
            T.StructField("band", T.IntegerType()),
            T.StructField("bhash", T.StringType()),
            T.StructField("keeper", T.LongType()),
        ]
    )
    if Path(state_dir).exists():
        state = spark.read.schema(state_schema).parquet(state_dir)
    else:
        state = spark.createDataFrame([], state_schema)
    # snapshot the pre-append state listing NOW (parquet reads pin
    # their file index at read time, so the append below cannot leak
    # into this batch's own dup detection)
    idc = F.col(id_col)
    batch_min = banded.groupBy("band", "bhash").agg(
        F.min(idc).alias("__nd_min")
    )
    # vs HISTORY: every batch id in an occupied bucket dups the keeper.
    # Plain equi-join — the state grows with the corpus bucket count,
    # so AQE must stay free to pick broadcast (small state) or shuffle
    # (mature corpus); at scale, bucket the state dir on (band, bhash)
    vs_state = banded.join(state, ["band", "bhash"]).select(
        idc, F.col("band"), F.col("keeper").alias("dup_of")
    )
    # vs THIS batch: in buckets new to the state, non-min ids dup the
    # batch minimum (first-seen semantics, same as the stream kernel)
    new_buckets = batch_min.join(state, ["band", "bhash"], "left_anti")
    vs_batch = (
        banded.join(new_buckets, ["band", "bhash"])
        .filter(idc > F.col("__nd_min"))
        .select(idc, F.col("band"), F.col("__nd_min").alias("dup_of"))
    )
    dups = vs_state.unionByName(vs_batch)
    # append the batch's new buckets with their keepers to the state
    new_buckets.select(
        "band", "bhash", F.col("__nd_min").alias("keeper")
    ).write.mode("append").parquet(state_dir)
    return dups
