"""Similarity search over embedding columns (array<float>).

Two tiers, same results contract:

- :func:`cosine_topk` — brute-force scan: per-row dot product in
  Catalyst (zip_with + aggregate), top-k via orderBy+limit which plans
  ``TakeOrderedAndProject`` (per-partition heap + driver merge, no total
  sort).  Embarrassingly parallel; at 100 TB this is one scan, no
  shuffle, and is the exactness baseline.
- :func:`lsh_bucket_topk` — random-hyperplane LSH: bucket vectors by
  sign bits (narrow transform, computed once and reusable as a
  partition/bucket key), probe only buckets within ``probe_hamming`` of
  the query's bucket — the scan shrinks by ~2^planes/Σ(probed) while
  recall stays high for near-neighbors.

One cosine per execution form, shared with the embedding pair finders
in :mod:`pql_spark.operators.dedup`: :func:`_cosine_sql` in Catalyst,
:func:`_cosine_tiles` in the Arrow kernels.  Both state the zero-vector
rule: a zero-norm side has a NULL cosine, never an error.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Cosine in SQL text: one ``F.expr`` parse per expression is a single
# py4j round trip, where the same tree built through the Column API
# costs ~40 ms per dot product (and ivf_assign builds one per centroid;
# guide §5 — the driver should do almost no work).  ``_dlit``/``_alit``
# emit exact-roundtrip double literals (shortest-repr decimal + ``D``
# suffix parses back to the same IEEE double).


def _dlit(x: float) -> str:
    return f"{float(x)!r}D"


def _alit(vals: list[float]) -> str:
    return "array(" + ", ".join(_dlit(v) for v in vals) + ")"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cosine_sql(v: str, other: str, other_norm: float) -> str:
    """The SQL cosine of the vector operators: column ``v`` against the
    literal vector ``other`` whose norm is ``other_norm``.

    Zero-vector rule (shared with :func:`_cosine_tiles`): a zero norm on
    either side gives NULL, never an error — ``try_divide``, because a
    plain ``/`` raises DIVIDE_BY_ZERO under ANSI.  NULL fails every
    threshold and sorts after every cosine in ``DESC`` order.
    """
    return (
        f"try_divide({_dot_sql(v, other)}, "
        f"{_norm_sql(v)} * {_dlit(other_norm)})"
    )


def _cosine_tiles(a_vecs, b_vecs=None):
    """Yield ``(row offset, cosine tile)`` over A-side row chunks of the
    cosine matrix between two sides' ``array<double>`` cells; with
    ``b_vecs=None`` the A side is paired with itself.  The numpy cosine
    of every Arrow kernel of the vector operators.

    Each tile is one BLAS matmul of at most ~16 M float64 (≤ ~128 MB),
    so kernel memory is bounded by the tile, not by the side sizes — a
    full 25 k × 25 k matrix is 5 GB, and 32 concurrent workers
    OOM-crashed on it (r15 sf10 sweep).

    Zero-vector rule (shared with :func:`_cosine_sql`): a zero norm on
    either side gives NaN, which Arrow ships as NULL.  NaN fails every
    ``>=`` threshold and sorts after every cosine in :func:`_topk_frame`.
    """
    import numpy as np

    def stack(vecs):
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return m, np.sqrt((m * m).sum(axis=1))

    a, a_n = stack(a_vecs)
    b, b_n = (a, a_n) if b_vecs is None else stack(b_vecs)
    chunk = max(1, 16_000_000 // len(b))
    for s in range(0, len(a), chunk):
        e = s + chunk
        with np.errstate(divide="ignore", invalid="ignore"):
            tile = (a[s:e] @ b.T) / np.outer(a_n[s:e], b_n)
        yield s, tile


def _topk_frame(qids, cids, tiles, k: int, is_self) -> "pd.DataFrame":
    """Per query row of ``tiles``: its ``k`` best candidates, cosine
    desc (NaN last), neighbor id asc, ranked from 1.  ``is_self(i,
    order)`` masks the query's own row among the candidate indices
    ``order``."""
    import numpy as np
    import pandas as pd

    out_id, out_nb, out_cos, out_rank = [], [], [], []
    for s, sims in tiles:
        for r, row in enumerate(sims):
            # lexsort's last key is primary; -NaN sorts last
            order = np.lexsort((cids, -row))
            order = order[~is_self(s + r, order)][:k]
            out_id.extend([qids[s + r]] * len(order))
            out_nb.extend(cids[order])
            out_cos.extend(row[order])
            out_rank.extend(range(1, len(order) + 1))
    return pd.DataFrame(
        {
            "id": np.asarray(out_id, dtype=np.int64),
            "neighbor": np.asarray(out_nb, dtype=np.int64),
            "cosine": np.asarray(out_cos, dtype=np.float64),
            "rank": np.asarray(out_rank, dtype=np.int32),
        }
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.  A zero vector
    (row or query) has a NULL cosine and ranks last."""
    qnorm = math.sqrt(sum(x * x for x in query_vec))
    cos = F.expr(_cosine_sql(f"`{vec_col}`", _alit(query_vec), qnorm))
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pairwise_topk(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    key_col: str | None = None,
) -> DataFrame:
    """For each vector, its k nearest neighbors by cosine (brute-force
    within ``key_col`` groups when given — the IVF pattern: partition by
    a coarse key, search within the cell).

    One Arrow batch per group: the cell's similarity matrix is a few
    tiled BLAS matmuls (:func:`_cosine_tiles`), top-k via lexsort — each
    cell is one task, cells run in parallel across the cluster.
    Ordering contract: cosine desc (a zero vector's NULL cosines last),
    neighbor id asc.  Self-exclusion is by ROW POSITION, so a duplicate
    id stays its twin's cosine-1.0 neighbor; :func:`pairwise_topk_skew`
    reproduces that exactly via a per-(group, id) row ordinal.
    """

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        return _topk_frame(
            ids, ids, _cosine_tiles(pdf[vec_col]), k,
            lambda i, order: order == i,
        )

    grouping = [key_col] if key_col else [F.lit(0).alias("__cell")]
    return (
        df.select(
            F.col(id_col), F.col(vec_col),
            *([F.col(key_col)] if key_col else []),
        )
        .groupBy(*grouping)
        .applyInPandas(
            kernel, "id long, neighbor long, cosine double, rank int"
        )
        .orderBy("id", "rank")
    )


def pairwise_topk_skew(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    key_col: str | None = None,
    salt: int = 8,
) -> DataFrame:
    """Skew-resilient grouped kNN — same contract and results as
    :func:`pairwise_topk` (brute-force cosine within ``key_col``
    groups, cosine desc / neighbor asc), built for the hot-group case
    the plain version can't survive.

    ``pairwise_topk`` runs each group as ONE Arrow task; a group that
    owns most of the corpus (one dominant label / IVF cell) therefore
    runs on one core with an O(n²) similarity matrix in one worker's
    memory.  Here the group's QUERY rows are salted into ``salt``
    deterministic sub-chunks (``pmod(xxhash64(id), salt)``, the
    :func:`pql_spark.operators._util.salted_join` pattern) and the
    group's candidate set is replicated to every sub-chunk, so the hot
    group computes on ``salt`` tasks with 1/``salt`` of the matrix
    each — identical FLOPs, ``salt``× the parallelism, 1/``salt`` the
    peak task memory.  Cost: ``salt``× shuffle of the candidate side —
    the standard skew trade.  At 100 TB pair this with an IVF/LSH
    coarse key; the salt bounds the damage of whatever cell skew the
    coarse quantizer leaves behind.

    Self-exclusion matches ``pairwise_topk``'s positional semantics
    even with DUPLICATE ids: every physical row gets a per-(group, id)
    ordinal (``row_number`` over (key, id) — fine-grained partitioning,
    so the window shuffle spreads the hot group instead of
    re-serializing it), and a query excludes only its OWN tagged row.
    A duplicate therefore stays its twin's cosine-1.0 neighbor, exactly
    as the single-task kernel's exclude-by-row-position produces.
    Identical (id, vector) twins are interchangeable, so the arbitrary
    ordinal order between them cannot change results.
    """
    from pyspark.sql import Window

    keys = [key_col] if key_col else []
    # per-(group, id) row ordinal: lets the kernel exclude the query's
    # OWN physical row (positional parity with pairwise_topk under
    # duplicate ids).  Partitioning is (key, id) — duplicate-id rows
    # only — so this shuffle is skew-free regardless of group sizes.
    ordw = Window.partitionBy(
        *(keys + [id_col])
    ).orderBy(F.xxhash64(F.col(vec_col)))
    base = df.select(
        F.col(id_col), F.col(vec_col), *[F.col(c) for c in keys]
    ).withColumn("__ord", F.row_number().over(ordw))
    queries = base.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
    ).withColumn("__query", F.lit(True))
    cands = (
        base.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        .withColumn("__salt", F.col("__salt").cast("bigint"))
        .withColumn("__query", F.lit(False))
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cand = pdf[~pdf["__query"]]
        qry = pdf[pdf["__query"]]
        cids = cand[id_col].to_numpy()
        c_ord = cand["__ord"].to_numpy()
        qids = qry[id_col].to_numpy()
        q_ord = qry["__ord"].to_numpy()
        tiles = (
            () if cand.empty or qry.empty
            else _cosine_tiles(qry[vec_col], cand[vec_col])
        )
        # drop only the query's OWN row (same id AND ordinal) —
        # duplicate-id twins remain candidates, as in the single-task
        # kernel's positional exclusion
        return _topk_frame(
            qids, cids, tiles, k,
            lambda i, order: (cids[order] == qids[i])
            & (c_ord[order] == q_ord[i]),
        )

    grouping = keys + ["__salt"] if keys else ["__salt"]
    return (
        queries.unionByName(cands)
        .groupBy(*grouping)
        .applyInPandas(
            kernel, "id long, neighbor long, cosine double, rank int"
        )
        .orderBy("id", "rank")
    )


def train_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 2048,
    iters: int = 10,
    init_frac: float = 0.0,
) -> list[list[float]]:
    """Deterministic spherical k-means (Lloyd's on the unit sphere,
    cosine objective) over a bounded driver-side sample — the training
    half of an IVF index (Sivic/Zisserman "Video Google"-style coarse
    quantizer; same scheme as FAISS ``IndexIVFFlat``'s coarse stage).

    Determinism (so an index rebuilt tomorrow routes identically): the
    sample is the first ``sample_size`` vectors in id order (a bounded
    ``TakeOrderedAndProject`` collect, NOT a random sample), init takes
    evenly spaced sample points, argmax ties pick the lowest cell, empty
    cells keep their previous centroid.  Training cost is independent of
    corpus size; only assignment (a narrow map) is distributed.

    ``init_frac`` rotates the (deterministic) initialization by that
    fraction of the sample — a second training run with a nonzero
    offset converges to a DIFFERENT local optimum with different cell
    boundaries, which is what ``semantic_dedup_pairs(passes=2)`` uses
    to recover cross-cell duplicate pairs the first partition misses.
    """
    import numpy as np

    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(sample_size).collect()
    )
    x = np.array([[float(v) for v in r[1]] for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n = len(x)
    idx = (
        np.linspace(0, n - 1, n_centroids).astype(int)
        + int(init_frac * n)
    ) % max(n, 1)
    cents = x[idx].copy()
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members):
                c = members.sum(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 1e-12:
                    cents[j] = c / nrm
    return [[float(v) for v in row] for row in cents]


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Append the nearest-centroid cell id (argmax cosine against the
    trained centroids) — narrow, no shuffle, pure Catalyst.  A zero
    vector has a NULL cosine to every centroid and gets a NULL cell.

    At 100 TB the cell id is the IVF partition key: write the corpus
    bucketed/partitioned by it, and a query's nprobe cells become
    partition pruning on the scan (see :func:`ivf_topk`).
    """
    v = f"`{vec_col}`"
    entries = ", ".join(
        "named_struct('s', "
        f"{_cosine_sql(v, _alit(c), math.sqrt(sum(x * x for x in c)))}, "
        f"'c', {i})"
        for i, c in enumerate(centroids)
    )
    # ONE SQL parse for the whole scored array — the per-centroid
    # Column-API build cost ~0.9 s of py4j round trips per call (r15).
    # array_max ranks an all-NULL array by cell id, so a zero row is
    # nulled by adding try_divide(0, norm): 0 for a nonzero row, NULL
    # for a zero one.  Arithmetic, not IF/filter: Catalyst evaluates
    # the row norm once for all centroids only while no conditional or
    # higher-order function wraps the array (a filter() form measured
    # 1.5x slower at 32 k rows on 4 cores).
    return df.withColumn(
        cell_col,
        F.expr(
            f"array_max(array({entries})).c"
            f" + CAST(try_divide(0.0D, {_norm_sql(v)}) AS INT)"
        ),
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 2048,
) -> DataFrame:
    """IVF approximate top-k: rank the trained cells by query-centroid
    cosine (driver-side, tiny), scan only the best ``nprobe`` cells,
    exact cosine within the candidates.

    Scan fraction ≈ nprobe/n_centroids of the corpus (data-adaptive,
    unlike the data-oblivious hyperplanes of :func:`lsh_bucket_topk`).
    With ``nprobe == n_centroids`` this degrades gracefully to the exact
    brute-force result.  Pass pretrained ``centroids`` to skip training
    (the production path: train once, reuse per query).
    """
    if centroids is None:
        centroids = train_centroids(
            df, n_centroids, vec_col, id_col, sample_size
        )
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0

    def score(c: list[float]) -> float:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)

    order = sorted(
        range(len(centroids)), key=lambda i: (-score(centroids[i]), i)
    )
    probes = order[:nprobe]
    assigned = ivf_assign(df.select(id_col, vec_col), centroids, vec_col)
    cand = assigned.filter(F.col("cell").isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def _q8(x: float, scale: float) -> int:
    """floor(x/scale + 0.5) — the shared rounding rule (see
    :func:`quantize_embeddings`)."""
    return int(math.floor(x / scale + 0.5))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: adds ``qvec``
    (array<tinyint>, values in [-127, 127]) and ``qscale`` (double,
    ``max|v| / 127``) so ``v[i] ≈ qvec[i] * qscale``.

    This is the STORAGE half of the quantized search pattern: written
    once as a compact column, the corpus scan for similarity search
    reads 1/8th the bytes of float64 (1/4 of float32) and downstream
    dot products run on integers.  Rounding is ``floor(x/scale + 0.5)``
    (:func:`_q8`) — ties resolve identically in numpy, Python and
    ANSI-SQL oracles, unlike round() (numpy half-even vs SQL
    half-away).  A zero vector gets ``qscale`` 1.0 and all-zero
    ``qvec``.  One Arrow-batched numpy kernel, one vectorized pass per
    batch.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, ByteType, DoubleType, StructField, StructType,
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            amax = np.abs(mat).max(axis=1)
            scale = np.where(amax > 0, amax / 127.0, 1.0)
            q = np.floor(mat / scale[:, None] + 0.5).astype(np.int8)
            pdf = pdf.copy()
            pdf["qvec"] = list(q)
            pdf["qscale"] = scale
            yield pdf

    # fresh StructType — StructType.add MUTATES, and df.schema returns
    # the DataFrame's own (cached) schema object
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("qvec", ArrayType(ByteType())),
            StructField("qscale", DoubleType()),
        ]
    )
    return df.mapInPandas(kernel, schema)


def quantized_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: int = 4,
) -> DataFrame:
    """Top-k by cosine via int8-quantized prefilter + exact re-rank.

    Stage 1 ranks the corpus by the integer-arithmetic proxy
    ``dot_int(qvec, q) / sqrt(dot_int(qvec, qvec))`` (per-vector scales
    and the query norm are rank-invariant constants) and keeps the best
    ``rerank·k`` rows via ``TakeOrderedAndProject`` — per-partition
    heap, no shuffle of the corpus.  Stage 2 computes EXACT float
    cosine on just those candidates and returns the final top-k, so
    output equals :func:`cosine_topk` whenever the true top-k survives
    the (over-fetched) prefilter — with 8-bit precision and the default
    4× over-fetch the proxy's rank error would need to exceed 3k
    places, far beyond its ~1e-2 score error.

    At scale the corpus scan touches only the int8 column (8× fewer
    bytes than float64); pre-quantized inputs (``qvec``/``qscale``
    already present, e.g. via :func:`quantize_embeddings` at ingest)
    skip stage-1 quantization entirely.
    """
    if "qvec" not in df.columns:
        df = quantize_embeddings(df, vec_col)
    m = max((abs(x) for x in query_vec), default=0.0)
    qs = m / 127.0 if m > 0 else 1.0
    qq = [_q8(x, qs) for x in query_vec]
    qlit = (
        "CAST(array(" + ", ".join(str(q) for q in qq) + ") "
        "AS array<bigint>)"
    )
    dot_int = (
        f"aggregate(zip_with(qvec, {qlit}, "
        "(x, y) -> CAST(x AS BIGINT) * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    self_int = (
        "aggregate(transform(qvec, "
        "x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    # a zero vector's proxy is NULL, as its cosine (see _cosine_sql);
    # one SQL parse — see the driver-cost note above _dlit
    qscore = F.expr(
        f"CASE WHEN {self_int} > 0 THEN "
        f"CAST({dot_int} AS DOUBLE) / sqrt(CAST({self_int} AS DOUBLE)) "
        "END"
    )
    cand = (
        df.select(F.col(id_col), F.col(vec_col), qscore.alias("qscore"))
        .orderBy(F.col("qscore").desc(), F.col(id_col).asc())
        .limit(rerank * k)
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded LCG → N(0,1) via
    Box-Muller) — stable across sessions, no numpy dependency."""
    out: list[list[float]] = []
    state = seed
    def rnd() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return state / float(1 << 63)
    for _ in range(planes):
        row = []
        for _ in range(dim):
            u1 = max(rnd(), 1e-12)
            u2 = rnd()
            row.append(
                math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
            )
        out.append(row)
    return out


def lsh_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id (long) for the vector column named ``vec``
    against fixed hyperplanes — one SQL parse (a Column-API build of
    the planes × dot products cost ~0.9 s of py4j round trips per call,
    measured r15)."""
    v = f"`{vec}`"
    terms = " + ".join(
        f"CASE WHEN {_dot_sql(v, _alit(p))} >= 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j, p in enumerate(planes)
    )
    return F.expr(f"CAST(0 AS BIGINT) + {terms}")


def lsh_bucket_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 8,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: scan only LSH buckets within ``probe_hamming``
    bits of the query's bucket, then exact cosine within the candidates.

    With 8 planes and 1-probe this touches ~(1+8)/256 ≈ 3.5% of rows.
    The bucket column is a deterministic function of the vector, so at
    scale it can be precomputed and used as a partition key — the probe
    becomes partition pruning on the scan.
    """
    hp = hyperplanes(len(query_vec), planes, seed)
    qbucket = 0
    for j, plane in enumerate(hp):
        if sum(px * qx for px, qx in zip(plane, query_vec)) >= 0:
            qbucket |= 1 << j
    probes = [qbucket]
    if probe_hamming >= 1:
        probes += [qbucket ^ (1 << j) for j in range(planes)]
    # (probe_hamming > 1 would extend combinatorially; 1 is the sweet spot)
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(vec_col, hp).alias("bucket"),
    ).filter(F.col("bucket").isin(probes))
    return cosine_topk(bucketed, query_vec, k, vec_col, id_col)
