"""Text-analysis operators: tokenization, language ID, quality scoring,
token counting, document fingerprinting.

Everything is Catalyst expressions (split/regexp/higher-order array
functions) — at 100 TB these run inside whole-stage codegen with zero
Python on the executor path, scale linearly with input partitions, and
involve no shuffle (narrow, per-row transforms).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A BPE-ish pre-tokenizer: words, numbers, or single punctuation marks —
# the shape GPT-style byte-pair pre-tokenizers split on.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "im"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"),
    "es": ("el", "la", "los", "de", "y", "que", "es", "en", "un", "por"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}


def _normalize(text: Column) -> Column:
    """Lowercase and collapse whitespace — the canonical text form."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


# Java-regex ``\s`` is ASCII-only (``[ \t\n\x0B\f\r]``); Python's ``\s``
# is Unicode-aware (also matches U+00A0, U+2028, U+1680, …).  Every
# Python twin of :func:`_normalize` must use THIS class or its tokenization
# silently diverges from the Catalyst/SQL paths on Unicode whitespace.
_WS_JAVA = re.compile(r"[ \t\n\x0b\f\r]+")


def py_norm(text: str | None) -> str:
    """Python twin of :func:`_normalize`, byte-identical to the Catalyst
    expression: ASCII-only whitespace class (Java ``\\s``) and a
    space-only strip (Spark ``trim`` removes U+0020 only)."""
    return _WS_JAVA.sub(" ", (text or "").lower()).strip(" ")


def py_tokens(text: str | None) -> list[str]:
    """Python twin of :func:`tokens` (``split(_normalize(t), " ")``)."""
    return py_norm(text).split(" ")


def tokens(text: Column) -> Column:
    """Whitespace word tokens of normalized text (array<string>)."""
    return F.split(_normalize(text), " ")


def _slit(s: str) -> str:
    """SQL string literal (backslash-escaped, default parser mode)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _normalize_sql(t: str) -> str:
    """SQL twin of :func:`_normalize` — identical Catalyst tree."""
    return f"trim(regexp_replace(lower({t}), '\\\\s+', ' '))"


def _tokens_sql(t: str) -> str:
    """SQL twin of :func:`tokens`."""
    return f"split({_normalize_sql(t)}, ' ')"


def word_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-word shingles (array<string>).

    Built from sequence+transform+slice — pure Catalyst, no UDF.  For a
    doc with < k words, the whole doc is the single shingle.
    """
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n <= F.lit(k), F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k) + F.lit(1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
    )


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """DISTINCT k-word shingles as (id, gram) ROWS — the fast,
    explode-first twin of :func:`word_shingles`.

    Shape: project the token array, then build grams with an array HOF
    and explode — ZERO shuffles (the per-doc ``array_distinct`` replaces
    a (id, gram) dropDuplicates aggregate).  An earlier version used
    posexplode + ``lead()`` windows, which costs a shuffle + sort + a
    dedup shuffle; this one beats it ~2× at sf0.1 and is narrow at any
    scale.

    HOF-inlining caveat: Catalyst's CollapseProject will inline the
    tokenization INTO the lambda when projections collapse, re-running
    the regex split per reference.  :func:`rebalance` after the token
    projection inserts an exchange exactly when the input is
    under-partitioned (the local/single-file case), which doubles as a
    materialization barrier; on a well-partitioned cluster input the
    collapse costs ~2× tokenization but stays shuffle-free — still far
    cheaper than the window variant's two shuffles.  Gram VALUES are
    identical to :func:`word_shingles`, so SQL oracles are
    interchangeable.
    """
    tk, grams = _shingle_grams(df, text_col, id_col, k)
    return tk.select(F.col(id_col), F.explode(grams).alias("gram"))


def _shingle_grams(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> tuple[DataFrame, Column]:
    """The rebalanced (id, token array) frame and the per-doc distinct
    k-shingle array over it, shared by :func:`shingle_rows` and
    :func:`_sized_shingle_rows`."""
    from ._util import rebalance

    tk = rebalance(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    )
    toks = F.col("__toks")
    n = F.size(toks)
    grams = F.when(
        n <= F.lit(k), F.array(F.concat_ws(" ", toks))
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k) + F.lit(1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            )
        )
    )
    return tk, grams


def _sized_shingle_rows(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """:func:`shingle_rows` with each doc's distinct-shingle count
    ``n`` on every row: (id, gram, n), still narrow.

    The gram array is projected once and the rows come from
    ``inline(transform(g, x -> struct(x, size(g))))``.  The obvious
    ``explode(g)`` + ``size(g)`` form hands the generator a bare
    attribute, from which Catalyst infers ``size(g) > 0`` and pushes
    that filter, with the whole gram HOF substituted into it, below
    the rebalance exchange: the shingles are then built twice, once at
    the scan's width (one pass over the sf0.01 documents, 4 cores:
    0.31 s wall in this form, 0.76 s in that one).
    """
    tk, grams = _shingle_grams(df, text_col, id_col, k)
    g = F.col("__g")
    return tk.select(F.col(id_col), grams.alias("__g")).select(
        F.col(id_col),
        F.inline(
            F.transform(
                g, lambda x: F.struct(x.alias("gram"), F.size(g).alias("n"))
            )
        ),
    )


def word_grams(text: Column, n: int = 2) -> Column:
    """ALL n-word grams of normalized text, with multiplicity
    (array<string>) — unlike :func:`word_shingles`, repeats are kept,
    which is the point for repetition analysis.  A doc with fewer than
    ``n`` words yields the whole doc as its single gram."""
    toks = tokens(text)
    m = F.size(toks)
    return F.when(m <= F.lit(n), F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(1), m - F.lit(n) + F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
    append: bool = False,
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", Table A1): documents dominated by repeated
    lines or n-grams are boilerplate/spam and get filtered before
    pretraining.

    Per document:
      - ``n_lines``            — raw line count (split on newline)
      - ``dup_line_frac``      — fraction of lines that are repeats
      - ``dup_line_char_frac`` — fraction of line chars in repeated lines
      - ``top_ngram_frac``     — chars covered by the single most frequent
                                 ``top_n``-gram / normalized text chars
      - ``dup_ngram_frac``     — fraction of ``dup_n``-gram chars in grams
                                 occurring more than once

    Plan shape: fully NARROW — per-row sorted-array run folds over the
    doc's own lines and grams (O(g log g) per document), zero shuffles,
    zero joins.  An earlier version exploded to (doc, line)/(doc, gram)
    rows and aggregated (two shuffles + a join-back); the per-row fold
    computes the identical run counts, is ~3× faster at sf0.1, and is
    embarrassingly parallel at any scale (skew still bounded by the
    largest single document).  The token array is projected behind a
    ``rebalance`` barrier so the tokenization is not re-inlined into
    the gram lambda.
    The most-frequent-gram argmax uses the fixed-width ``count|gram``
    string max (same trick as :func:`language_id`) so ties break
    deterministically in any engine — identical to the old aggregate.

    ``append=True`` keeps every input column and appends the five stat
    columns instead of projecting ``(id, stats)`` — the zero-join
    composition shape for pipelines that filter on a stat next (the
    join-back of the default shape would recompute the caller's
    lineage twice).  NULL-text rows are dropped in both modes (the
    inner-join contract of the original explode plan).

    Driver-cost note: the fold expressions are built as ONE SQL string
    per fold (``F.expr``) rather than through the Column API.  The
    Column-API construction of the same tree cost ~5,500 py4j round
    trips = 2.6-4.5 s of driver time per call (measured, sf-independent
    — pure plan construction); the SQL parse is one round trip and the
    resulting Catalyst tree (and therefore the results) is identical.
    """
    from ._util import rebalance

    text = F.col(text_col)

    def gram_sql(toks: str, n: int) -> str:
        """SQL twin of the Column-API gram builder: all ``n``-grams of
        the token array, whole doc when shorter than ``n``."""
        return (
            f"CASE WHEN size({toks}) <= {n} "
            f"THEN array(concat_ws(' ', {toks})) "
            f"ELSE transform(sequence(1, size({toks}) - {n} + 1), "
            f"i -> concat_ws(' ', slice({toks}, i, {n}))) END"
        )

    def run_fold(sorted_sql: str, track_best: bool) -> Column:
        """One pass over a SORTED array accumulating per-run stats:
        dup_cnt/dup_chars (occurrences in runs of length > 1),
        tot_cnt/tot_chars, and (optionally) the ``count|value`` best
        string — exactly the per-group aggregate of the old explode
        plan, folded per row.  Emitted as a single SQL ``aggregate``
        expression (see the driver-cost note above)."""
        # fold the finished run into the dup/best accumulators
        closed_dup_cnt = (
            "CASE WHEN acc.c > 1 THEN acc.dup_cnt + acc.c "
            "ELSE acc.dup_cnt END"
        )
        closed_dup_chars = (
            "CASE WHEN acc.c > 1 THEN acc.dup_chars + acc.c * "
            "CAST(length(acc.cur) AS BIGINT) ELSE acc.dup_chars END"
        )
        best_new = "concat(lpad(CAST(acc.c AS STRING), 10, '0'), '|', acc.cur)"
        closed_best = (
            f"CASE WHEN acc.best IS NULL OR acc.best < {best_new} "
            f"THEN {best_new} ELSE acc.best END"
            if track_best
            else "acc.best"
        )
        empty = (
            "named_struct("
            "'cur', CAST(NULL AS STRING), "
            "'c', CAST(0 AS BIGINT), "
            "'dup_cnt', CAST(0 AS BIGINT), "
            "'dup_chars', CAST(0 AS BIGINT), "
            "'tot_cnt', CAST(0 AS BIGINT), "
            "'tot_chars', CAST(0 AS BIGINT), "
            "'best', CAST(NULL AS STRING))"
        )
        step = (
            "CASE WHEN acc.cur IS NOT NULL AND acc.cur = x THEN "
            "named_struct("
            "'cur', acc.cur, "
            "'c', acc.c + 1, "
            "'dup_cnt', acc.dup_cnt, "
            "'dup_chars', acc.dup_chars, "
            "'tot_cnt', acc.tot_cnt + 1, "
            "'tot_chars', acc.tot_chars + CAST(length(x) AS BIGINT), "
            "'best', acc.best) "
            "ELSE named_struct("
            "'cur', x, "
            "'c', CAST(1 AS BIGINT), "
            "'dup_cnt', CASE WHEN acc.cur IS NULL THEN acc.dup_cnt "
            f"ELSE {closed_dup_cnt} END, "
            "'dup_chars', CASE WHEN acc.cur IS NULL THEN acc.dup_chars "
            f"ELSE {closed_dup_chars} END, "
            "'tot_cnt', acc.tot_cnt + 1, "
            "'tot_chars', acc.tot_chars + CAST(length(x) AS BIGINT), "
            "'best', CASE WHEN acc.cur IS NULL THEN acc.best "
            f"ELSE {closed_best} END) END"
        )
        finish = (
            "named_struct("
            "'dup_cnt', CASE WHEN acc.cur IS NULL THEN acc.dup_cnt "
            f"ELSE {closed_dup_cnt} END, "
            "'dup_chars', CASE WHEN acc.cur IS NULL THEN acc.dup_chars "
            f"ELSE {closed_dup_chars} END, "
            "'tot_cnt', acc.tot_cnt, "
            "'tot_chars', acc.tot_chars, "
            "'best', CASE WHEN acc.cur IS NULL THEN acc.best "
            f"ELSE {closed_best} END)"
        )
        return F.expr(
            f"aggregate({sorted_sql}, {empty}, (acc, x) -> {step}, "
            f"acc -> {finish})"
        )

    # materialization barrier: the gram lambdas below must see a token
    # ARRAY column, not the inlined regex tokenization
    base = (
        [F.col(c) for c in df.columns] if append else [F.col(id_col)]
    )
    base_names = df.columns if append else [id_col]
    tk = rebalance(
        df.select(
            *base,
            F.length(_normalize(text)).alias("__nc"),
            F.split(text, "\n").alias("__lines"),
            tokens(text).alias("__toks"),
        )
    ).filter(
        # NULL text produced no explode rows in the old plan → the doc
        # was inner-join-dropped; keep that contract
        F.col("__lines").isNotNull() & F.col("__toks").isNotNull()
    )
    lines_fold = run_fold("array_sort(__lines)", False)
    top_fold = run_fold(
        f"array_sort({gram_sql('__toks', top_n)})", True
    )
    dup_fold = run_fold(
        f"array_sort({gram_sql('__toks', dup_n)})", False
    )
    folded = tk.select(
        *[F.col(c) for c in base_names],
        F.col("__nc"),
        lines_fold.alias("__lf"),
        top_fold.alias("__tf"),
        dup_fold.alias("__df"),
    )
    lf, tf, dfd = F.col("__lf"), F.col("__tf"), F.col("__df")
    return folded.select(
        *[F.col(c) for c in base_names],
        lf["tot_cnt"].alias("n_lines"),
        (lf["dup_cnt"] / lf["tot_cnt"]).alias("dup_line_frac"),
        (
            lf["dup_chars"] / F.greatest(lf["tot_chars"], F.lit(1))
        ).alias("dup_line_char_frac"),
        (
            F.substring(tf["best"], 1, 10).cast("long")
            * (F.length(tf["best"]) - 11)
            / F.greatest(F.col("__nc"), F.lit(1))
        ).alias("top_ngram_frac"),
        (dfd["dup_chars"] / dfd["tot_chars"]).alias("dup_ngram_frac"),
    )


def token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token counts: whitespace words and BPE-ish regex
    tokens (a cheap proxy for LLM token counts)."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(tokens(text)).alias("n_words"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).alias(
            "n_tokens"
        ),
        F.length(text).alias("n_chars_measured"),
    )


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    append: bool = False,
) -> DataFrame:
    """Heuristic document quality: length band, punctuation ratio,
    stopword ratio, mean word length — the standard pretraining-corpus
    filters (C4/Gopher-style rules), all as Catalyst expressions.

    ``append=True`` keeps every input column and adds the metrics —
    a narrow projection, so pipeline stages CHAIN instead of computing
    (id, metric) then self-joining back (each such join is a full-table
    shuffle at scale).

    Driver-cost note: the metric expressions are emitted as ONE SQL
    string each (``F.expr``) — the Column-API build of the same trees
    cost ~0.2 s of py4j round trips per call, paid by every curation
    gate (see the :func:`repetition_stats` note)."""
    cols = [
        F.expr(sql).alias(name)
        for name, sql in _quality_exprs(text_col).items()
    ]
    if append:
        return df.select("*", *cols)
    return df.select(F.col(id_col), *cols)


def _quality_exprs(text_col: str) -> dict[str, str]:
    """:func:`quality_score`'s output columns as self-contained SQL
    text, in output order — shared with the curation pipeline's fused
    one-projection annotation pass (r16)."""
    text = f"`{text_col}`"
    toks = _tokens_sql(text)
    n_words = f"size({toks})"
    n_chars = f"length({text})"
    n_punct = f"size(regexp_extract_all({text}, '[^\\\\w\\\\s]', 0))"
    en_stop = (
        "array(" + ", ".join(_slit(s) for s in STOPWORDS["en"]) + ")"
    )
    stop_ratio = f"size(array_intersect({toks}, {en_stop})) / {n_words}"
    punct_ratio = f"{n_punct} / greatest({n_chars}, 1)"
    mean_word_len = (
        f"aggregate({toks}, CAST(0 AS BIGINT), "
        f"(acc, t) -> acc + length(t)) / {n_words}"
    )
    score = (
        f"CASE WHEN {n_words} >= 10 AND {n_words} <= 100000 "
        "THEN 0.5D ELSE 0.0D END"
        f" + CASE WHEN {stop_ratio} > 0.01D THEN 0.25D ELSE 0.0D END"
        f" + CASE WHEN {punct_ratio} < 0.2D THEN 0.25D ELSE 0.0D END"
    )
    return {
        "n_words": n_words,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "mean_word_len": mean_word_len,
        "quality": score,
    }


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    append: bool = False,
) -> DataFrame:
    """Stopword-overlap language heuristic.

    Scores each candidate language by stopword-hit ratio over the token
    set and picks the argmax (ties broken by language code order so the
    result is deterministic).  A real deployment would swap in fastText
    via a Pandas UDF; the operator shape (narrow projection, no shuffle)
    stays the same.
    """
    # ONE SQL parse per output column (F.expr) — see the
    # quality_score driver-cost note
    cols = [
        F.expr(sql).alias(name)
        for name, sql in _langid_exprs(text_col).items()
    ]
    if append:
        return df.select("*", *cols)
    return df.select(F.col(id_col), *cols)


def _langid_exprs(text_col: str) -> dict[str, str]:
    """:func:`language_id`'s output columns as SQL text (see
    :func:`_quality_exprs`)."""
    toks = f"array_distinct({_tokens_sql(f'`{text_col}`')})"
    scored = []
    for lang in sorted(STOPWORDS):
        wl = (
            "array("
            + ", ".join(_slit(s) for s in STOPWORDS[lang])
            + ")"
        )
        score = (
            f"size(array_intersect({toks}, {wl})) / "
            f"size(array_union({toks}, {wl}))"
        )
        # fixed-width "score|lang" string: max() over these is argmax by
        # (score, lang) in ANY engine — keeps the SQL oracle byte-identical
        scored.append(
            f"format_string('%012.6f|%s', round({score}, 6), "
            f"{_slit(lang)})"
        )
    best = (
        "greatest(" + ", ".join(scored) + ")"
        if len(scored) > 1
        else scored[0]
    )
    return {
        "lang_pred": f"substring_index({best}, '|', -1)",
        "lang_score": f"CAST(split({best}, '\\\\|')[0] AS DOUBLE)",
    }


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    append: bool = False,
) -> DataFrame:
    """Deterministic content fingerprints of the normalized text:
    full-text md5 plus a head-shingle key (first 8 words) for
    prefix-duplicate detection."""
    cols = [
        F.expr(sql).alias(name)
        for name, sql in _fingerprint_exprs(text_col).items()
    ]
    if append:
        return df.select("*", *cols)
    return df.select(F.col(id_col), *cols)


def _fingerprint_exprs(text_col: str) -> dict[str, str]:
    """:func:`doc_fingerprint`'s output columns as SQL text (see
    :func:`_quality_exprs`)."""
    text = f"`{text_col}`"
    toks = _tokens_sql(text)
    return {
        "fingerprint": f"md5({_normalize_sql(text)})",
        "head_key": f"md5(concat_ws(' ', slice({toks}, 1, 8)))",
    }


# PII patterns, ordered (earlier rules run first so e.g. SSNs aren't
# half-eaten by the digit-run rule).  Conservative syntax only: no
# lookarounds, so the SAME strings run under Java regex (Spark) and RE2
# (DuckDB oracles).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("card", r"\b\d{13,16}\b", "<CARD>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    append: bool = False,
) -> DataFrame:
    """Redact common PII shapes (emails, IPv4s, SSNs, phone numbers,
    long card-like digit runs) with typed placeholder tokens, and count
    matches per category — the standard pre-training scrub pass.

    Narrow per-row ``regexp_replace`` chain: no shuffle, whole-stage
    codegen, linear scan.  Counts are taken BEFORE any replacement so
    categories don't see each other's placeholders; replacement applies
    the rules in :data:`PII_PATTERNS` order.

    ``append=True`` scrubs ``text_col`` IN PLACE and keeps every other
    column (no count columns) — the zero-join composition shape for
    pipelines (the default ``(id, redacted, counts)`` projection forces
    a join-back that shuffles the corpus twice).
    """
    text = F.col(text_col)
    redacted = text
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    if append:
        return df.withColumn(text_col, redacted)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return df.select(
        F.col(id_col), redacted.alias("redacted"), *counts
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into ``chunk_size``-token chunks with ``overlap``
    tokens of context carry-over (stride = chunk_size - overlap) — the
    standard long-document preprocessing for embedding/retrieval and
    fixed-window training.

    Chunk starts are 0, s, 2s, … with the LAST start clamped to
    ``ceil((n - chunk_size)/s)·s`` so the tail chunk reaches the end
    without emitting an all-overlap runt; a doc with ≤ chunk_size tokens
    is one chunk.

    Plan: tokens exploded once; each token computes its member-chunk
    range arithmetically and explodes a tiny int sequence (no string
    slicing in lambdas — see :func:`shingle_rows` for why); chunks
    reassemble with one groupBy(id, chunk) over sorted (pos, token)
    structs.  Work is O(tokens × chunks-per-token), chunks-per-token ≤
    ceil(chunk_size/s).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    s = chunk_size - overlap
    tk = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    from pyspark.sql import Window

    n = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    p = F.col("pos")
    c_last = F.greatest(
        F.lit(0),
        F.floor((n - chunk_size + s - 1) / s).cast("int"),
    )
    c_min = F.greatest(
        F.lit(0),
        F.floor((p - chunk_size + s) / s).cast("int"),  # ceil((p-cs+1)/s)
    )
    c_max = F.least(F.col("c_last"), F.floor(p / s).cast("int"))
    member = (
        tk.select(F.col(id_col), p, F.col("tok"), c_last.alias("c_last"))
        .select(
            F.col(id_col),
            F.col("pos"),
            F.col("tok"),
            F.explode(F.sequence(c_min, c_max)).alias("chunk_id"),
        )
    )
    assembled = member.groupBy(id_col, "chunk_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("tok")))
        ).alias("toks")
    )
    return assembled.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.concat_ws(
            " ", F.transform(F.col("toks"), lambda x: x.tok)
        ).alias("chunk_text"),
        F.size("toks").alias("n_tokens"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every k-gram of words, slide a window of ``w``
    hashes, keep each window's minimum — guaranteeing any shared
    substring of ≥ w+k-1 words leaves at least one common fingerprint,
    with ~2/(w+1) of the hashes retained.

    Plan: fully array-native and NARROW — no shuffle at all.  The token
    array materializes behind a :func:`rebalance` exchange (single-file
    local inputs) and the k-gram hash array behind a one-element
    ``explode`` Generate; both are CollapseProject barriers, without
    which Catalyst inlines the md5 transform into the sliding-min
    lambda and re-hashes the whole gram array per window position
    (O(m·w) → O(m²) md5 calls).  An earlier version exploded to rows
    and ran window-frame minima — correct, but it paid a shuffle + sort
    + a collect_set shuffle; per-doc array work needs neither.
    Output: (id, fingerprints array<long> — sorted distinct selected
    hashes).
    """
    from ._util import rebalance

    tk = rebalance(
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    )
    toks = F.col("__toks")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k) + F.lit(1), F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 8),
            16,
            10,
        ).cast("long"),
    )
    hashed = tk.select(
        F.col(id_col), F.explode(F.array(grams)).alias("__hs")
    )
    hs = F.col("__hs")
    m = F.size(hs)
    # windows of exactly w hashes; a doc with fewer than w grams yields
    # its single whole-array minimum
    mins = F.when(
        m <= F.lit(w), F.array(F.array_min(hs))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), m - F.lit(w) + F.lit(1)),
            lambda j: F.array_min(F.slice(hs, j, w)),
        )
    )
    return hashed.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(mins)).alias("fingerprints"),
    )


def unigram_lm_fit(
    df: DataFrame, text_col: str = "text", vocab_size: int = 20000
) -> DataFrame:
    """Fit a unigram language model over the corpus: the ``vocab_size``
    most frequent whitespace words with their counts, plus the corpus
    total token count on every row (``__lm_total``).

    This is the CCNet-style corpus-level quality model (Wenzek et al.,
    arXiv:1911.00359 use a KenLM 5-gram; a unigram model is the
    engine-native degenerate case — same pipeline shape, no external
    binary).  Deterministic: ties broken by (count desc, word asc), so
    the fitted vocabulary is identical across runs and engines.

    Scale shape: one partial-aggregated word count (ONE shuffle) and a
    top-V via sort+limit (TakeOrderedAndProject — no total sort); the
    corpus total is a separate NARROW per-doc size sum (no explode, no
    shuffle), so every stage has exactly one consumer and nothing is
    recomputed.  The result is vocab-sized, intended for
    ``F.broadcast`` in the scorer.
    """
    words = df.select(
        F.explode(tokens(F.col(text_col))).alias("__lm_w")
    ).filter(F.col("__lm_w") != "")
    counts = words.groupBy("__lm_w").agg(
        F.count(F.lit(1)).alias("__lm_cnt")
    )
    total = df.agg(
        F.sum(
            F.size(F.filter(tokens(F.col(text_col)), lambda w: w != ""))
        )
        .cast("double")
        .alias("__lm_total")
    )
    return (
        counts.orderBy(
            F.col("__lm_cnt").desc(), F.col("__lm_w").asc()
        )
        .limit(vocab_size)
        .crossJoin(F.broadcast(total))
    )


def unigram_lm_score(
    df: DataFrame,
    model: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 20000,
) -> DataFrame:
    """Per-document unigram log-probability quality score (CCNet-style
    perplexity filtering, arXiv:1911.00359): documents whose words are
    rare under the corpus (or a reference-corpus) unigram model get a
    low ``avg_logprob`` — the standard "remove gibberish / keep fluent
    text" signal, fit and applied with no external LM binary.

    ``logprob(w) = ln((count(w) + 1) / (total + vocab_size))`` with
    add-one smoothing; out-of-vocabulary words take count 0.  Returns
    ``(id, n_tokens, oov_frac, avg_logprob)`` with the floats rounded
    to 4 decimals (partial-aggregation float sum order is not defined,
    so raw doubles would differ in the last ulp across partitionings).

    Pass ``model=`` to score against a model fit on a DIFFERENT corpus
    (e.g. target-domain filtering); defaults to fitting on ``df``.

    Scale shape: explode → broadcast-join the vocab-sized model → one
    per-doc aggregate.  Two shuffles total with the fit, one without.
    The model is referenced twice (vocab join + total); both reads
    share the fit's one word-count exchange (Spark's exchange reuse),
    so the fit's shuffle runs once.
    """
    if model is None:
        model = unigram_lm_fit(df, text_col, vocab_size)
    words = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__lm_w")
    ).filter(F.col("__lm_w") != "")
    joined = words.join(
        F.broadcast(model.select("__lm_w", "__lm_cnt")), "__lm_w", "left"
    ).crossJoin(
        # total carried separately so all-OOV docs (every model join a
        # miss) still see it
        F.broadcast(model.agg(F.max("__lm_total").alias("__lm_T")))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.max("__lm_T").alias("__t"),
            F.round(
                F.avg(F.when(F.col("__lm_cnt").isNull(), 1.0).otherwise(0.0)),
                4,
            ).alias("oov_frac"),
            F.sum(
                F.log(F.coalesce(F.col("__lm_cnt"), F.lit(0)) + F.lit(1.0))
            ).alias("__slc"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("oov_frac"),
            # avg ln((c+1)/(T+V)) = (Σ ln(c+1))/n − ln(T+V); the
            # factored form keeps one log per word, not two
            F.round(
                F.col("__slc") / F.col("n_tokens")
                - F.log(F.col("__t") + F.lit(float(vocab_size))),
                4,
            ).alias("avg_logprob"),
        )
    )


def dedup_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """WITHIN-document line dedup: keep the first occurrence of every
    non-blank line, preserving order and blank lines (paragraph
    structure).  The navigation-boilerplate scrubber that runs before
    corpus-level dedup in C4-style pipelines.

    Pure narrow Catalyst fold (no shuffle, no UDF): one pass over the
    doc's line array with an array-membership accumulator — O(L²) in
    LINES PER DOCUMENT, which is bounded and tiny compared to the scan.
    Returns ``(id, text, n_lines_removed)``.
    """
    lines = F.split(F.col(text_col), "\n")
    folded = F.aggregate(
        lines,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.array().cast("array<string>").alias("seen"),
        ),
        lambda acc, x: F.when(
            (F.trim(x) != "") & F.array_contains(acc["seen"], x),
            acc,
        ).otherwise(
            F.struct(
                F.concat(acc["out"], F.array(x)).alias("out"),
                F.when(F.trim(x) != "", F.concat(acc["seen"], F.array(x)))
                .otherwise(acc["seen"])
                .alias("seen"),
            )
        ),
    )
    other = [c for c in df.columns if c != text_col]
    return df.select(
        *other,
        F.array_join(folded["out"], "\n").alias(text_col),
        (F.size(lines) - F.size(folded["out"])).alias("n_lines_removed"),
    )


def dedup_lines_corpus(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CORPUS-level line dedup (the C4 rule, Raffel et al.
    arXiv:1910.10683 §2.2): every non-blank line that occurs more than
    once across the whole corpus keeps only its FIRST occurrence —
    first = lexicographically smallest ``(doc_id, line_index)`` — so
    boilerplate (cookie banners, nav menus) survives exactly once.
    Blank lines are never deduplicated.  Documents whose every line is
    removed disappear (C4 drops empty docs).

    Plan: posexplode → groupBy(line) min-struct (partial-aggregated —
    hot boilerplate lines combine map-side, no skew blowup) → hash join
    back (one row per line key on the build side, no expansion) →
    groupBy(doc) ordered reassembly.  Three shuffles, no windows over
    hot keys, no driver state.  Returns
    ``(id, text, n_lines_kept, n_lines_removed)``.
    """
    idc = F.col(id_col)
    lines = df.select(
        idc,
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "__ln_idx", "__ln"
        ),
    )
    firsts = (
        lines.filter(F.trim(F.col("__ln")) != "")
        .groupBy("__ln")
        .agg(
            F.min(
                F.struct(idc.alias("d"), F.col("__ln_idx").alias("i"))
            ).alias("__first")
        )
    )
    joined = lines.join(firsts, "__ln", "left")
    keep = (F.trim(F.col("__ln")) == "") | (
        (idc == F.col("__first.d"))
        & (F.col("__ln_idx") == F.col("__first.i"))
    )
    flagged = joined.select(
        idc, "__ln_idx", "__ln", keep.alias("__keep")
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("__keep"), 1).otherwise(0)).alias(
                "n_lines_kept"
            ),
            F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias(
                "n_lines_removed"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(
                                    F.col("__ln_idx").alias("i"),
                                    F.col("__ln").alias("l"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["l"],
                ),
                "\n",
            ).alias(text_col),
        )
        .filter(F.col("n_lines_kept") > 0)
        .select(id_col, text_col, "n_lines_kept", "n_lines_removed")
    )


def cross_doc_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_k: int = 13,
) -> DataFrame:
    """Cross-document EXACT substring duplication stats — the
    suffix-array dedup signal of Lee et al. 2021 (arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better"),
    re-expressed as pure relational algebra: a token position is
    duplicated iff the ``gram_k``-token gram starting there also
    occurs in ANOTHER document; overlapping duplicated grams merge
    into spans.

    Returns one row per input document:
    ``(id, n_tokens, dup_tokens, n_spans, dup_token_frac)`` —
    ``dup_tokens`` is the number of token positions covered by merged
    duplicated spans, the quantity Lee et al. cut from training sets.

    Plan shape (no UDFs, no folds, three shuffles):
    1. posexplode the per-doc gram array (hashed to 64-bit via
       ``xxhash64`` — at 13-token grams collisions are ~n²/2⁶⁴,
       negligible vs the sampling noise of any dedup decision);
    2. grams held by ≥ 2 DISTINCT docs — partial-aggregated
       groupBy(gram), so hot boilerplate grams combine map-side;
    3. hash-join positions against the duplicated-gram keys (one row
       per gram key on the build side);
    4. per-doc interval merge WITHOUT a fold: every interval is the
       same length ``gram_k``, so with positions sorted a new span
       starts iff ``pos − lag(pos) ≥ gram_k`` and the incremental
       token coverage is ``least(gram_k, pos − lag(pos))`` — one
       window over (id, pos), gaps-and-islands style.

    At 100 TB step 2's distinct-doc count is the only superlinear
    risk (a gram in millions of docs); ``count_distinct`` over two
    values short-circuits poorly, so we aggregate ``min(id) ≠
    max(id)`` instead — constant-size state per gram regardless of
    how hot the gram is.
    """
    from pyspark.sql import Window

    idc = F.col(id_col)
    toks = tokens(F.col(text_col))
    base = df.select(
        idc,
        F.coalesce(F.size(toks), F.lit(0)).alias("__n_toks"),
        toks.alias("__toks"),
    )
    m = F.size(F.col("__toks"))
    gram_arr = F.when(
        m >= F.lit(gram_k),
        F.transform(
            F.sequence(F.lit(1), m - F.lit(gram_k) + F.lit(1)),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("__toks"), i, gram_k))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = base.select(
        idc, F.posexplode(gram_arr).alias("__pos", "__g")
    )
    dup_keys = (
        grams.groupBy("__g")
        .agg(
            (F.min(idc) != F.max(idc)).alias("__multi")
        )
        .filter(F.col("__multi"))
        .select("__g")
    )
    marked = grams.join(dup_keys, "__g").select(idc, "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    gap = F.col("__pos") - F.lag("__pos").over(w)
    stats = (
        marked.select(
            idc,
            F.coalesce(
                F.least(gap, F.lit(gram_k)), F.lit(gram_k)
            ).alias("__cover"),
            F.when(
                gap.isNull() | (gap >= gram_k), F.lit(1)
            ).otherwise(F.lit(0)).alias("__new_span"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__cover").alias("dup_tokens"),
            F.sum("__new_span").alias("n_spans"),
        )
    )
    return (
        base.select(idc, F.col("__n_toks").alias("n_tokens"))
        .join(stats, id_col, "left")
        .select(
            idc,
            F.col("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias(
                "dup_tokens"
            ),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            (
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1))
            ).alias("dup_token_frac"),
        )
    )


def scrub_cross_doc_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_k: int = 13,
) -> DataFrame:
    """Remove cross-document duplicated substrings, keeping ONE owner
    copy — the treatment Lee et al. 2021 (arXiv:2107.06499) apply to
    training sets, with a deterministic owner rule: each duplicated
    gram is owned by the LOWEST doc id holding it; every token
    position covered by a non-owned duplicated gram is scrubbed, the
    owner keeps its copy.  Output is one row per input doc:
    ``(id, text, n_tokens_kept, n_tokens_removed)`` with ``text``
    rebuilt from the kept tokens of the NORMALIZED form (lowercased,
    whitespace-collapsed — the same canon every dedup operator here
    keys on; a byte-exact splice would need original offsets, which
    tokenization discards).  Docs scrubbed to zero tokens disappear,
    like C4's empty-doc drop.

    Plan: the :func:`cross_doc_dup_spans` candidate machinery (gram
    posexplode → min/max-per-gram aggregate → hash join) except the
    per-gram aggregate also carries the owner (``min(id)``); non-owned
    gram hits explode to their ``gram_k`` covered positions (bounded
    by dup density, not corpus size), then one per-doc groupBy
    rebuilds the text from kept positions — no UDFs, no windows over
    hot keys.
    """
    idc = F.col(id_col)
    toks = tokens(F.col(text_col))
    base = df.select(idc, toks.alias("__toks")).filter(
        F.col("__toks").isNotNull()
    )
    m = F.size(F.col("__toks"))
    gram_arr = F.when(
        m >= F.lit(gram_k),
        F.transform(
            F.sequence(F.lit(1), m - F.lit(gram_k) + F.lit(1)),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("__toks"), i, gram_k))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = base.select(
        idc, F.posexplode(gram_arr).alias("__pos", "__g")
    )
    owners = (
        grams.groupBy("__g")
        .agg(F.min(idc).alias("__owner"), F.max(idc).alias("__mx"))
        .filter(F.col("__owner") != F.col("__mx"))
        .select("__g", "__owner")
    )
    # non-owned duplicated gram hits → the k positions they cover
    scrub_pos = (
        grams.join(owners, "__g")
        .filter(idc != F.col("__owner"))
        .select(
            idc,
            F.explode(
                F.sequence(
                    F.col("__pos"), F.col("__pos") + F.lit(gram_k - 1)
                )
            ).alias("__p"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__p").alias("__scrub"))
    )
    rebuilt = (
        base.join(scrub_pos, id_col, "left")
        .select(
            idc,
            F.col("__toks"),
            F.coalesce(
                F.col("__scrub"), F.array().cast("array<int>")
            ).alias("__scrub"),
        )
        .select(
            idc,
            # kept positions via ONE hash-set difference (array_except
            # is O(n_tokens + |scrub|)), then a positional gather — a
            # per-token array_contains scan would be
            # O(n_tokens × |scrub|), quadratic on heavily-duplicated
            # documents where |scrub| approaches n_tokens
            F.when(
                F.size(F.col("__toks")) > 0,  # sequence(0,-1) would
                F.transform(  # run DESCENDING on an empty doc
                    F.array_except(
                        F.sequence(
                            F.lit(0),
                            F.size(F.col("__toks")) - F.lit(1),
                        ),
                        F.col("__scrub"),
                    ),
                    lambda p: F.element_at(
                        F.col("__toks"), p + F.lit(1)
                    ),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("__kept"),
            F.size(F.col("__scrub")).alias("n_tokens_removed"),
        )
    )
    return (
        rebuilt.select(
            idc,
            F.array_join(F.col("__kept"), " ").alias(text_col),
            F.size(F.col("__kept")).alias("n_tokens_kept"),
            F.col("n_tokens_removed"),
        )
        .filter(F.col("n_tokens_kept") > 0)
    )


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    append: bool = False,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a bag of query terms
    — the standard search-based curation scorer ("select documents
    about X"): ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b +
    b·dl/avgdl))`` with ``idf = ln(1 + (N−df+0.5)/(df+0.5))`` over the
    normalized whitespace tokens every text operator here keys on.

    Scale shape: per-term tf is a narrow in-row array count (no
    explode, no shuffle of the corpus); N / avgdl / per-term document
    frequencies come from ONE global aggregate broadcast back as a
    1-row cross join (the ``diffpatterns`` totals device) — two
    narrow passes over the corpus total, zero corpus shuffles, zero
    UDFs.  ``query_terms`` is a small literal bag (each term is one
    in-row count); normalize happens here so callers can pass raw
    terms.
    """
    if not query_terms:
        raise ValueError("bm25_score: query_terms must be non-empty")
    terms = [t.strip().lower() for t in query_terms]
    if len(set(terms)) != len(terms):
        raise ValueError("bm25_score: duplicate query terms")
    toks = tokens(F.col(text_col))
    def _term_eq(term: str):
        # NOT `lambda x, t=term:` — a second parameter (even a
        # defaulted one) makes PySpark pass the ELEMENT INDEX as `t`
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(
            F.filter(F.col("__bm_t"), _term_eq(t))
        ).alias(f"__bm_tf{i}")
        for i, t in enumerate(terms)
    ]
    base = df.select(
        "*" if append else F.col(id_col),
        toks.alias("__bm_t"),
    ).select(
        *(df.columns if append else [id_col]),
        F.size(F.col("__bm_t")).cast("double").alias("__bm_dl"),
        *tf_cols,
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("__bm_n"),
        F.avg("__bm_dl").alias("__bm_avgdl"),
        *[
            F.sum((F.col(f"__bm_tf{i}") > 0).cast("int"))
            .cast("double")
            .alias(f"__bm_df{i}")
            for i in range(len(terms))
        ],
    )
    joined = base.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        tf = F.col(f"__bm_tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__bm_n") - F.col(f"__bm_df{i}") + F.lit(0.5))
            / (F.col(f"__bm_df{i}") + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("__bm_dl")
            / F.greatest(F.col("__bm_avgdl"), F.lit(1e-9))
        )
        part = idf * tf * F.lit(k1 + 1.0) / denom
        score = part if score is None else score + part
    out_cols = df.columns if append else [id_col]
    return joined.select(
        *[F.col(c) for c in out_cols], score.alias("bm25")
    )


def decompress_text(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    codec: str = "auto",
    encoding: str = "utf-8",
    errors: str = "strict",
) -> DataFrame:
    """Compressed binary document blobs → ``(id, text, codec)``.

    The common training-corpus shape (WARC/WET records, gzipped JSON
    lines stored as parquet binary columns): each payload decompresses
    with a stdlib codec — ``gzip`` (1F 8B), ``bz2`` (BZh), ``xz``
    (FD 37 7A 58 5A), ``zlib`` (78 xx) — and decodes to text.
    ``codec="auto"`` sniffs magic bytes per payload, so mixed corpora
    run in one pass; an explicit codec skips the sniff.  Zstandard
    payloads (28 B5 2F FD) raise ``NotImplementedError`` (no zstd in
    the stdlib); unknown magic or corrupt streams raise ``ValueError``
    naming the row id.  Arrow-batched ``mapInPandas`` — decompression
    is per-row CPU with no shuffle, so a cluster scales it linearly
    with cores, and the iterator form keeps executor memory bounded by
    the Arrow batch size regardless of blob size."""
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma
    import zlib as _zlib
    from typing import Iterator as _It

    import pandas as pd

    if payload_col not in df.columns or id_col not in df.columns:
        raise ValueError(
            f"decompress_text: need columns {id_col!r}, {payload_col!r}"
        )
    if codec not in ("auto", "gzip", "bz2", "xz", "zlib"):
        raise ValueError(f"decompress_text: unknown codec {codec!r}")

    def sniff(b: bytes) -> str:
        if b[:2] == b"\x1f\x8b":
            return "gzip"
        if b[:3] == b"BZh":
            return "bz2"
        if b[:6] == b"\xfd7zXZ\x00":
            return "xz"
        if b[:4] == b"\x28\xb5\x2f\xfd":
            raise NotImplementedError(
                "decompress_text: zstd payloads need the zstandard"
                " library, unavailable in this environment"
            )
        if len(b) >= 2 and b[0] == 0x78 and (b[0] * 256 + b[1]) % 31 == 0:
            return "zlib"
        raise ValueError("unrecognized compression magic")

    funcs = {
        "gzip": _gzip.decompress,
        "bz2": _bz2.decompress,
        "xz": _lzma.decompress,
        "zlib": _zlib.decompress,
    }

    def kernel(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            ids, texts, codecs = [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                try:
                    c = sniff(b) if codec == "auto" else codec
                    raw = funcs[c](b)
                except NotImplementedError:
                    raise
                except Exception as e:
                    raise ValueError(
                        f"decompress_text: row {id_col}={rid}: {e}"
                    ) from e
                ids.append(int(rid))
                texts.append(raw.decode(encoding, errors))
                codecs.append(c)
            yield pd.DataFrame(
                {id_col: ids, "text": texts, "codec": codecs}
            )

    return df.select(id_col, payload_col).mapInPandas(
        kernel, f"{id_col} long, text string, codec string"
    )
