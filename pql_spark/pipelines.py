"""End-to-end pipeline compositions.

``curate_corpus`` is the canonical training-data pipeline the individual
operators exist for: quality filter → language filter → exact dedup →
MinHash near-dup removal → deterministic content-keyed train/test split.
Every stage is one of this package's operators, composed as DataFrame
operations that Catalyst optimizes, so it scales exactly as its stages
do.  Where one frame feeds several branches (the post-dedup corpus,
the drop list, the QA base) it is checkpointed locally, and everything
downstream plans over that flat leaf instead of the upstream lineage.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.dedup import minhash_dup_pairs
from .operators.sampling import train_test_split
from .operators.text import (
    dedup_lines,
    redact_pii,
    repetition_stats,
)


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.75,
    langs: Sequence[str] | None = ("en",),
    near_dup_threshold: float = 0.85,
    test_rate: float = 0.05,
    max_dup_ngram_frac: float | None = None,
    benchmark: DataFrame | None = None,
    decontaminate_gram_n: int = 13,
    redact: bool = False,
    drop_repeated_lines: bool = False,
    timing: dict | None = None,
    qa: dict | None = None,
) -> DataFrame:
    """Curate a raw document table into a deduplicated, split corpus.

    Returns the surviving rows of ``docs`` with three appended columns:
    ``quality``, ``lang_pred``, and ``split`` ('train'/'test'); with
    ``redact=True`` the text column is PII-scrubbed in place.

    Stage-by-stage (each narrow or one-shuffle):
    0. optional within-doc repeated-line scrub
       (``drop_repeated_lines``, narrow — see
       :func:`~pql_spark.operators.text.dedup_lines`);
    1. quality ≥ ``min_quality`` (C4/Gopher-style heuristics);
    2. predicted language ∈ ``langs`` (skipped when ``langs`` is None;
       every entry must be a ``str`` — anything else raises
       ``ValueError``, since the codes are compared as SQL strings);
    3. repetition filter: drop docs whose duplicate-``n``-gram char
       fraction exceeds ``max_dup_ngram_frac`` (Gopher rule; skipped
       when None);
    4. exact dedup on the normalized-text fingerprint (min-id survivor);
    5. near-dup removal: MinHash+LSH pairs at ``near_dup_threshold``;
       the higher id of each pair is dropped (transitive chains collapse
       to their minimum id over repeated pairs);
    6. benchmark decontamination: drop docs sharing any
       ``decontaminate_gram_n``-gram with ``benchmark`` (skipped when
       None; folded into one combined drop-list with the near-dup ids
       so the corpus is anti-joined once);
    7. optional PII redaction of the surviving text;
    8. train/test split keyed on the CONTENT fingerprint, not the id —
       re-ingesting the same text can never land it in the other split.

    Stages 4–6 run EAGERLY, when ``curate_corpus`` is called: the
    post-dedup corpus and the distinct drop list are each materialized
    once with ``localCheckpoint`` (and, with ``qa``, the QA base below
    too), because each is re-read by several branches.  Everything
    downstream — the anti-join, redaction, the split, every QA frame —
    is lazy over those flat ``LogicalRDD`` leaves, so a later plan
    never re-analyzes, re-plans or re-serializes the upstream lineage.
    The checkpointed blocks belong to the returned frames: Spark's
    ContextCleaner frees them once those frames are garbage-collected,
    and nothing is registered for ``unpersist_tracked``.  The trade of
    a LOCAL checkpoint, which ``operators.dedup.connected_components``
    makes too: the blocks live in executor storage without lineage, so
    losing an executor fails a later job over them instead of
    recomputing the lost partitions.

    ``timing``: DIAGNOSTIC ONLY — pass a dict to get per-stage wall
    seconds written into it (keys below).  Timing mode materializes
    each stage with ``localCheckpoint`` so the numbers are attributable
    increments; that inserts barriers Catalyst would otherwise fuse
    away, so the SUM exceeds the default pipeline's end-to-end time.
    At the stages the default path checkpoints anyway (``exact_dedup``
    and the drop list, timed as ``near_dup_pairs`` or, with a
    ``benchmark``, as ``decontaminate``) it times that one checkpoint.
    Use it to see which stage moved between environments, not as the
    benchmark number.

    ``qa``: pass a dict to ALSO receive a QA report on what the
    pipeline kept vs dropped (the curation-review view).  Keys set:

    * ``qa["profile"]`` — :func:`profile_columns` of the annotated
      corpus (id, quality, lang_pred, text_len) grouped by a
      ``cohort`` column ('kept'/'dropped' by final survival);
    * ``qa["quality_hist_kept"]`` / ``qa["quality_hist_dropped"]`` —
      20-bin :func:`numeric_histogram` of the quality score per
      cohort over the fixed [0, 1] range (bin edges comparable across
      runs and cohorts);
    * ``qa["stage_counts"]`` — one row per pipeline stage
      ``(stage_idx, stage, rows)`` of surviving row counts.

    All three are lazy DataFrames over the checkpointed QA base: one
    row per input document (ids are assumed unique, as the cohort
    join requires), labeled from the checkpointed post-dedup ids and
    drop list.  Collecting them runs extra jobs but never mutates the
    main result, and the main return is byte-identical with or without
    ``qa``.
    """
    import time as _time

    from .operators._util import pinned_filter, rebalance

    if langs is not None:
        bad = [lang for lang in langs if not isinstance(lang, str)]
        if bad:
            raise ValueError(f"langs must be str language codes, got {bad!r}")

    def _checkpoint(stage: str, frame: DataFrame) -> DataFrame:
        t0 = _time.perf_counter()
        out = frame.localCheckpoint()
        if timing is not None:
            timing[stage] = round(_time.perf_counter() - t0, 3)
        return out

    def _mark(stage: str, frame: DataFrame) -> DataFrame:
        return frame if timing is None else _checkpoint(stage, frame)

    # spread a single-file input across the cluster's cores FIRST: the
    # whole narrow filter chain below otherwise runs as ONE task (one
    # parquet split), serializing every regex/fold expression onto one
    # core (measured 2.4 s → 0.3 s for the chain at sf0.1); a real
    # multi-split corpus makes this a no-op
    docs = rebalance(docs)

    if drop_repeated_lines:
        # within-doc line dedup FIRST (narrow fold, no shuffle) so the
        # quality metrics and fingerprints see the scrubbed text
        docs = _mark(
            "line_scrub",
            dedup_lines(docs, text_col, id_col).drop("n_lines_removed"),
        )

    # quality / language / fingerprint are all narrow per-row
    # expressions: CHAIN them as appended columns (zero shuffles) rather
    # than computing (id, metric) tables and self-joining back — three
    # full-table shuffles saved, and the filters still push into the
    # single projection over the scan.  r16: the three operator calls
    # (3 selects + a 6-column drop, each paying eager analysis over the
    # growing plan) are fused into ONE selectExpr emitting exactly the
    # three kept columns — same expressions (shared SQL-text helpers),
    # same collapsed Project after optimization.
    from .operators.text import (
        _fingerprint_exprs,
        _langid_exprs,
        _quality_exprs,
    )

    kept = docs.selectExpr(
        "*",
        f"{_quality_exprs(text_col)['quality']} AS quality",
        f"{_langid_exprs(text_col)['lang_pred']} AS lang_pred",
        f"{_fingerprint_exprs(text_col)['fingerprint']} AS fingerprint",
    )
    # pinned: pushdown would substitute the quality/langid trees into a
    # pre-shuffle Filter and evaluate them twice — see pinned_filter
    annot = kept  # full annotated frame (pre-filter) — QA cohort base
    # ONE source of truth for the keep-condition, as SQL text: the
    # filter parses it (identical tree to the old Column build) and the
    # QA stage-count pass below re-counts it without re-attaching a
    # second Column tree (r16 — VERDICT r15 item 2)
    from .operators.text import _slit

    cond_sql = f"quality >= {float(min_quality)!r}D"
    if langs is not None:
        in_list = ", ".join(_slit(lang) for lang in langs)
        cond_sql += f" AND lang_pred IN ({in_list})"
    cond = F.expr(cond_sql)
    kept = _mark("quality_lang", pinned_filter(kept, cond))

    repetition = None
    if max_dup_ngram_frac is not None:
        # appended narrow fold over `kept` (not `docs`): the repetition
        # stats only pay for rows that survived the filters above, and
        # append=True keeps this a zero-join CHAIN — the old
        # (id, stat)-then-join-back shape recomputed the whole narrow
        # lineage twice
        kept = pinned_filter(
            repetition_stats(kept, text_col, id_col, append=True),
            F.col("dup_ngram_frac") <= max_dup_ngram_frac,
        ).drop(
            "n_lines", "dup_line_frac", "dup_line_char_frac",
            "top_ngram_frac", "dup_ngram_frac",
        )
        kept = repetition = _mark("repetition", kept)

    # exact dedup: one survivor (min id) per identical normalized text.
    # A fingerprint-partitioned window min beats the groupBy+join-back
    # (one shuffle instead of two, and no second evaluation of the
    # filter lineage above).
    # `kept` is re-read by minhash (signature + exact verify), the
    # decontamination scan, the drop anti-join, redaction, the final
    # split and the QA base — checkpoint it ONCE so the filter/dedup
    # DAG above runs once AND drops out of every later plan.  The
    # expensive branches (minhash, contamination) are then reduced to
    # a TINY id drop-list, checkpointed too; without that, every
    # downstream consumer would re-run the whole minhash pipeline
    # through the anti-join's lineage (measured 22-38s vs ~9s at
    # sf0.1).  A persist would cache the same rows but keep the whole
    # upstream plan in every later frame: analysis, AQE re-planning,
    # plan strings and task closures over it on every consumer.
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    kept = deduped = _checkpoint(
        "exact_dedup",
        kept.withColumn("__min_id", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) == F.col("__min_id"))
        .drop("__min_id"),
    )

    # near-dup removal: drop the higher id of every similar pair.
    # 32 perms / 8 bands (r=4) halve the signature work vs the 64/16
    # default while keeping ~98.5% pair recall at s=0.8 — the curation
    # trade (the detector's exactness lives in the verify stage either
    # way; only candidate recall changes)
    pairs = minhash_dup_pairs(
        kept, text_col=text_col, id_col=id_col,
        num_perm=32, bands=8,
        threshold=near_dup_threshold,
        sort_pairs=False,  # only the id_b drop-set is used (guide §2.4)
    )
    drops = pairs.select(F.col("id_b").alias(id_col))
    if benchmark is None:
        drops = _checkpoint("near_dup_pairs", drops.distinct())
    else:
        from .operators.dedup import contamination_report

        drops = _mark("near_dup_pairs", drops)
        contaminated = contamination_report(
            kept, benchmark, text_col, id_col, gram_n=decontaminate_gram_n
        ).select(id_col)
        drops = _checkpoint(
            "decontaminate", drops.unionByName(contaminated).distinct()
        )
    kept = kept.join(drops, id_col, "left_anti")

    if redact:
        # in-place narrow scrub — the (id, redacted) join-back shape
        # would shuffle the surviving corpus twice for a per-row regex
        kept = _mark(
            "redact", redact_pii(kept, text_col, id_col, append=True)
        )

    out = train_test_split(
        kept, key="fingerprint", test_rate=test_rate
    ).drop("fingerprint")
    out = _mark("split", out)

    if qa is not None:
        from .operators._util import sql_over
        from .operators.profiling import numeric_histogram, profile_columns

        def _lit(text: str) -> str:
            # sql_over formats its text: caller-given identifiers and
            # the `langs` literals in cond_sql keep their braces
            return text.replace("{", "{{").replace("}", "}}")

        idq = _lit(f"`{id_col}`")
        # The QA base: one row per annotated doc, labeled from the two
        # checkpoints rather than from `out`.  `__qa_exact` marks the
        # docs that survived the exact dedup; `cohort` is 'kept' iff
        # the doc also escaped the distinct drop list — exactly
        # membership in `out`, since redaction and the split only
        # append columns.  Each left join matches at most one row (ids
        # are unique per doc, `drops` is distinct), so the base keeps
        # `annot`'s cardinality.  text_len instead of raw text keeps
        # the profile numeric where it matters.  Checkpointed: the
        # profile, both histograms and the stage counts all read it,
        # and it is six narrow columns per doc.
        labeled = sql_over(
            {"annot": annot, "kept": deduped, "drops": drops},
            f"SELECT a.{idq}, a.quality, a.lang_pred,"
            f" length(a.{_lit(f'`{text_col}`')}) AS text_len,"
            " k.__qa_exact IS NOT NULL AS __qa_exact,"
            f" CASE WHEN k.__qa_exact AND d.{idq} IS NULL"
            " THEN 'kept' ELSE 'dropped' END AS cohort"
            " FROM {annot} a LEFT JOIN"
            f" (SELECT {idq}, TRUE AS __qa_exact FROM {{kept}}) k"
            f" ON a.{idq} = k.{idq}"
            f" LEFT JOIN {{drops}} d ON k.{idq} = d.{idq}",
        ).localCheckpoint()
        qa["profile"] = profile_columns(
            labeled.select("cohort", id_col, "quality", "text_len"),
            group_by="cohort",
        )
        # fixed [0,1] bounds: ONE pass each, and bin edges line up
        # across cohorts/runs (quality_score is bounded in [0,1])
        for c in ("kept", "dropped"):
            qa[f"quality_hist_{c}"] = numeric_histogram(
                labeled.filter(F.col("cohort") == c),
                "quality", bins=20, lo=0.0, hi=1.0,
            )
        # Stage counts: ONE aggregate over the QA base counts every
        # stage it labels — count(1) is `input`, count(CASE WHEN cond)
        # counts exactly the filter's TRUE rows (`quality_lang`), the
        # exact flag counts `exact_dedup`, and the 'kept' cohort counts
        # both `near_dup_decontam` and `final` (train_test_split never
        # changes the row count).  The optional repetition stage keeps
        # its own single-count pass over its frame.
        kept_sql = "count(CASE WHEN cohort = 'kept' THEN 1 END)"
        counts = {
            "input": "count(1)",
            "quality_lang": f"count(CASE WHEN {_lit(cond_sql)} THEN 1 END)",
            "exact_dedup": "count(CASE WHEN __qa_exact THEN 1 END)",
            "near_dup_decontam": kept_sql,
            "final": kept_sql,
        }
        aggs = ", ".join(f"{e} AS __n_{name}" for name, e in counts.items())
        stages = [
            "input", "quality_lang", "repetition", "exact_dedup",
            "near_dup_decontam", "final",
        ]
        if repetition is None:
            stages.remove("repetition")
        structs = ", ".join(
            f"named_struct('stage_idx', {i}, 'stage', '{name}',"
            f" 'rows', __n_{name})"
            for i, name in enumerate(stages)
            if name in counts
        )
        frames = {"labeled": labeled}
        parts = [
            "SELECT s.stage_idx, s.stage, s.rows FROM"
            f" (SELECT explode(array({structs})) AS s FROM"
            f" (SELECT {aggs} FROM {{labeled}}))"
        ]
        if repetition is not None:
            frames["rep"] = repetition
            parts.append(
                f"SELECT {stages.index('repetition')} AS stage_idx,"
                " 'repetition' AS stage, count(1) AS rows FROM {rep}"
            )
        qa["stage_counts"] = sql_over(frames, " UNION ALL ".join(parts))
    return out
