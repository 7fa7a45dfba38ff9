"""Large-scale data-pipeline operators (beyond the reference surface).

The reference (runreveal/pql) stops at the query language; these are the
operations a 100 TB training-data pipeline needs on top: deduplication,
similarity search, temporal joins, text analysis, deterministic
sampling, sketches, and multimodal column plumbing.

Execution policy: operators are JVM-side ``pyspark.sql.functions``
expressions (whole-stage codegen, no Python) wherever Catalyst expresses
the computation efficiently; dense arithmetic that would run as
interpreted higher-order-function lambdas (minhash permutations, cosine
matrices, kNN cells) instead runs in Arrow-batched numpy kernels via
``mapInPandas``/``applyInPandas`` — vectorized batches, never
row-at-a-time Python.  md5 is the hash everywhere a SQL oracle must
reproduce results bit-for-bit across engines.
"""

from .dedup import (
    contamination_report,
    decontaminate,
    dedup_exact,
    dedup_incremental,
    embedding_dup_pairs,
    kmv_distinct,
    minhash_dup_pairs,
    near_dup_incremental,
    minhash_signature,
    ngram_jaccard_pairs,
    semantic_dedup,
    semantic_dedup_pairs,
    simhash,
    simhash_dedup,
)
from .profiling import numeric_histogram, profile_columns
from .sampling import (
    deterministic_shuffle,
    hash_sample,
    hashed_gram_counts,
    importance_weights,
    mix_corpora,
    temperature_mix,
    pack_sequences,
    stratified_hash_sample,
    train_test_split,
    unimax_plan,
    unimax_sample,
    weighted_sample,
)
from .similarity import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
    lsh_bucket_topk,
    pairwise_topk,
    pairwise_topk_skew,
    quantize_embeddings,
    quantized_topk,
    train_centroids,
)
from .bpe import bpe_apply, bpe_encode_word, bpe_train
from .temporal import asof_join, range_join
from .text import (
    bm25_score,
    chunk_documents,
    cross_doc_dup_spans,
    dedup_lines,
    dedup_lines_corpus,
    doc_fingerprint,
    language_id,
    quality_score,
    redact_pii,
    scrub_cross_doc_dups,
    repetition_stats,
    shingle_rows,
    token_stats,
    tokens,
    unigram_lm_fit,
    unigram_lm_score,
    winnow_fingerprints,
    word_grams,
    word_shingles,
)

__all__ = [
    "asof_join",
    "bm25_score",
    "bpe_apply",
    "bpe_encode_word",
    "bpe_train",
    "chunk_documents",
    "cross_doc_dup_spans",
    "dedup_lines",
    "dedup_lines_corpus",
    "cosine_topk",
    "contamination_report",
    "decontaminate",
    "dedup_exact",
    "dedup_incremental",
    "deterministic_shuffle",
    "doc_fingerprint",
    "embedding_dup_pairs",
    "hash_sample",
    "ivf_assign",
    "ivf_topk",
    "kmv_distinct",
    "language_id",
    "lsh_bucket_topk",
    "minhash_dup_pairs",
    "near_dup_incremental",
    "minhash_signature",
    "ngram_jaccard_pairs",
    "hashed_gram_counts",
    "importance_weights",
    "mix_corpora",
    "numeric_histogram",
    "profile_columns",
    "temperature_mix",
    "pack_sequences",
    "pairwise_topk",
    "pairwise_topk_skew",
    "quality_score",
    "quantize_embeddings",
    "quantized_topk",
    "range_join",
    "redact_pii",
    "scrub_cross_doc_dups",
    "repetition_stats",
    "shingle_rows",
    "semantic_dedup",
    "semantic_dedup_pairs",
    "simhash",
    "simhash_dedup",
    "stratified_hash_sample",
    "token_stats",
    "train_centroids",
    "train_test_split",
    "tokens",
    "unigram_lm_fit",
    "weighted_sample",
    "unigram_lm_score",
    "unimax_plan",
    "unimax_sample",
    "winnow_fingerprints",
    "word_grams",
    "word_shingles",
]
