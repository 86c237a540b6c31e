"""Training-data-pipeline operators over document/embedding tables.

Hot paths are built-in ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage-codegen'd) wherever expressions express the semantics
cheaply. Python appears only as vectorized Arrow-batched numpy kernels
where expressions can't compete, each with its measured rationale in
its docstring: SimHash bit votes (no SQL shape), winnowing (interpreted
HOF lambdas make the expression form cubic), high-dim LSH bucketing
(plan-literal bloat past ~4k floats), and the multimodal codecs
(decode/resize/frame-sample; non-PNG image codecs remain explicit
fakes/NotImplementedError).
"""

from grokspark.operators.asof import asof_join
from grokspark.operators.bpe import (
    apply_bpe,
    apply_bpe_ids,
    bpe_vocab,
    train_bpe,
)
from grokspark.operators.corpus import prepare_corpus
from grokspark.operators.dedup import (
    dedup_corpus,
    duplicate_clusters,
    embedding_cosine_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_lsh_pairs_vs,
    semdedup,
    semdedup_lsh,
    simhash_near_dup_pairs,
    simhash_signatures,
)
from grokspark.operators.dsir import (
    dsir_resample,
    dsir_select,
    dsir_weights,
)
from grokspark.operators.ivf import (
    build_ivf_index,
    ivf_topk,
    seeded_centroids,
    train_ivf_centroids,
)
from grokspark.operators.packing import pack_sequences
from grokspark.operators.sampling import (
    hash_sample,
    hash_split,
    mixture_sample,
    reservoir_sample,
    target_mixture_fractions,
)
from grokspark.operators.clean import c4_clean
from grokspark.operators.retrieval import bm25_postings, bm25_topk
from grokspark.operators.sketches import (
    exact_quantiles,
    heavy_hitter_tokens,
    heavy_hitters,
    kmv_distinct,
)
from grokspark.operators.similarity import (
    ann_brute_force_topk,
    build_lsh_index,
    embedding_lsh_pairs,
    knn_join,
    knn_join_blocked,
    lsh_index_topk,
)
from grokspark.operators.decontam import (
    benchmark_grams,
    decontaminate,
    decontaminate_corpus,
)
from grokspark.operators.ngram_lm import (
    familiarity_scores,
    lm_filter,
    perplexity_scores,
    train_bigram_lm,
)
from grokspark.operators.spandedup import (
    duplicate_spans,
    remove_spans,
    span_dedup,
)
from grokspark.operators.textops import (
    fingerprint,
    lang_id,
    quality_scores,
    redact_pii,
    repetition_scores,
    token_count,
    winnow_fingerprints,
    winnow_pairs,
)

__all__ = [
    "dedup_corpus",
    "duplicate_clusters",
    "exact_dedup",
    "knn_join",
    "knn_join_blocked",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_vs",
    "dsir_resample",
    "dsir_select",
    "dsir_weights",
    "semdedup",
    "semdedup_lsh",
    "simhash_near_dup_pairs",
    "simhash_signatures",
    "embedding_cosine_pairs",
    "embedding_lsh_pairs",
    "ann_brute_force_topk",
    "build_lsh_index",
    "lsh_index_topk",
    "build_ivf_index",
    "ivf_topk",
    "seeded_centroids",
    "train_ivf_centroids",
    "token_count",
    "quality_scores",
    "lang_id",
    "fingerprint",
    "repetition_scores",
    "redact_pii",
    "train_bigram_lm",
    "perplexity_scores",
    "familiarity_scores",
    "lm_filter",
    "duplicate_spans",
    "remove_spans",
    "span_dedup",
    "benchmark_grams",
    "decontaminate",
    "decontaminate_corpus",
    "winnow_fingerprints",
    "winnow_pairs",
    "asof_join",
    "c4_clean",
    "bm25_postings",
    "bm25_topk",
    "kmv_distinct",
    "heavy_hitters",
    "heavy_hitter_tokens",
    "exact_quantiles",
    "hash_split",
    "hash_sample",
    "mixture_sample",
    "reservoir_sample",
    "target_mixture_fractions",
    "pack_sequences",
    "train_bpe",
    "apply_bpe",
    "apply_bpe_ids",
    "bpe_vocab",
    "prepare_corpus",
]
