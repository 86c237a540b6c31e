"""Benchmark decontamination: flag training documents that share a
word n-gram with an evaluation/benchmark set.

The standard LLM-training hygiene pass (reference behavior: the n-gram
overlap rule used by public training-data pipelines — e.g. GPT-3
appendix C / Dolma's decontamination step): any training document
containing a word n-gram that also occurs in a benchmark document is
contaminated and must be dropped (or flagged) before training.

100-TB shape
------------
The corpus side is huge, the benchmark side is small (eval suites are
thousands of documents, not billions). So:

1. benchmark grams: distinct word n-grams of the benchmark set —
   a small (hash, gram) table, **broadcast** to every executor;
2. corpus pass: one scan of the corpus, exploding each document's
   distinct grams to 8-byte ``xxhash64`` keys only (the gram STRINGS
   never ride the corpus-side exchange) and broadcast-joining against
   the benchmark hashes — no corpus shuffle at all;
3. exact verify: hash hits are re-checked by string equality before a
   document is called contaminated. The candidate set (docs with at
   least one hash hit) is tiny, so re-deriving its gram strings is a
   second scan of a few rows, and 64-bit collisions cannot produce
   false positives. The output is therefore EXACT — the SQL oracle is
   plain n-gram set intersection.

Same two-phase candidates->verify discipline as ``minhash_lsh_pairs``
(dedup.py); gram construction reuses ``dedup.ngrams``'s zip_with
formulation (the transform+slice form is O(words^2) per doc — measured
7x slower, see its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grokspark import plan_policy
from grokspark.operators.dedup import ngrams

__all__ = ["benchmark_grams", "decontaminate", "decontaminate_corpus"]


def benchmark_grams(
    bench_df: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Distinct word n-grams of the benchmark set: ``(gram, h)`` with
    ``h = xxhash64(gram)``. Small by construction — the broadcast side
    of every decontamination join."""
    return (
        bench_df.select(F.explode(ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
        .withColumn("h", F.xxhash64("gram"))
    )


def decontaminate(
    train_df: DataFrame,
    bench_df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document contamination hits: ``(doc_id, n_hits)`` for every
    training document sharing >= 1 word n-gram with the benchmark set,
    ``n_hits`` = number of DISTINCT shared grams. Exact (hash
    candidates, string-verified). The benchmark grams are counted once
    and broadcast to both joins while within ``BROADCAST_MAX_KEYS``."""
    bench = benchmark_grams(bench_df, n, text_col)
    n_bench, max_keys = bench.count(), plan_policy.BROADCAST_MAX_KEYS
    bench_h = plan_policy.broadcast(bench.select("h"), n_bench, max_keys)
    bench_g = plan_policy.broadcast(bench.select("gram"), n_bench, max_keys)

    # both corpus passes are scan-fused ngram explodes — spread the
    # single-split local scan across the pool first (no-op on a
    # cluster); the explode + zip_with shingle chain was running
    # single-core at sf1.0 (one parquet row group)
    train_wide = plan_policy.spread(train_df)

    # corpus pass: 8-byte hashes only through the explode
    train_hashes = train_wide.select(
        F.col(id_col),
        F.explode(ngrams(F.col(text_col), n)).alias("gram"),
    ).select(id_col, F.xxhash64("gram").alias("h"))
    candidate_ids = (
        train_hashes.join(bench_h, "h", "left_semi")
        .select(id_col)
        .distinct()
    )

    # verify pass: gram strings, but only for candidate documents
    candidate_docs = train_wide.join(candidate_ids, id_col, "left_semi")
    cand_grams = candidate_docs.select(
        F.col(id_col), F.explode(ngrams(F.col(text_col), n)).alias("gram")
    )
    return (
        cand_grams.join(bench_g, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate_corpus(
    train_df: DataFrame,
    bench_df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination decision table: every training row plus
    ``(n_hits, keep)`` — ``keep`` is true iff the document shares no
    word n-gram with the benchmark set."""
    hits = decontaminate(train_df, bench_df, n, text_col, id_col)
    return (
        train_df.join(hits, id_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
        .withColumn("keep", F.col("n_hits") == 0)
    )
