"""CCNet/KenLM-style n-gram language-model quality scoring.

The classic LLM-pipeline quality filter (Wenzek et al., "CCNet", 2020)
scores each document by the perplexity of a small n-gram LM and drops
the tail.  This module trains an add-one-smoothed bigram LM over a
corpus with plain distributed aggregates and scores documents with a
join — no Python in the data path.

Tokenization convention: lowercased whitespace words,
``array_remove(split(lower(text), '\\s+'), '')`` — no empty word, so a
blank text has none. Java and RE2 ``\\s`` are both ASCII (the Python
twin must compile with ``re.ASCII``; see ADVICE r4). The DuckDB
oracles' ``string_split_regex(lower(trim(text)), '\\s+')`` gives the
same words for every text that neither is blank nor starts or ends
with a non-space whitespace character (every gate corpus).

100-TB design:
- Training is ONE corpus-scale aggregate per table (unigrams, bigrams)
  with map-side partial aggregation; the distinct-bigram tail is
  Heaps-bounded, and both tables take an explicit deterministic
  ``max_vocab`` / ``max_bigrams`` top-K cap (count desc, key asc —
  exact-integer decisions, same cap discipline as
  ``bpe.train_bpe(max_words=...)``) so the model stays broadcastable.
  Pruned/unseen keys fall back to count 0, which the add-one smoothing
  already prices — the standard pruned-backoff trade, documented
  rather than hidden.
- Scoring is explode -> two joins -> one groupBy(doc_id): the model
  tables broadcast while Spark's threshold admits them (no hint), so
  a model that outgrows it runs the same plan as a shuffle join.
- Bigrams are built with the (n-1)-deep ``zip_with`` fold over shifted
  slices (see ``dedup.ngrams`` for the measured 7x vs the
  transform+slice form).

Cross-engine exactness: ``(c12 + 1) / (c1 + V)`` is a SINGLE division
of exact integers (bit-equal in Spark and DuckDB); ``ln``/``exp`` are
<= 1 ulp in both engines, so gate queries compare the cross-entropy
quantized to integer micro-nats (noise ~1e-12, boundary 5e-7) and keep
raw doubles out of the hash.  The ``familiarity`` score needs no
transcendentals at all: mean corpus frequency of the document's
bigrams, one division of two BIGINTs.

Reference scope note: the Rust reference (mmastrac/grok) has no LM
layer; this operator belongs to the training-data-pipeline surface
(SURVEY.md section 2.4).
"""

from __future__ import annotations

import math
import re
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grokspark.plan_policy import SPREAD_MIN_BYTES, spread

__all__ = [
    "lm_words",
    "bigrams_col",
    "train_bigram_lm",
    "perplexity_scores",
    "familiarity_scores",
    "lm_filter",
    "train_bigram_lm_py",
    "perplexity_scores_py",
]


def lm_words(text: Column) -> Column:
    """Lowercased whitespace tokens (ASCII ``\\s``, both engines); a
    text with no word gives an empty array."""
    return F.array_remove(F.split(F.lower(text), r"\s+"), "")


def bigrams_col(w: Column) -> Column:
    """Adjacent word pairs as an array of ``struct(w1, w2)`` — empty
    for documents with fewer than two words.  ``zip_with`` over two
    shifted slices: one pass, no per-index slice blowup."""
    m = F.size(w) - 1
    return F.when(
        m >= 1,
        F.zip_with(
            F.slice(w, 1, m),
            F.slice(w, 2, m),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def _top_k(df: DataFrame, k: Optional[int], key_cols: list) -> DataFrame:
    """Deterministic top-K by (cnt desc, key asc) — exact-integer
    decisions, so the capped model is a pure function of the corpus.
    ``orderBy(...).limit(k)`` executes as TakeOrdered: per-partition
    partial top-K merged on the driver — no single-task global sort."""
    if not k:
        return df
    order = [F.col("cnt").desc()] + [F.col(c).asc() for c in key_cols]
    return df.orderBy(*order).limit(k)


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    max_vocab: Optional[int] = None,
    max_bigrams: Optional[int] = None,
) -> tuple[DataFrame, DataFrame]:
    """Count-train the LM: returns ``(unigrams(w1, cnt),
    bigrams(w1, w2, cnt))``.  One wide aggregate each; the optional
    caps keep the tables broadcastable at corpus scale (the top-K
    window is over the ALREADY-AGGREGATED Heaps-bounded key table, not
    the corpus).

    The tokenized words table is localCheckpointed (the repo's
    eager-heavy-op convention) so the corpus is scanned and split ONCE
    — both count aggregates read the materialization instead of
    re-running the scan+split each (measured: the double pass was most
    of the sf1.0 train cost)."""
    w = lm_words(F.col(text_col))
    # spread a single-split local scan so both count aggregates run at
    # full width (no-op on a cluster where scan splits >> cores)
    base = (
        spread(df.filter(F.col(text_col).isNotNull()), SPREAD_MIN_BYTES)
        .select(w.alias("_w"))
        .localCheckpoint()
    )
    uni = (
        base.select(F.explode("_w").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bi = (
        base.select(F.explode(bigrams_col(F.col("_w"))).alias("_g"))
        .select(F.col("_g.w1").alias("w1"), F.col("_g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _top_k(uni, max_vocab, ["w1"]), _top_k(bi, max_bigrams, ["w1", "w2"])


def perplexity_scores(
    df: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: Optional[int] = None,
) -> DataFrame:
    """Per-document add-one-smoothed bigram cross-entropy/perplexity:
    ``P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)`` with ``V = |vocab| +
    1`` (the unseen class).  Output: ``(id, n_bigrams, ce_micro, ppl)``
    where ``ce_micro`` is the cross-entropy in integer micro-nats (the
    hash-stable comparison point) and ``ppl = exp(ce)`` the
    conventional reading.  Documents with < 2 words carry no bigram
    evidence and are excluded (a quality pipeline routes them by
    length first — see ``quality_scores``).  Pass ``vocab_size``
    (= ``unigrams.count()``) to skip the counting job when the caller
    already materialized the model."""
    v = (vocab_size if vocab_size is not None else unigrams.count()) + 1
    toks = (
        spread(df.filter(F.col(text_col).isNotNull()), SPREAD_MIN_BYTES)
        .select(F.col(id_col).alias("id"), lm_words(F.col(text_col)).alias("_w"))
        .filter(F.size("_w") >= 2)
        .select("id", F.explode(bigrams_col(F.col("_w"))).alias("_g"))
        .select("id", F.col("_g.w1").alias("w1"), F.col("_g.w2").alias("w2"))
    )
    scored = (
        toks.join(bigrams.withColumnRenamed("cnt", "_c12"), ["w1", "w2"], "left")
        .join(unigrams.select("w1", F.col("cnt").alias("_c1")), "w1", "left")
        .select(
            "id",
            (
                F.log(
                    (F.coalesce(F.col("_c12"), F.lit(0)) + F.lit(1)).cast("double")
                    / (F.coalesce(F.col("_c1"), F.lit(0)) + F.lit(v)).cast("double")
                )
            ).alias("_lp"),
        )
    )
    ce = -F.sum("_lp") / F.count(F.lit(1)).cast("double")
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(ce * F.lit(1000000.0)).cast("bigint").alias("ce_micro"),
            F.exp(ce).alias("ppl"),
        )
        .withColumnRenamed("id", id_col)
    )


def familiarity_scores(
    df: DataFrame,
    bigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Transcendental-free LM signal: mean corpus frequency of the
    document's bigram instances — ``sum(c(w1 w2)) / n_bigrams`` as ONE
    division of two BIGINTs (bit-equal across engines).  Low
    familiarity = rare word sequences, the same tail a perplexity
    filter trims; exact at any scale without FP-parity caveats."""
    toks = (
        spread(df.filter(F.col(text_col).isNotNull()), SPREAD_MIN_BYTES)
        .select(F.col(id_col).alias("id"), lm_words(F.col(text_col)).alias("_w"))
        .filter(F.size("_w") >= 2)
        .select("id", F.explode(bigrams_col(F.col("_w"))).alias("_g"))
        .select("id", F.col("_g.w1").alias("w1"), F.col("_g.w2").alias("w2"))
    )
    joined = toks.join(bigrams.withColumnRenamed("cnt", "_c12"), ["w1", "w2"], "left")
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("_c12"), F.lit(0))).cast("bigint").alias("sum_cnt"),
        )
        .withColumn(
            "mean_cnt",
            F.col("sum_cnt").cast("double") / F.col("n_bigrams").cast("double"),
        )
        .withColumnRenamed("id", id_col)
    )


def lm_filter(
    df: DataFrame,
    scores: DataFrame,
    max_ce_micro: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents at or below a cross-entropy cap (integer
    comparison on ``ce_micro`` — no float thresholds in the decision).
    Documents without a score row (under 2 words) are dropped, like
    CCNet's length prefilter."""
    keep = scores.filter(F.col("ce_micro") <= max_ce_micro).select(id_col)
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Pure-Python twin (parity tests + VALUES oracles).  re.ASCII: Java \s
# is ASCII; Python's default \s is not (ADVICE r4).
# ---------------------------------------------------------------------------

_WS_ASCII = re.compile(r"\s+", re.ASCII)


def _words_py(text: str) -> list[str]:
    return [w for w in _WS_ASCII.split(text.lower()) if w]


def train_bigram_lm_py(
    texts: list[str],
    max_vocab: Optional[int] = None,
    max_bigrams: Optional[int] = None,
) -> tuple[dict, dict]:
    uni: dict = {}
    bi: dict = {}
    for t in texts:
        if t is None:
            continue
        ws = _words_py(t)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1

    def cap(d: dict, k: Optional[int]) -> dict:
        if not k:
            return d
        kept = sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return dict(kept)

    return cap(uni, max_vocab), cap(bi, max_bigrams)


def perplexity_scores_py(
    rows: list[tuple], uni: dict, bi: dict
) -> list[tuple]:
    """``(id, n_bigrams, ce_micro, ppl)`` rows for every (id, text)
    with >= 2 words — the same IEEE ops as the Spark plan."""
    v = len(uni) + 1
    out = []
    for doc_id, text in rows:
        if text is None:
            continue
        ws = _words_py(text)
        if len(ws) < 2:
            continue
        s = 0.0
        n = 0
        for a, b in zip(ws, ws[1:]):
            c12 = bi.get((a, b), 0)
            c1 = uni.get(a, 0)
            s += math.log(float(c12 + 1) / float(c1 + v))
            n += 1
        ce = -s / float(n)
        # ce > 0 always (every smoothed P < 1), so floor(x + 0.5)
        # equals Spark's HALF_UP round (Python's round() is banker's)
        out.append((doc_id, n, math.floor(ce * 1000000.0 + 0.5), math.exp(ce)))
    return out
