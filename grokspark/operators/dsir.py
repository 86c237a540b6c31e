"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
distribution looks like a small target corpus.

Method (faithful to the paper's hashed n-gram variant):
- features: unigrams + space-joined bigrams of the lowercased
  whitespace tokens (``ngram_lm.lm_words`` — ASCII ``\\s``, both
  engines), hashed into ``n_buckets`` buckets;
- fit: bucket-count distributions for the target and raw corpora with
  add-one smoothing over the bucket space;
- weight per document: sum over its grams of
  ``ln p_target(bucket) - ln p_raw(bucket)`` (the log importance
  ratio of the product-of-buckets model);
- select: top-k by weight (deterministic variant; the paper's
  Gumbel-resampling adds seeded noise before the top-k — see
  ``gumbel_micro_col``).

Exactness design: the per-bucket log ratio is quantized ONCE to
integer micro-nats in the (small, broadcast) ratio table, so each
document's weight is an exact INTEGER sum — immune to sum-order ulps,
unlike quantize-after-sum designs (ngram_lm's ce_micro). The bucket
hash is the repo's cross-engine salted 48-bit md5 prefix
(sampling.py), so a SQL oracle can recompute the entire rule.

100-TB shape: two corpus-scale aggregates (bucket counts — the target
side is small by definition), one <= n_buckets-row table broadcast to
a single explode -> join -> per-doc partial-aggregated sum. The raw
corpus shuffles ~1 row per (doc x partition), not per gram; nothing
quadratic anywhere. n_buckets bounds model state (the paper uses 10k).
"""

from __future__ import annotations

import hashlib
import math
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from grokspark.operators.ngram_lm import _words_py, lm_words
from grokspark.operators.sampling import _salted_hash
from grokspark.plan_policy import spread

__all__ = [
    "dsir_gram_col",
    "dsir_bucket_col",
    "dsir_bucket_counts",
    "dsir_log_ratio_table",
    "dsir_weights",
    "dsir_select",
    "dsir_resample",
    "gumbel_micro_col",
    "dsir_weights_py",
    "gumbel_micro_py",
]

DSIR_SALT = "dsir"


def dsir_gram_col(text: Column) -> Column:
    """Unigrams + space-joined bigrams as one string array (empty-ish
    degenerate docs follow lm_words semantics so both engines agree)."""
    w = lm_words(text)
    m = F.size(w) - 1
    bi = F.when(
        m >= 1,
        F.zip_with(
            F.slice(w, 1, m),
            F.slice(w, 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(w, bi)


def dsir_bucket_col(gram: Column, n_buckets: int) -> Column:
    """Cross-engine bucket id: ``sampling._salted_hash`` mod n_buckets
    (DuckDB recomputes it bit-for-bit)."""
    return _salted_hash(gram, DSIR_SALT) % n_buckets


def dsir_bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int
) -> DataFrame:
    """``(bucket, cnt)`` gram-bucket histogram of a corpus — one
    explode + one hash-aggregate (map-side combined). The input is
    spread across the core pool first: a small local corpus is one
    parquet split and the explode+md5 projection would otherwise run
    single-core (measured 8.5 s of the 34 s sf1.0 build; no-op on a
    cluster where scan splits >> cores)."""
    grams = spread(df.where(F.col(text_col).isNotNull())).select(
        F.explode(dsir_gram_col(F.col(text_col))).alias("gram")
    )
    return (
        grams.select(dsir_bucket_col(F.col("gram"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_ratio_table(
    spark: SparkSession,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int,
) -> DataFrame:
    """Full ``(bucket, lr_micro)`` table over ALL n_buckets buckets
    (so absent buckets need no special-case constant): ``lr_micro =
    round(1e6 * (ln((ct+1)/(Nt+B)) - ln((cr+1)/(Nr+B))))`` as BIGINT.
    The quantization happens HERE, once per bucket, so downstream
    per-doc weights are exact integer sums. Totals are two tiny
    aggregates over the <=B-row count tables (model fitting, like the
    BPE trainer's word table)."""
    n_t = target_counts.agg(F.sum("cnt")).head()[0] or 0
    n_r = raw_counts.agg(F.sum("cnt")).head()[0] or 0
    buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    tc = target_counts.withColumnRenamed("cnt", "ct")
    rc = raw_counts.withColumnRenamed("cnt", "cr")
    joined = buckets.join(tc, "bucket", "left").join(rc, "bucket", "left")
    ct = F.coalesce(F.col("ct"), F.lit(0)).cast("double")
    cr = F.coalesce(F.col("cr"), F.lit(0)).cast("double")
    lr = F.log((ct + 1.0) / F.lit(float(n_t + n_buckets))) - F.log(
        (cr + 1.0) / F.lit(float(n_r + n_buckets))
    )
    return joined.select(
        "bucket",
        F.round(lr * F.lit(1000000.0)).cast("bigint").alias("lr_micro"),
    )


def dsir_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    ratio: Optional[DataFrame] = None,
) -> DataFrame:
    """``(id_col, n_grams, weight_micro)`` for every raw document with
    non-NULL text: the exact-integer sum of broadcast per-bucket
    log-ratio micro-nats over the doc's grams."""
    spark = raw_df.sparkSession
    grams = spread(raw_df.where(F.col(text_col).isNotNull())).select(
        F.col(id_col),
        F.explode(dsir_gram_col(F.col(text_col))).alias("gram"),
    )
    bucketed = grams.select(
        id_col, dsir_bucket_col(F.col("gram"), n_buckets).alias("bucket")
    )
    if ratio is None:
        # One raw-corpus gram pass, not three: the salted-md5 bucket
        # projection is the dominant map cost (ADVICE r5 — the lazy
        # raw_counts plan re-ran the full explode+aggregate for the
        # n_r total AND again for the ratio join, and the weights
        # explode was a third pass). Materialize the narrow
        # (id, bucket) table once; the histogram, its total and the
        # per-doc weight sum all read from it. The tiny aggregates
        # (<= n_buckets rows) are checkpointed too so totals and the
        # ratio join share one materialization.
        bucketed = bucketed.localCheckpoint()
        raw_counts = (
            bucketed.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint()
        )
        target_counts = dsir_bucket_counts(
            target_df, text_col, n_buckets
        ).localCheckpoint()
        ratio = dsir_log_ratio_table(
            spark, target_counts, raw_counts, n_buckets
        )
    return (
        bucketed.join(ratio, "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr_micro").alias("weight_micro"),
        )
    )


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Deterministic top-k DSIR selection: highest weight first, id
    tie-break (TakeOrderedAndProject — no global sort materialized)."""
    w = dsir_weights(raw_df, target_df, text_col, id_col, n_buckets)
    return w.orderBy(
        F.col("weight_micro").desc(), F.col(id_col).asc()
    ).limit(k)


GUMBEL_SALT = "gumbel"


def gumbel_micro_col(id_col: str, salt: str = GUMBEL_SALT) -> Column:
    """Deterministic per-row Gumbel(0,1) noise in integer micro-nats:
    ``u = (md5_48(salt:id) + 0.5) / 2^48`` (never 0 or 1), ``g =
    -ln(-ln(u))``, quantized like the log ratios so selection keys
    stay exact integers. Rounding margins on the gate corpus:
    2.1e-5 micro-units vs ~1e-8 double-ln noise (measured)."""
    u = (_salted_hash(F.col(id_col), salt).cast("double") + F.lit(0.5)) / F.lit(
        float(1 << 48)
    )
    return F.round(-F.log(-F.log(u)) * F.lit(1000000.0)).cast("bigint")


def dsir_resample(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """The paper's actual selection rule — importance RESAMPLING
    without replacement via Gumbel-top-k: key = log-weight + Gumbel
    noise, take the k largest. Both terms are integer micro-nats, so
    the key is an exact integer and the ranking is engine-independent
    (id tie-break). Same cost shape as dsir_select plus one hash
    column."""
    w = dsir_weights(raw_df, target_df, text_col, id_col, n_buckets)
    keyed = w.withColumn(
        "key_micro", F.col("weight_micro") + gumbel_micro_col(id_col)
    )
    return keyed.orderBy(
        F.col("key_micro").desc(), F.col(id_col).asc()
    ).limit(k)


# --- single-process twin (tests / margin audits) ---------------------


def _grams_py(text: str) -> list[str]:
    w = _words_py(text)
    return w + [w[i] + " " + w[i + 1] for i in range(len(w) - 1)]


def _bucket_py(gram: str, n_buckets: int) -> int:
    h = hashlib.md5((DSIR_SALT + ":" + gram).encode("utf-8")).hexdigest()
    return int(h[:12], 16) % n_buckets



def _round_half_up(x: float) -> int:
    """HALF_UP (away from zero) — Spark F.round and DuckDB round()
    semantics; Python round() is half-to-even, which could diverge on
    an exact-.5 micro-nat tie (ADVICE r5 — the twins are the
    margin-audit tool, so the tie rule must match the engines)."""
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

def gumbel_micro_py(doc_id, salt: str = GUMBEL_SALT) -> int:
    h = int(
        hashlib.md5((salt + ":" + str(doc_id)).encode("utf-8")).hexdigest()[:12],
        16,
    )
    u = (h + 0.5) / float(1 << 48)
    return _round_half_up(-math.log(-math.log(u)) * 1e6)


def dsir_weights_py(
    raw_rows: list[tuple], target_rows: list[tuple], n_buckets: int = 4096
) -> dict:
    """Pure-Python twin of the whole rule over ``(id, text)`` rows.
    Returns ``{id: (n_grams, weight_micro)}``; also used to audit the
    per-bucket rounding margins (the one place a libm-vs-JVM ln ulp
    could flip a value)."""
    tc: dict[int, int] = {}
    rc: dict[int, int] = {}
    for _, text in target_rows:
        if text is None:
            continue
        for g in _grams_py(text):
            b = _bucket_py(g, n_buckets)
            tc[b] = tc.get(b, 0) + 1
    for _, text in raw_rows:
        if text is None:
            continue
        for g in _grams_py(text):
            b = _bucket_py(g, n_buckets)
            rc[b] = rc.get(b, 0) + 1
    n_t, n_r = sum(tc.values()), sum(rc.values())
    lr_micro = {
        b: _round_half_up(
            1e6
            * (
                math.log((tc.get(b, 0) + 1.0) / (n_t + n_buckets))
                - math.log((rc.get(b, 0) + 1.0) / (n_r + n_buckets))
            )
        )
        for b in range(n_buckets)
    }
    out: dict = {}
    for doc_id, text in raw_rows:
        if text is None:
            continue
        bs = [_bucket_py(g, n_buckets) for g in _grams_py(text)]
        out[doc_id] = (len(bs), sum(lr_micro[b] for b in bs))
    return out
