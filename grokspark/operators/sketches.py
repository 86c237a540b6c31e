"""Deterministic distinct-count sketching: K-minimum-values (KMV).

Approximate distinct counts at 10^12 scale normally reach for
HyperLogLog (``F.approx_count_distinct``) — available, but its
estimate is engine-internal and not reproducible in an external
oracle. KMV (Bar-Yossef et al.) gives the same O(k) memory / one-pass
shape with a FULLY DETERMINISTIC estimate both Spark and DuckDB can
compute bit-for-bit from md5: keep the k smallest distinct 48-bit
hash values; if fewer than k distinct hashes exist the count is exact,
else estimate (k-1) / R_k where R_k = kth_min / 2^48. Relative error
~1/sqrt(k-2).

Cross-engine exactness: md5 is identical everywhere; the 48-bit prefix
fits a signed 64-bit int; and the estimate is ONE double division of
two exactly-representable values ((k-1)*2^48 has <= 53 significant
bits for k <= 2^20), so the driver oracle compares it exactly — no
tolerance band.

Scale shape: hash + distinct + global top-k — the distinct's partial
aggregation collapses duplicates map-side, and the k-smallest
selection is a TakeOrdered over k values per partition; nothing wide
shuffles. The sketch is mergeable (union the hash sets, re-take k),
which is what makes it a sketch and not just a sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grokspark import plan_policy

__all__ = [
    "kmv_distinct",
    "KMV_SPACE_BITS",
    "heavy_hitters",
    "heavy_hitter_tokens",
    "exact_quantiles",
]

KMV_SPACE_BITS = 48


def kmv_hash_col(col: str):
    """48-bit uniform hash of a column: first 12 hex chars of md5 of
    the value's string form — reproducible in any engine with md5."""
    return F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 12), 16, 10
    ).cast("long")


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """One-row distinct-count sketch of ``col``:
    ``(n_used, kth_hash, estimate)``.

    - ``n_used`` < k: every distinct hash fit in the sketch — the
      estimate IS the exact distinct count (as a double).
    - ``n_used`` = k: estimate = (k-1) * 2^48 / kth_hash, standard
      KMV, relative error ~1/sqrt(k-2)."""
    if not 2 <= k <= (1 << 20):
        raise ValueError(f"k must be in [2, 2^20], got {k}")

    space = 1 << KMV_SPACE_BITS
    # project the key column FIRST, then spread a single-split local
    # scan so the md5 pass runs at full width (narrow shuffle; no-op
    # on a cluster)
    mins = (
        plan_policy.spread(df.select(F.col(col)), plan_policy.SPREAD_MIN_BYTES)
        .select(kmv_hash_col(col).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    return mins.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.max("h").alias("kth_hash"),
    ).select(
        "n_used",
        "kth_hash",
        F.when(F.col("n_used") < k, F.col("n_used").cast("double"))
        .otherwise(
            F.lit(float((k - 1) * space)) / F.col("kth_hash").cast("double")
        )
        .alias("estimate"),
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters via two-pass Misra-Gries
# ---------------------------------------------------------------------------
#
# At 10^12 tokens the distinct-term table is Heaps-bounded but still
# far too wide for "groupBy(term).count() then filter" to be the plan
# of choice: the full-vocabulary shuffle IS the cost. The classic
# at-scale alternative is two passes over the data with BOUNDED state:
#
#   pass 1  per-partition Misra-Gries summaries (<= k counters each).
#           Any term with global frequency > n/k exceeds n_p/k in at
#           least one partition (pigeonhole), and a MG summary with k
#           counters undercounts by at most n_p/(k+1) < n_p/k — so the
#           UNION of per-partition candidate sets is a guaranteed
#           superset of every phi-heavy term for k >= 1/phi.
#   pass 2  exact counts of the candidates only: broadcast the
#           candidate set (<= P*k terms), semi-join, one narrow
#           groupBy, strict integer threshold count*1e6 > n*phi_ppm.
#
# The output is EXACT (identical to the full groupBy) — the sketch
# bounds state and shuffle width, not accuracy — which is what makes
# it oracle-checkable with plain SQL.


def _mg_kernel(k: int):
    """mapInArrow kernel: per-partition Misra-Gries over a single
    string column. Batch-exact counts (Arrow value_counts) merged into
    the summary, then offset-pruned back to <= k counters (subtract
    the (k+1)-th largest, drop non-positive) — the standard mergeable
    formulation, undercount <= n_p/(k+1). Emits the surviving
    ``(term, cnt)`` lower bounds plus one ``(NULL, n_p)`` total row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = pa.schema([pa.field("term", pa.string()), pa.field("cnt", pa.int64())])

    def kernel(batches):
        counters: dict = {}
        n_p = 0
        for batch in batches:
            col = batch.column(0)
            n_p += len(col) - col.null_count
            vc = pc.value_counts(col)
            for t, c in zip(
                vc.field("values").to_pylist(), vc.field("counts").to_pylist()
            ):
                if t is None:
                    continue
                counters[t] = counters.get(t, 0) + c
            if len(counters) > k:
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {t: c - cut for t, c in counters.items() if c > cut}
        yield pa.record_batch(
            [
                pa.array(list(counters.keys()) + [None], type=pa.string()),
                pa.array(list(counters.values()) + [n_p], type=pa.int64()),
            ],
            schema=schema,
        )

    return kernel


def heavy_hitters(
    tokens: DataFrame,
    key_col: str = "term",
    phi_ppm: int = 10_000,
    k: "int | None" = None,
) -> DataFrame:
    """Exact terms with frequency strictly above ``phi_ppm`` parts-
    per-million of ``tokens`` (one row per occurrence): ``(term,
    cnt)``.  ``k`` (default ``ceil(1e6 / phi_ppm)``) is the per-
    partition counter budget; any ``k >= 1e6/phi_ppm`` preserves the
    superset guarantee, larger k only widens pass 2's candidate set.
    The (tiny) pass-1 summaries are localCheckpointed so the corpus
    scan runs exactly twice, never three times."""
    if not 1 <= phi_ppm < 1_000_000:
        raise ValueError(f"phi_ppm must be in [1, 1e6), got {phi_ppm}")
    if k is None:
        k = -(-1_000_000 // phi_ppm)
    if k * phi_ppm < 1_000_000:
        raise ValueError(f"k={k} breaks the superset guarantee for phi_ppm={phi_ppm}")
    toks = tokens.select(F.col(key_col).alias("term")).filter(
        F.col("term").isNotNull()
    )
    summaries = toks.mapInArrow(
        _mg_kernel(int(k)), "term string, cnt long"
    ).localCheckpoint()
    tot = summaries.agg(
        F.sum(F.when(F.col("term").isNull(), F.col("cnt"))).alias("n"),
        F.countDistinct("term").alias("n_cand"),
    ).collect()[0]
    n_total = tot["n"] or 0
    candidates = plan_policy.broadcast(
        summaries.filter(F.col("term").isNotNull()).select("term").distinct(),
        tot["n_cand"],
        plan_policy.BROADCAST_MAX_KEYS,
    )
    exact = (
        toks.join(candidates, "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # threshold computed as an exact Python int and carried as a LONG
    # literal: int*int lits overflow 2^31 under ANSI at ~65k tokens
    # for phi_ppm=33000 (bit at sf0.1; sf0.01 sat just under the line)
    thr = int(n_total) * int(phi_ppm)
    return exact.filter(
        F.col("cnt") * F.lit(1_000_000).cast("long") > F.lit(thr).cast("long")
    )


def heavy_hitter_tokens(
    df: DataFrame,
    text_col: str = "text",
    phi_ppm: int = 10_000,
    k: "int | None" = None,
) -> DataFrame:
    """Heavy-hitter WORDS of a text corpus (lowercased ASCII-whitespace
    tokens, the shared ``lm_words`` convention): ``(term, cnt)``."""
    from grokspark.operators.ngram_lm import lm_words

    # spread a single-split local scan: both Misra-Gries passes explode
    # from this plan, and one partition means one Arrow worker in pass
    # 1 (no-op on a cluster)
    toks = (
        plan_policy.spread(
            df.filter(F.col(text_col).isNotNull()), plan_policy.SPREAD_MIN_BYTES
        )
        .select(F.explode(lm_words(F.col(text_col))).alias("term"))
    )
    return heavy_hitters(toks, "term", phi_ppm=phi_ppm, k=k)


# ---------------------------------------------------------------------------
# Exact quantiles via value histogram
# ---------------------------------------------------------------------------


def exact_quantiles(
    df: DataFrame,
    col: str,
    q_ppms: "tuple[int, ...]" = (250_000, 500_000, 750_000, 900_000, 990_000),
) -> DataFrame:
    """EXACT discrete quantiles of an integer-valued column:
    ``(q_ppm, value)`` where ``value`` is the smallest v whose
    cumulative count reaches ``ceil(q * n)`` (percentile_disc
    semantics, expressed integer-only as ``run * 1e6 >= q_ppm * n``).

    100-TB shape: a full sort (or row-wide window) over 10^12 rows is
    the wrong plan for order statistics on BOUNDED-DOMAIN metrics (doc
    lengths, ppm-quantized scores, token counts) — instead groupBy the
    VALUE (shuffle width = distinct values, not rows; partial aggs
    collapse map-side), then a cumulative sum over the sorted
    histogram.  The histogram window is single-partition by design and
    bounded by the domain size, NOT the row count — use this only for
    columns with a bounded distinct-value set; for unbounded doubles
    quantize to ppm first.  NULLs are excluded.  Fully lazy: no
    driver-side collect.

    Cross-engine exactness: counts and thresholds are integers; the
    oracle mirrors the same run/threshold inequality, so results are
    bit-identical (no interpolation).
    """
    if not q_ppms or not all(1 <= q <= 1_000_000 for q in q_ppms):
        raise ValueError(f"q_ppms must be in [1, 1e6], got {q_ppms!r}")
    from pyspark.sql import Window

    h = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_run = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    r = h.select(
        "v",
        F.sum("c").over(w_run).alias("run"),
        F.sum("c").over(w_all).alias("n"),
    )
    picks = r.agg(
        *[
            F.min(
                F.when(
                    F.col("run") * F.lit(1_000_000).cast("long")
                    >= F.lit(int(qp)).cast("long") * F.col("n"),
                    F.col("v"),
                )
            ).alias(f"_q{qp}")
            for qp in q_ppms
        ]
    )
    return picks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(qp)).cast("long").alias("q_ppm"),
                        F.col(f"_q{qp}").alias("value"),
                    )
                    for qp in q_ppms
                ]
            )
        ).alias("s")
    ).select("s.q_ppm", "s.value")
