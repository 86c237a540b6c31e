"""BM25 full-text retrieval over the corpus (Robertson/Okapi, the
Lucene ``k1``/``b`` variant).

Retrieval is pipeline infrastructure, not just search: it drives
contamination auditing (which training docs answer this benchmark
question?), targeted corpus inspection, and hard-negative mining.
This is the classic inverted-index formulation as dataflow:

1. POSTINGS: one explode + one ``groupBy(id, term)`` count — the
   corpus' single shuffle.  Document length rides along (functionally
   dependent on id, grouped not re-joined).
2. TERM STATS: document frequency per term — a groupBy over the
   ALREADY-AGGREGATED postings (Heaps-bounded key table; Spark's
   broadcast threshold decides its scoring join).
3. SCORE: query terms broadcast against postings; per-(query, doc)
   sum of ``idf(t) * tf_weight(tf, dl)``; top-k per query under a
   window with a total tie-break (score desc, id asc).

Candidate volume per query is the sum of its terms' posting lists —
the true inverted-index cost; at 100 TB, cap hot terms with
``max_df_ratio`` (terms in more than that fraction of docs carry ~no
idf and dominate volume — the classic stopword prune, decided on
exact integer counts).

Cross-engine exactness (DuckDB oracle): every input to the score is
an exact integer (tf, dl, df, N) or an exactly-representable literal
(k1=1.2, b=0.75 parse to identical doubles in Python and SQL); the
expression mirrors the same IEEE op order on both sides, so
per-(term, doc) scores agree to the last ulp except through ``ln``
(<= 1 ulp) and the per-doc sum order — both absorbed by comparing
``score_micro`` (integer micro-units).  Ranks use the total
(score desc, id asc) order; exact ties (identical tf/dl profiles)
break identically in both engines, and near-ties cannot flip ranks:
the smallest adjacent score gap across the gate queries at sf0.01 is
525 micro-units (measured) vs ulp-level noise of ~1e-4 micro-units.

Reference scope: mmastrac/grok has no retrieval layer; this operator
belongs to the training-data-pipeline surface (SURVEY.md 2.4).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from grokspark import plan_policy
from grokspark.operators.ngram_lm import lm_words

__all__ = [
    "bm25_postings",
    "bm25_topk",
    "bm25_topk_py",
]

K1 = 1.2
B = 0.75


def bm25_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted postings ``(id, term, tf, dl)`` — lowercased ASCII-
    whitespace terms (the shared ``lm_words`` convention), one shuffle."""
    base = plan_policy.spread(
        df.filter(F.col(text_col).isNotNull()), plan_policy.SPREAD_MIN_BYTES
    ).select(F.col(id_col).alias("id"), lm_words(F.col(text_col)).alias("_ws"))
    toks = base.select(
        "id",
        F.size("_ws").cast("long").alias("dl"),
        F.explode("_ws").alias("term"),
    )
    return toks.groupBy("id", "dl", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    max_df_ratio: Optional[float] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents per query by BM25: ``(query_id, rank,
    doc_id, score_micro, score)``.  ``queries`` is a (small) DataFrame
    of ``(query_id, text)``; its distinct terms are counted and
    broadcast while within ``BROADCAST_MAX_KEYS``, so the
    corpus-side postings never shuffle for the probe.  Optional
    ``max_df_ratio`` drops terms present in more than that fraction of
    documents (exact integer threshold: ``df_t * 1000000 > N *
    ratio_ppm``) before scoring.

    The corpus is scanned ONCE: the global stats the score needs
    (``n_docs = countDistinct(id)``, ``sum_dl = sum(tf)`` — every
    doc's length is the sum of its term frequencies) are aggregated
    from the postings themselves, and the postings are
    localCheckpointed (the repo's eager-heavy-op convention) so the
    stats action, the df-frequency aggregate, and the probe join all
    reuse one materialization instead of re-running the scan. An empty
    corpus (no rows, or only NULL texts) returns no rows."""
    post = bm25_postings(df, text_col, id_col).localCheckpoint()
    stats = post.agg(
        F.countDistinct("id").alias("n"),
        F.sum("tf").alias("sumdl"),
    ).collect()[0]
    n_docs, sum_dl = int(stats["n"] or 0), int(stats["sumdl"] or 0)
    avgdl = float(sum_dl) / float(n_docs) if n_docs else 1.0

    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("dft"))
    if max_df_ratio is not None:
        # exact-integer threshold, computed Python-side and carried as
        # a LONG literal (int*int lits overflow 2^31 under ANSI)
        thr = n_docs * int(max_df_ratio * 1_000_000)
        dfreq = dfreq.filter(
            F.col("dft") * F.lit(1_000_000).cast("long") <= F.lit(thr).cast("long")
        )

    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(lm_words(F.col(query_text_col)))
        ).alias("term"),
    )
    qt = plan_policy.broadcast(qt, qt.count(), plan_policy.BROADCAST_MAX_KEYS)

    # idf = ln(1 + (N - df + 0.5)/(df + 0.5)); integer subtraction
    # first, then one cast each — the SQL oracle mirrors this op order
    idf = F.log(
        F.lit(1.0)
        + ((F.lit(n_docs) - F.col("dft")).cast("double") + F.lit(0.5))
        / (F.col("dft").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    tfw = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * dld) / F.lit(avgdl))
    )
    scored = (
        post.join(qt, "term")
        .join(dfreq, "term")
        .select("query_id", "id", (idf * tfw).alias("_s"))
        .groupBy("query_id", "id")
        .agg(F.sum("_s").alias("score"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("id").alias(id_col),
            F.round(F.col("score") * F.lit(1000000.0))
            .cast("bigint")
            .alias("score_micro"),
            "score",
        )
    )


# ---------------------------------------------------------------------------
# Pure-Python twin (tests)
# ---------------------------------------------------------------------------


def bm25_topk_py(
    docs: list[tuple],
    queries: list[tuple],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> list[tuple]:
    """``(query_id, rank, doc_id, score_micro)`` — same tokenization,
    op order, and tie-break as the distributed path; a document with no
    word has no postings, so it counts in neither ``N`` nor avgdl."""
    from grokspark.operators.ngram_lm import _words_py

    toks = {did: ws for did, t in docs if t is not None and (ws := _words_py(t))}
    n_docs = len(toks)
    sum_dl = sum(len(w) for w in toks.values())
    avgdl = float(sum_dl) / float(n_docs) if n_docs else 1.0
    dfreq: dict = {}
    tfs: dict = {}
    for did, ws in toks.items():
        seen: dict = {}
        for w in ws:
            seen[w] = seen.get(w, 0) + 1
        tfs[did] = seen
        for w in seen:
            dfreq[w] = dfreq.get(w, 0) + 1
    out = []
    for qid, qtext in queries:
        terms = list(dict.fromkeys(_words_py(qtext)))
        scores: dict = {}
        for did, seen in tfs.items():
            s = 0.0
            hit = False
            for t in terms:
                tf = seen.get(t)
                if not tf:
                    continue
                hit = True
                dft = dfreq[t]
                idf = math.log(
                    1.0 + (float(n_docs - dft) + 0.5) / (float(dft) + 0.5)
                )
                dl = float(len(toks[did]))
                tfw = (float(tf) * (k1 + 1.0)) / (
                    float(tf) + k1 * ((1.0 - b) + (b * dl) / avgdl)
                )
                s += idf * tfw
            if hit:
                scores[did] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for r, (did, s) in enumerate(ranked, 1):
            out.append((qid, r, did, math.floor(s * 1000000.0 + 0.5)))
    return out
