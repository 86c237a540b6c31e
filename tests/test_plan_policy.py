"""Plan policy (grokspark/plan_policy.py): the one place that spreads
and hints broadcasts. A grep guard keeps bare hints and private spread
copies out of every other module; the bound test drives every former
hint site with Spark's threshold and every policy bound at 0, where
no plan may broadcast and the rows must not change."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from grokspark import plan_policy
from tools.capture_plans import record_plans

REPO = Path(__file__).resolve().parents[1]

# a bare hint, the hint() spelling, or the old private spread helper
_UNBOUNDED = re.compile(
    r"\bF\.broadcast\(|\.hint\(\s*[\"']broadcast|_ensure_parallelism"
)


def test_plan_decisions_only_in_plan_policy():
    paths = [*sorted((REPO / "grokspark").rglob("*.py")), REPO / "__spark_entry__.py"]
    hits = [
        f"{path.relative_to(REPO)}:{k}: {line.strip()}"
        for path in paths
        if path.name != "plan_policy.py"
        for k, line in enumerate(path.read_text().splitlines(), 1)
        if _UNBOUNDED.search(line)
    ]
    assert not hits, "\n".join(hits)


def test_spread_size_floor(spark, sf_dir):
    """The scan spread fires unconditionally by default
    (expression-heavy stages), but a ``min_bytes`` floor keeps tiny
    local inputs unshuffled for byte-cheap map work — the optimizer's
    size estimate for the sf0.001 documents table is far below
    SPREAD_MIN_BYTES, so the floored call must be a no-op while the
    unfloored call spreads to the core pool."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    before = docs.rdd.getNumPartitions()
    p = spark.sparkContext.defaultParallelism
    floored = plan_policy.spread(docs, plan_policy.SPREAD_MIN_BYTES)
    spread = plan_policy.spread(docs)
    assert floored.rdd.getNumPartitions() == before
    if before < p:
        assert spread.rdd.getNumPartitions() == p


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _lm(spark, sf_dir):
    from grokspark.operators.ngram_lm import train_bigram_lm

    return train_bigram_lm(_docs(spark, sf_dir))


def _perplexity(spark, sf_dir):
    from grokspark.operators.ngram_lm import perplexity_scores

    uni, bi = _lm(spark, sf_dir)
    return perplexity_scores(_docs(spark, sf_dir), uni, bi).select(
        "doc_id", "n_bigrams", "ce_micro"
    )


def _familiarity(spark, sf_dir):
    from grokspark.operators.ngram_lm import familiarity_scores

    return familiarity_scores(_docs(spark, sf_dir), _lm(spark, sf_dir)[1]).select(
        "doc_id", "n_bigrams", "sum_cnt"
    )


def _dsir(spark, sf_dir):
    from grokspark.operators import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(
        docs.filter(F.col("doc_id") % 11 != 0), docs.filter(F.col("doc_id") % 11 == 0)
    )


def _near_dup(spark, sf_dir):
    from grokspark.operators import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5, n=2, bands=64)


def _entry(name):
    def build(spark, sf_dir):
        import __spark_entry__ as entry

        return entry.queries()[name](spark, sf_dir)

    return build


# every join that carried a broadcast hint before the policy existed
BOUND_SITES = {
    "route_match_counts": _entry("grok_route_counts"),
    "q_grok_unroutable": _entry("grok_unroutable"),
    "q_join_segment_revenue": _entry("join_segment_revenue"),
    "perplexity_scores": _perplexity,
    "familiarity_scores": _familiarity,
    "bm25_topk": _entry("bm25_topk"),
    "decontaminate": _entry("decontaminate"),
    "dsir_weights": _dsir,
    "heavy_hitters": _entry("heavy_hitters"),
    "minhash_lsh_pairs": _near_dup,
    "minhash_lsh_pairs_vs": _entry("dedup_incremental"),
}


@pytest.mark.parametrize("site", list(BOUND_SITES))
def test_broadcast_bound_fallback(spark, sf_dir, monkeypatch, site):
    """With ``spark.sql.autoBroadcastJoinThreshold=-1`` and every
    policy bound at 0, no plan of the site broadcasts — neither the
    stages it localCheckpoints nor its final plan after execution —
    and its rows equal the default run's, which does broadcast."""
    build = BOUND_SITES[site]

    def run():
        def collect():
            df = build(spark, sf_dir)
            rows = sorted((tuple(r) for r in df.collect()), key=repr)
            return rows, df._jdf.queryExecution().executedPlan().toString()

        stages, (rows, final) = record_plans(spark, collect)
        return rows, [*stages, final]

    default, default_plans = run()
    assert default, site
    assert any("BroadcastExchange" in p for p in default_plans), site

    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    for bound in ("BROADCAST_MAX_DOCS", "BROADCAST_MAX_PAIRS", "BROADCAST_MAX_KEYS"):
        monkeypatch.setattr(plan_policy, bound, 0)
    spark.conf.set(key, "-1")
    try:
        bounded, plans = run()
    finally:
        spark.conf.set(key, threshold)
    assert bounded == default
    for p in plans:
        assert "BroadcastExchange" not in p, p
