"""Occupancy-guard behavior at realistic corpus sizes: auto-sizing
must choose more hyperplanes as the corpus grows (the expected-bucket-
population invariant), and the guard must warn when an explicit plane
count would leave buckets quadratic-join-sized."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F


def _vec_df(spark, n: int, dim: int = 8):
    # xxhash-uniform features: decorrelated dims -> buckets spread
    # (sin(id*13+i) traces a 1-D curve and collapses the bucket space)
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.pmod(F.xxhash64(F.col("id"), i), F.lit(1_000_000))
            .cast("double")
            / 1_000_000.0
            - 0.5,
        ).alias("embedding"),
    )


def test_auto_sizing_grows_with_corpus(spark):
    from grokspark.operators.similarity import (
        _resolve_n_planes,
        recommended_n_planes,
    )

    small, large = _vec_df(spark, 5_000), _vec_df(spark, 50_000)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # auto-sizing must never warn
        p_small = _resolve_n_planes(small, None, "test")
        p_large = _resolve_n_planes(large, None, "test")
    assert p_small == recommended_n_planes(5_000) == 3
    assert p_large == recommended_n_planes(50_000) == 6
    assert p_small < p_large
    # explicit values pass through untouched (and unscanned)
    assert _resolve_n_planes(small, 11, "test") == 11


def test_knn_join_auto_sized_runs_at_10x(spark):
    """End-to-end: knn_join with n_planes=None on a 50k-vector corpus
    (10x the sf0.1 embeddings rowcount per probe design) — the
    auto-sized bucket join must complete and return k neighbors per
    queried id."""
    from grokspark.operators import knn_join

    df = _vec_df(spark, 50_000).localCheckpoint()
    out = knn_join(df, k=3, n_planes=None, probe_hamming=0)
    sample = out.filter(F.col("vec_id") < 100)
    counts = sample.groupBy("vec_id").count().collect()
    assert counts, "no neighbors at all — bucketing broke"
    assert all(r["count"] <= 3 for r in counts)


def test_knn_join_blocked_matches_fold_path(spark, sf_dir, knn_reference):
    """knn_join (the cogrouped bucket-local matmul engine, also exported
    as knn_join_blocked) on the whole embeddings table at 6 planes —
    fuller buckets, many probes per group — must return exactly the
    (query, neighbor, rank) triples of the per-candidate reference
    (numpy cosine over every pair within one bucket bit); scores equal
    to within summation-order ulps."""
    from grokspark.operators import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint()
    want = knn_reference(emb.select("vec_id", "embedding").collect(), 6)
    got = {
        (r["vec_id"], r["neighbor_id"]): (r["rank"], r["score"])
        for r in knn_join(emb, k=3, n_planes=6, probe_hamming=1).collect()
    }
    assert got.keys() == want.keys()
    for pair, (rank, score) in got.items():
        assert rank == want[pair][0], pair
        assert abs(score - want[pair][1]) < 1e-9, pair


def test_overfull_warning_fires_for_undersized_explicit_planes():
    from grokspark.operators.similarity import (
        MAX_BUCKET_ROWS,
        _warn_if_buckets_overfull,
    )

    with pytest.warns(UserWarning, match="quadratic"):
        _warn_if_buckets_overfull(MAX_BUCKET_ROWS * 8, 2, "op")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _warn_if_buckets_overfull(MAX_BUCKET_ROWS * 8, 8, "op")
