"""IVF-flat approximate-nearest-neighbor: the coarse-quantizer face of
the cell index in ``grokspark.operators.similarity``.

The sign-LSH face there buckets by hyperplane signs — data-independent,
cheap, but bucket populations follow the data distribution blindly.
IVF ("inverted file") buckets by NEAREST COARSE CENTROID instead: k
centroids partition the space adaptively, a query probes only the
``nprobe`` nearest centroids' partitions, and recall/cost is tuned by
(k, nprobe) — the standard large-scale ANN layout (FAISS IVF-Flat
re-expressed as parquet/Iceberg partitioning). Both faces share the
index's dot fold (``_dot_col``/``_fold_dot``), its partitioned writer
(``_write_cell_index``, cell column ``_centroid`` here) and its exact
cosine top-k (``ann_brute_force_topk`` over the probed rows); only the
cell rule and the probe rule are IVF's own.

Centroids come from either:

- ``train_ivf_centroids`` — Spark MLlib k-means over the corpus (the
  scale path: distributed training, deterministic under a fixed seed);
- any fixed list (``seeded_centroids`` gives deterministic Gaussian
  ones) — what the driver oracle uses, so DuckDB can recompute the
  exact assignment rule from the same literals.

Assignment parity across engines: per-centroid scores are the cell
index's sequential left-to-right double dot products (the same fold on
the JVM, the driver and in DuckDB's list_dot_product — bit-identical),
and argmax ties break to the first index in both engines, so Spark and
the SQL oracle agree bit-for-bit, same as the sign-LSH margin argument
(CLAUDE.md).

Scale shape: the index build shuffles once (repartition by centroid) so
each coarse cell is one file run; a probe reads only nprobe of k
partitions — real PartitionFilters pruning, asserted on EXECUTED scan
metrics in tests, not explain text. Keep expected cell population
bounded by growing k with the corpus (same occupancy math as
``recommended_n_planes``: k ~ n_rows / target cell rows; FAISS practice
is k ~ sqrt(n_rows)).
"""

from __future__ import annotations

import random
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from grokspark.operators.similarity import (
    _dot_col,
    _fold_dot,
    _write_cell_index,
    ann_brute_force_topk,
)

__all__ = [
    "seeded_centroids",
    "train_ivf_centroids",
    "ivf_assign_col",
    "ivf_assign_of",
    "ivf_probes",
    "build_ivf_index",
    "ivf_topk",
]


def seeded_centroids(dim: int, k: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian coarse centroids (unit-free: assignment
    uses raw dot products, so scale cancels only across identical
    norms — these are for tests/oracles; use trained centroids for
    real recall)."""
    rng = random.Random(f"grokspark:ivf:{seed}")
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(k)]


def train_ivf_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[float]]:
    """Train coarse centroids with Spark MLlib k-means (distributed —
    the path a 10^12-row corpus takes; k-means|| init, fixed seed).
    Returns plain Python lists ready for ``build_ivf_index``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    return [list(map(float, c)) for c in model.clusterCenters()]


def ivf_assign_col(vec_col: str, centroids: list[list[float]]) -> Column:
    """Coarse-cell id (0..k-1) of a vector column: argmax dot product,
    first index on ties — pure built-ins, bit-reproducible vs
    ``ivf_assign_of`` and the DuckDB oracle."""
    dots = F.array(*[_dot_col(vec_col, c) for c in centroids])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_assign_of(vec: Sequence[float], centroids: list[list[float]]) -> int:
    """Driver-side twin of ``ivf_assign_col``: the single nearest
    probe (same fold, same first-index tie break)."""
    return ivf_probes(vec, centroids, 1)[0]


def ivf_probes(
    query: Sequence[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` centroid ids nearest the query by dot product
    (descending; index ascending on ties — same sequential fold as the
    assignment), sorted for stable plans."""
    ranked = sorted(
        ((_fold_dot(query, c), -i) for i, c in enumerate(centroids)), reverse=True
    )
    return sorted(-neg_i for _score, neg_i in ranked[:nprobe])


def build_ivf_index(
    df: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Materialize ``df`` as the IVF cell index: parquet PARTITIONED BY
    its coarse cell ``_centroid`` (``_write_cell_index``); on a real
    lake this is an Iceberg table partitioned by the cell id."""
    _write_cell_index(df, index_path, "_centroid", ivf_assign_col(vec_col, centroids))


def ivf_topk(
    spark: SparkSession,
    index_path: str,
    query: Sequence[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k over the IVF index: scans ONLY the ``nprobe`` probed
    cells (partition pruning), scores them with exact cosine, returns
    the top k (ties broken by id). ``nprobe=k_cells`` degrades to
    exact search."""
    probes = ivf_probes(query, centroids, nprobe)
    candidates = spark.read.parquet(index_path).filter(F.col("_centroid").isin(probes))
    return ann_brute_force_topk(candidates, query, k, vec_col, id_col)
