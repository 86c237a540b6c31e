"""Approximate-nearest-neighbor search over an embedding column.

- ``ann_brute_force_topk``: exact cosine top-k (the correctness
  baseline; one scan + one top-k, no shuffle of vectors).
- The cell index, shared by sign-LSH here and IVF-flat
  (``grokspark.operators.ivf``): every vector gets a cell, computed
  with one sequential dot fold (``_dot_col`` on the JVM, its driver
  twin ``_fold_dot``); ``_write_cell_index`` writes the rows
  PARTITIONED BY that cell; a query probes a few cells, so its
  ``cell IN (probes)`` filter becomes real partition pruning
  (PartitionFilters in the scan; non-probed cells are never read,
  plan-asserted in tests/test_plans.py), and ``ann_brute_force_topk``
  takes the exact cosine top-k of what it read. ``build_lsh_index`` +
  ``lsh_index_topk`` are the sign-LSH face: the cell is the
  random-hyperplane bucket ``_bucket``.
- ``knn_join`` and ``embedding_lsh_pairs``: one bucket-local matmul
  engine (``_bucket_cogroup``) serves both: every probe bucket is
  cogrouped with its member bucket and scored by one numpy matmul;
  ``knn_join`` keeps each row's top-k, ``embedding_lsh_pairs`` every
  pair at or over a cosine threshold.
"""

from __future__ import annotations

import itertools
import math
import random
import warnings
from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window

from grokspark.operators.dedup import _cosine_matrix, _vectors, cosine

__all__ = [
    "ann_brute_force_topk",
    "hyperplanes",
    "lsh_bucket_col",
    "bucket_of",
    "hamming_probes",
    "recommended_n_planes",
    "build_lsh_index",
    "lsh_index_topk",
    "knn_join",
    "knn_join_blocked",
    "embedding_lsh_pairs",
]

# candidate joins go effectively quadratic when buckets get this full
MAX_BUCKET_ROWS = 10_000


def recommended_n_planes(n_rows: int, target_bucket_rows: int = 1024) -> int:
    """Hyperplane count that keeps the EXPECTED bucket population near
    ``target_bucket_rows``: 2^n_planes buckets over n_rows vectors ->
    n_planes = ceil(log2(n_rows / target)). The LSH candidate join is
    ~quadratic WITHIN a bucket, so bucket population — not corpus size
    — is what must stay bounded; n_planes has to GROW with the corpus
    (e.g. 1e9 rows at 1k/bucket -> 20 planes / 1M buckets)."""
    if n_rows <= target_bucket_rows:
        return 1
    return max(1, math.ceil(math.log2(n_rows / target_bucket_rows)))


def _resolve_n_planes(
    df: DataFrame,
    n_planes: Optional[int],
    op: str,
    target_bucket_rows: int = 1024,
) -> int:
    """Auto-size ``n_planes=None`` from the corpus rowcount (one
    count(); the chosen value keeps expected bucket population near
    ``target_bucket_rows``, re-checked through the occupancy guard so
    a future target/guard mismatch warns loudly). An explicit value is
    trusted as-is — no extra scan at 10^12 rows — which is why the
    guard cannot fire for it; callers own that check.

    The target matters: candidate volume is ``n_rows x probes x
    bucket_rows``, and the hamming-probe count grows with n_planes
    (so with log n under auto-sizing) — a target sized for near-dup
    recall (1024) makes corpus-wide kNN superlinear (measured 6.3x
    per-row cost at 10x corpus, BENCH/SCALE_PROBES.md). Top-k search
    needs only a few x k candidates per probe, so ``knn_join`` passes
    a k-scaled target."""
    if n_planes is not None:
        return n_planes
    n_rows = df.count()
    chosen = recommended_n_planes(n_rows, target_bucket_rows)
    _warn_if_buckets_overfull(n_rows, chosen, op)
    return chosen


def _warn_if_buckets_overfull(n_rows: int, n_planes: int, op: str) -> None:
    expected = n_rows / (1 << n_planes)
    if expected > MAX_BUCKET_ROWS:
        warnings.warn(
            f"{op}: ~{expected:,.0f} vectors per LSH bucket expected "
            f"({n_rows:,} rows over 2^{n_planes} buckets) — the within-"
            f"bucket candidate join is quadratic at this occupancy; use "
            f"n_planes>={recommended_n_planes(n_rows)} (or n_planes=None "
            f"to auto-size)",
            stacklevel=3,
        )


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    """Width of ``vec_col``, read from the first non-NULL row (one
    small job). A frame with no such row gets width 1 — no vector is
    ever bucketed, so the operator's plan still builds and returns its
    empty, typed result."""
    row = df.where(F.col(vec_col).isNotNull()).select(F.size(F.col(vec_col))).head()
    return 1 if row is None else row[0]


def _dot_col(vec_col: str, w: Sequence[float]) -> Column:
    """Dot product of a vector column with the literal ``w``: a
    sequential left-to-right double fold, the same sum as
    ``_fold_dot`` and DuckDB's list_dot_product, so a cell computed on
    the JVM, on the driver and in the SQL oracles agrees bit for bit."""
    wlit = F.array(*[F.lit(float(x)) for x in w])
    return F.aggregate(
        F.zip_with(F.col(vec_col), wlit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _fold_dot(vec: Sequence[float], w: Sequence[float]) -> float:
    """Driver twin of ``_dot_col`` (not ``sum()``, whose float
    summation is not a plain sequential fold on every Python)."""
    acc = 0.0
    for x, y in zip(vec, w):
        acc += float(x) * y
    return acc


def _write_cell_index(df: DataFrame, path: str, cell_name: str, cell: Column) -> None:
    """Write ``df`` plus its ``cell`` column as parquet PARTITIONED BY
    ``cell_name``, the one layout of every materialized ANN index: the
    cell is a physical partition column, so a probe query's ``IN``
    filter reaches the scan as PartitionFilters. One shuffle clusters
    rows by cell before the write, so each cell is one file instead of
    (input partitions x cells) shards. A partitioned write of no rows
    leaves no file to read a schema from, so an empty index is one
    unpartitioned, schema-only file."""
    clustered = df.withColumn(cell_name, cell).repartition(F.col(cell_name))
    writer = clustered.write.mode("overwrite")
    (writer if df.isEmpty() else writer.partitionBy(cell_name)).parquet(path)


def ann_brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id_col, score)``: the exact cosine top-k of ``df``'s rows
    against one query vector — over a whole table the correctness
    baseline, over a cell index's probed rows its ANN answer. The
    query ships as a literal array; scored JVM-side; ties broken by id
    for determinism."""
    qlit = F.array(*[F.lit(float(x)) for x in query])
    return (
        df.withColumn("score", cosine(F.col(vec_col), qlit))
        .select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = random.Random(f"grokspark:lsh:{seed}")
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket_col(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id (0..2^n_planes-1) of a vector column —
    pure built-ins: per plane, the sign of the dot product."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        dot = _dot_col(vec_col, plane)
        bucket = bucket + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def bucket_of(vec: Sequence[float], planes: list[list[float]]) -> int:
    """Sign-pattern bucket of one vector (driver-side; mirrors
    ``lsh_bucket_col`` bit for bit through the same fold)."""
    return sum(1 << i for i, plane in enumerate(planes) if _fold_dot(vec, plane) >= 0)


def _probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks for all buckets within ``probe_hamming`` bit flips."""
    return [
        sum(1 << i for i in bits)
        for h in range(probe_hamming + 1)
        for bits in itertools.combinations(range(n_planes), h)
    ]


def hamming_probes(qb: int, n_planes: int, probe_hamming: int) -> list[int]:
    """All buckets within ``probe_hamming`` bit flips of ``qb``
    (C(n_planes, <=h) probes), sorted for deterministic plans."""
    return sorted({qb ^ m for m in _probe_masks(n_planes, probe_hamming)})


def _bucketed_vectors(
    df: DataFrame, vec_col: str, id_col: str, planes: list[list[float]]
) -> DataFrame:
    """(id, vec, _bucket) — the shared first stage of every bucket-LSH
    batch operator: the bucket is the sign pattern of one numpy matmul
    per Arrow batch against the planes. numpy's blocked summation can
    differ from ``lsh_bucket_col``'s sequential fold in the last ulp,
    so a dot product within ~1e-12 of zero may land in a different
    bucket than the fold and ``bucket_of`` (which the materialized
    index and the oracles use) — both are valid LSH assignments; the
    gate corpus's sign margins are ~1e-3, so all three agree there
    (test-asserted). A NULL vector gets bucket 0, as with the fold."""
    mat = np.array(planes, dtype=np.float64).T  # dim x n_planes
    weights = np.int64(1) << np.arange(len(planes), dtype=np.int64)
    dim = len(planes[0])

    @arrow_udf("long")
    def bucket(vecs: pa.Array) -> pa.Array:
        return pa.array(((_vectors(vecs, dim) @ mat >= 0) * weights).sum(axis=1))

    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        bucket(F.col(vec_col)).alias("_bucket"),
    )


def _bucket_cogroup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_planes: int,
    probe_hamming: int,
    seed: int,
    kernel,
) -> DataFrame:
    """The bucket-local matmul engine under ``knn_join`` and
    ``embedding_lsh_pairs``: ``(qid, nid, score)`` for the pairs that
    ``kernel(qids, nids, sims)`` keeps, where ``sims`` is the cosine
    matrix of one cogroup's queries against its members and the kernel
    returns (query, member) index arrays into it. The candidates of a
    query are the rows whose sign-LSH bucket is within
    ``probe_hamming`` bit flips of its own, and the data moves
    bucket-wise:

    - each QUERY vector ships once per probe (``probes x width`` per
      query, not per candidate), via a cogroup on (probe bucket ==
      member bucket);
    - each MEMBER vector ships exactly once;
    - a NULL vector is neither, so it is never a candidate.

    Each (query, member) pair lands in exactly one group — the
    member's bucket, probed by exactly one XOR mask — so no dedup pass
    is needed. The output ids keep ``id_col``'s type."""
    planes = hyperplanes(_vector_dim(df, vec_col), n_planes, seed)
    dim = len(planes[0])
    # bucket via the numpy matrix UDF: the scores are blocked matmuls
    # anyway, and the interpreted per-row fold costs n_planes x dim
    # lambda evals; materialized once for the two references below
    bucketed = _bucketed_vectors(
        df.where(F.col(vec_col).isNotNull()), vec_col, id_col, planes
    ).localCheckpoint()
    masks = _probe_masks(n_planes, probe_hamming)
    probes = (
        bucketed.withColumn("_mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .select(
            F.col("id").alias("qid"),
            F.col("vec").alias("qv"),
            F.col("_bucket").bitwiseXOR(F.col("_mask")).alias("_probe"),
        )
    )
    members = bucketed.select(
        F.col("id").alias("nid"), F.col("vec").alias("nv"), "_bucket"
    )
    id_type = df.schema[id_col].dataType
    out_type = T.StructType(
        [
            T.StructField("qid", id_type),
            T.StructField("nid", id_type),
            T.StructField("score", T.DoubleType()),
        ]
    )
    out_schema = to_arrow_schema(out_type)

    def score(left: pa.Table, right: pa.Table) -> pa.Table:
        if not left.num_rows or not right.num_rows:
            return out_schema.empty_table()
        # members in nid order, so a kernel's STABLE sort over a row
        # inherits the nid-ascending tie-break the callers' global
        # order uses
        nids = right["nid"].to_numpy()
        order = np.argsort(nids, kind="stable")
        nids = nids[order]
        qids = left["qid"].to_numpy()
        sims = _cosine_matrix(
            _vectors(left["qv"], dim), _vectors(right["nv"], dim)[order]
        )
        qi, ni = kernel(qids, nids, sims)
        return pa.table(
            {"qid": qids[qi], "nid": nids[ni], "score": sims[qi, ni]},
            schema=out_schema,
        )

    # explicit width: AQE coalesces post-shuffle partitions by bytes,
    # which on a small corpus runs every bucket's kernel call in one
    # task (measured on 4 vCPUs at sf0.01: 2.9 -> 2.3 s per knn_join)
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        probes.repartition(n_part, "_probe")
        .groupBy("_probe")
        .cogroup(members.repartition(n_part, "_bucket").groupBy("_bucket"))
        .applyInArrow(score, out_type)
    )


def build_lsh_index(
    df: DataFrame,
    index_path: str,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Materialize ``df`` as the sign-LSH cell index: parquet
    PARTITIONED BY its LSH bucket ``_bucket`` (``_write_cell_index``),
    so a probe query's ``_bucket IN (...)`` prunes non-probed buckets
    at the scan. (On a real cluster the same layout is an Iceberg
    table partitioned/clustered by ``_bucket``.)

    Returns the hyperplanes used (regenerate with ``hyperplanes(dim,
    n_planes, seed)`` — they are a pure function of the seed)."""
    planes = hyperplanes(_vector_dim(df, vec_col), n_planes, seed)
    _write_cell_index(df, index_path, "_bucket", lsh_bucket_col(vec_col, planes))
    return planes


def lsh_index_topk(
    spark: SparkSession,
    index_path: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k over a materialized LSH index: reads ONLY the probe
    partitions (partition pruning — C(n_planes, <=h) buckets of 2^n),
    scores them, returns cosine top-k. Recall grows with
    ``probe_hamming``; at h = n_planes it degrades to exact."""
    planes = hyperplanes(len(query), n_planes, seed)
    probes = hamming_probes(bucket_of(query, planes), n_planes, probe_hamming)
    candidates = spark.read.parquet(index_path).filter(F.col("_bucket").isin(probes))
    return ann_brute_force_topk(candidates, query, k, vec_col, id_col)


def knn_join(
    df: DataFrame,
    k: int = 5,
    n_planes: Optional[int] = 8,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate k-nearest-neighbors for EVERY row (the batch ANN op
    a training pipeline runs corpus-wide): ``(id, neighbor_id, score,
    rank)`` with rank 1..k by cosine among the rows whose sign-LSH
    bucket is within ``probe_hamming`` bit flips of the row's own —
    the same rule as filtering all pairs on hamming(bucket_a,
    bucket_b) <= h, without the all-pairs plan. Cosine follows
    ``cosine``'s rule: a zero vector scores -1.0 against every row; a
    NULL vector has no neighbours and is nobody's neighbour.

    Scoring is BUCKET-LOCAL and BLOCKED (``_bucket_cogroup``): one
    numpy normalized matmul per cogrouped bucket emits only each
    query's bucket-local top-k, so the global top-k window then sees
    <= probes x k rows per query. A verify join that ships both
    vectors onto every candidate pair moves ``candidates x 2 x
    vector_width`` bytes instead — at 50k x 64-dim that was ~27 GB
    through the join, and its per-row cost grew 6x superlinearly at
    10x corpus (BENCH/SCALE_PROBES.md). The matmul sums in a different
    order than DuckDB's sequential fold, so scores can differ from the
    oracle's in the last ulp; rank-adjacent score gaps on the gate
    corpus are far wider (test-asserted).

    ``n_planes`` must GROW with corpus size — the candidate work is
    quadratic within a bucket, so it's the expected bucket population
    n_rows/2^n_planes that has to stay bounded (see
    ``recommended_n_planes``). Pass ``n_planes=None`` to auto-size
    from the corpus rowcount (one count(), k-scaled target); an
    explicit value is trusted as-is, no extra scan."""
    n_planes = _resolve_n_planes(
        df, n_planes, "knn_join", target_bucket_rows=max(64, 16 * k)
    )

    def top_k(qids, nids, sims):
        # self-pairs (a query probing its own bucket) are dropped here;
        # the STABLE argsort over nid-ordered members keeps the
        # (score desc, nid asc) order of the global window — an
        # order-oblivious argpartition would keep an arbitrary member
        # of a score tie (the testdata corpus has duplicate
        # embeddings, i.e. exact ties)
        sims[qids[:, None] == nids[None, :]] = -np.inf
        top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        qi = np.repeat(np.arange(len(qids)), top.shape[1])
        ni = top.ravel()
        keep = sims[qi, ni] > -np.inf
        return qi[keep], ni[keep]

    scored = _bucket_cogroup(
        df, vec_col, id_col, n_planes, probe_hamming, seed, top_k
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("nid").alias("neighbor_id"),
            "score",
            "rank",
        )
    )


# the older gate and bench name of the same engine
knn_join_blocked = knn_join


def embedding_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n_planes: Optional[int] = 8,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: the LSH twin of
    ``grokspark.operators.dedup.embedding_cosine_pairs`` (which is the
    quadratic exactness baseline). ``(id_a, id_b, cos)`` with id_a <
    id_b for every candidate pair at cosine >= ``threshold``, on the
    same engine as ``knn_join`` (``_bucket_cogroup``): candidates are
    pairs whose sign-LSH buckets differ in <= ``probe_hamming`` bits,
    and one numpy matmul per cogrouped bucket scores them. Precision
    is exact; recall is governed by n_planes/probe_hamming (at
    probe_hamming = n_planes every pair is a candidate, test-asserted
    equal to the baseline). The matmul sums in a different order than
    a sequential fold, so a cosine within an ulp of the threshold
    could flip; the gate corpus's threshold margins are >= 1e-3
    (test-asserted). The candidate rule is recomputable: the driver
    oracle mirrors it in SQL. A NULL vector is never in a pair.
    ``n_planes`` sizing follows the same rule as ``knn_join`` (None =
    auto via one count(); explicit values are trusted without an extra
    scan)."""
    n_planes = _resolve_n_planes(df, n_planes, "embedding_lsh_pairs")
    thr = float(threshold)

    def over_threshold(qids, nids, sims):
        return np.nonzero((qids[:, None] < nids[None, :]) & (sims >= thr))

    scored = _bucket_cogroup(
        df, vec_col, id_col, n_planes, probe_hamming, seed, over_threshold
    )
    return scored.select(
        F.col("qid").alias("id_a"),
        F.col("nid").alias("id_b"),
        F.col("score").alias("cos"),
    )
