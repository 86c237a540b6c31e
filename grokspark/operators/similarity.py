"""Approximate-nearest-neighbor search over an embedding column.

- ``ann_brute_force_topk``: exact cosine top-k (the correctness
  baseline; one scan + one top-k, no shuffle of vectors).
- ``build_lsh_index`` + ``lsh_index_topk``: the 100-TB path — the
  random-hyperplane bucket is MATERIALIZED as the table's partition
  column at index-build time, so a query's ``_bucket IN (probes)``
  filter becomes real partition pruning (PartitionFilters in the scan;
  non-probed buckets are never read, plan-asserted in
  tests/test_plans.py).
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
from pyspark.sql import DataFrame, SparkSession
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


def ann_brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against one query vector. The query ships as
    a literal array; score computed JVM-side; ties broken by id for
    determinism."""
    qlit = F.array(*[F.lit(float(x)) for x in query])
    scored = df.withColumn("score", cosine(F.col(vec_col), qlit))
    return (
        scored.select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = random.Random(f"grokspark:lsh:{seed}")
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
def lsh_bucket_col(vec_col: str, planes: list[list[float]]):
    """Sign-pattern bucket id (0..2^n_planes-1) of a vector column —
    pure built-ins: per plane, the sign of the dot product."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        plit = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), plit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def bucket_of(vec: Sequence[float], planes: list[list[float]]) -> int:
    """Sign-pattern bucket of one vector (driver-side; mirrors
    ``lsh_bucket_col`` bit for bit — sequential left-to-right double
    accumulation, same as F.aggregate's fold)."""
    b = 0
    for i, plane in enumerate(planes):
        acc = 0.0
        for x, p in zip(vec, plane):
            acc += float(x) * p
        if acc >= 0:
            b |= 1 << i
    return b


def _probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks for all buckets within ``probe_hamming`` bit flips."""
    masks = [0]
    for h in range(1, probe_hamming + 1):
        for bits in itertools.combinations(range(n_planes), h):
            m = 0
            for i in bits:
                m |= 1 << i
            masks.append(m)
    return masks


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
    salt_members: int,
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
    is needed. ``salt_members`` splits each bucket's members into S
    slices (hash of the member id) and replicates the probe side xS;
    a pair still lands in exactly one (bucket, slice) group. The
    output ids keep ``id_col``'s type."""
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
    if salt_members > 1:
        members = members.withColumn(
            "_salt", F.pmod(F.xxhash64("nid"), F.lit(salt_members)).cast("int")
        )
        probes = probes.withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(s) for s in range(salt_members)])),
        )
        group_l, group_r = ["_probe", "_salt"], ["_bucket", "_salt"]
    else:
        group_l, group_r = ["_probe"], ["_bucket"]

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
        probes.repartition(n_part, *group_l)
        .groupBy(*group_l)
        .cogroup(members.repartition(n_part, *group_r).groupBy(*group_r))
        .applyInArrow(score, out_type)
    )


def build_lsh_index(
    df: DataFrame,
    index_path: str,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Materialize ``df`` as a parquet table PARTITIONED BY its LSH
    bucket. This is what makes LSH-ANN actually prune at scale: the
    bucket is a physical partition column, so a probe query's
    ``_bucket IN (...)`` reaches the scan as PartitionFilters and
    non-probed buckets are never opened. (On a real cluster the same
    layout is an Iceberg table partitioned/clustered by ``_bucket``.)

    Returns the hyperplanes used (regenerate with ``hyperplanes(dim,
    n_planes, seed)`` — they are a pure function of the seed)."""
    planes = hyperplanes(_vector_dim(df, vec_col), n_planes, seed)
    writer = (
        df.withColumn("_bucket", lsh_bucket_col(vec_col, planes))
        # cluster rows by bucket before the partitioned write: one file
        # per bucket instead of (input partitions x buckets) shards —
        # index builds shuffle once so every probe later reads one file
        .repartition(F.col("_bucket"))
        .write.mode("overwrite")
    )
    # a partitioned write of no rows leaves no file to read a schema
    # from; an empty index is one unpartitioned, schema-only file
    (writer if df.isEmpty() else writer.partitionBy("_bucket")).parquet(index_path)
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
    candidates = spark.read.parquet(index_path).filter(
        F.col("_bucket").isin(probes)
    )
    qlit = F.array(*[F.lit(float(x)) for x in query])
    return (
        candidates.withColumn("score", cosine(F.col(vec_col), qlit))
        .select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join(
    df: DataFrame,
    k: int = 5,
    n_planes: Optional[int] = 8,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    salt_members: int = 1,
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
    explicit value is trusted as-is, no extra scan.

    ``salt_members`` is the skew control: real embedding distributions
    can pile into few buckets (measured: a degenerate corpus put all
    50k vectors into 20 of 1024 buckets and one straggler task carried
    the stage). Salting splits each bucket's MEMBERS into S slices;
    per-slice top-k stays correct because top-k merges (the global
    window sees every slice's winners). Neighbor sets and ranks are
    IDENTICAL for any S (ties break on nid via the stable sort below);
    scores can move by a BLAS-blocking ulp since the matmul shape
    changes. Cost: probe-side shuffle xS; use a few slices when bucket
    histograms are known-skewed."""
    n_planes = _resolve_n_planes(
        df, n_planes, "knn_join", target_bucket_rows=max(64, 16 * k)
    )

    def top_k(qids, nids, sims):
        # self-pairs (a query probing its own bucket) are dropped here;
        # the STABLE argsort over nid-ordered members keeps the
        # (score desc, nid asc) order of the global window — an
        # order-oblivious argpartition would keep an arbitrary member
        # of a score tie and make results depend on group slicing
        # (caught by the salting-invariance test: the testdata corpus
        # has duplicate embeddings, i.e. exact ties)
        sims[qids[:, None] == nids[None, :]] = -np.inf
        top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        qi = np.repeat(np.arange(len(qids)), top.shape[1])
        ni = top.ravel()
        keep = sims[qi, ni] > -np.inf
        return qi[keep], ni[keep]

    scored = _bucket_cogroup(
        df, vec_col, id_col, n_planes, probe_hamming, seed, salt_members, top_k
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
        df, vec_col, id_col, n_planes, probe_hamming, seed, 1, over_threshold
    )
    return scored.select(
        F.col("qid").alias("id_a"),
        F.col("nid").alias("id_b"),
        F.col("score").alias("cos"),
    )
