"""Deterministic splitting & sampling — the bookkeeping ops every
training-data pipeline runs last.

Both assign rows by a uniform 48-bit md5-prefix hash of a SALTED id
(same cross-engine-reproducible hash family as the KMV sketch), so:

- assignments are a pure function of the id — stable under reruns,
  repartitioning, and incremental corpus growth (a doc keeps its split
  forever; new docs land i.i.d.), unlike ``DataFrame.randomSplit``
  whose output depends on partitioning;
- distinct salts decorrelate different uses (the sample of the train
  split is unbiased);
- thresholds are exact integers (weights quantized to parts-per-
  million, threshold = SPACE * ppm // 10^6 in arbitrary-precision
  Python), so the DuckDB oracle reproduces every assignment
  bit-for-bit — no float boundary ambiguity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grokspark.operators.sketches import KMV_SPACE_BITS

__all__ = [
    "hash_split",
    "hash_sample",
    "mixture_sample",
    "reservoir_sample",
    "target_mixture_fractions",
    "split_thresholds",
]

_SPACE = 1 << KMV_SPACE_BITS
_PPM = 1_000_000


def _salted_hash(key: Column, salt: str) -> Column:
    """The 48-bit md5 prefix of ``"<salt>:<key>"`` as a long — every
    salted hash here, in ``dsir`` and in ``packing`` (DuckDB recomputes
    it bit-for-bit)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), key.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(label, exclusive upper hash bound) pairs in declaration order.
    Weights are quantized to ppm and must sum to 1 (+-1e-6)."""
    ppms = {k: round(w * _PPM) for k, w in weights.items()}
    total = sum(ppms.values())
    if abs(total - _PPM) > 1:
        raise ValueError(f"weights must sum to 1, got {total / _PPM}")
    out = []
    acc = 0
    for label, ppm in ppms.items():
        acc += ppm
        out.append((label, _SPACE * acc // _PPM))
    # guard against ppm rounding leaving a sliver of unassigned space
    out[-1] = (out[-1][0], _SPACE)
    return out


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Adds a ``split`` label column assigning each row to one of the
    ``weights`` keys by salted id hash — deterministic, partition-
    independent, stable under corpus growth."""
    h = _salted_hash(F.col(id_col), salt)
    expr = None
    for label, bound in split_thresholds(weights):
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return df.withColumn("split", expr)


def hash_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic ~``fraction`` sample by salted id hash: the SAME
    rows are kept on every run and on any cluster layout, and samples
    at different fractions nest (a 1% sample is a subset of the 10%
    one — same salt, larger threshold)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    bound = _SPACE * round(fraction * _PPM) // _PPM
    return df.filter(_salted_hash(F.col(id_col), salt) < F.lit(bound))


def mixture_sample(
    df: DataFrame,
    fractions: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    default: float = 1.0,
) -> DataFrame:
    """Domain-mixture downsampling: keep a per-``group_col`` fraction
    of rows (the pretraining data-mixing step — down-weight
    overrepresented domains to a target mixture). Same salted-hash /
    exact-ppm-threshold rule as ``hash_sample``, so per-group samples
    are deterministic, partition-independent, stable under corpus
    growth, and NEST across fraction changes (raising a domain's
    fraction only ADDS documents). Groups absent from ``fractions``
    keep ``default``.

    Scan-fused: the per-row bound is a small literal map lookup — no
    join, no shuffle, one filter inside the scan's codegen span (the
    domain list is dozens-scale; corpus is the big side)."""
    for k, f in {**fractions, "<default>": default}.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0, 1], got {f}")
    bounds = {k: _SPACE * round(f * _PPM) // _PPM for k, f in fractions.items()}
    default_bound = _SPACE * round(default * _PPM) // _PPM
    if bounds:
        mapping = F.create_map(
            *[x for k, b in bounds.items() for x in (F.lit(k), F.lit(b))]
        )
        bound = F.coalesce(
            mapping[F.col(group_col)], F.lit(default_bound)
        )
    else:
        bound = F.lit(default_bound)
    return df.filter(_salted_hash(F.col(id_col), salt) < bound)


def reservoir_sample(
    df: DataFrame,
    k: int,
    group_col: str | None = "source",
    id_col: str = "doc_id",
    salt: str = "reservoir",
) -> DataFrame:
    """Exact-``k`` uniform-without-replacement sample per
    ``group_col`` group (or globally when ``group_col`` is None) —
    the fixed-size carve-out primitive (eval/held-out sets, per-domain
    inspection samples) that fraction-based ``hash_sample`` can't
    express: every group yields exactly min(k, |group|) rows no matter
    how skewed group sizes are.

    Rule: rank rows inside each group by the salted id hash (ties
    broken by id) and keep the first k. The hash is uniform on ids, so
    the sample is uniform; it is a pure function of (id, salt), so the
    sample is deterministic under reruns/repartitioning, and STABLE
    under corpus growth in the reservoir sense — adding documents can
    only displace current members, never reshuffle the survivors'
    relative order (samples at k and k' < k nest).

    100-TB shape: the ranking runs over an ID-PROJECTED side (id,
    group, hash — tens of bytes/row; document payloads never enter
    the sort shuffle), and the per-group window is a top-k filter
    whose survivors number at most k * |groups|, a set small enough
    for AQE to broadcast back onto the corpus in the id semi-join.
    The global (group_col=None) variant avoids the single-partition
    window entirely: ``ORDER BY hash LIMIT k`` compiles to
    TakeOrderedAndProject — per-partition partial top-k, no full
    sort."""
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = _salted_hash(F.col(id_col), salt)
    ids = df.select(
        *([group_col] if group_col else []), id_col
    ).withColumn("_h", h)
    if group_col is None:
        picked = ids.orderBy("_h", id_col).limit(k).select(id_col)
    else:
        w = Window.partitionBy(group_col).orderBy("_h", id_col)
        picked = (
            ids.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select(id_col)
        )
    return df.join(picked, id_col, "semi")


def target_mixture_fractions(
    counts: dict[str, int], target: dict[str, float]
) -> dict[str, float]:
    """Per-group keep fractions realizing ``target`` proportions by
    DOWNSAMPLING only: the output corpus is the largest one where
    every group g holds exactly target_g of the total and no fraction
    exceeds 1. Pure arithmetic (scale C = min_g counts_g / target_g;
    keep_g = C * target_g / counts_g), so the binding group keeps
    fraction 1.0. Drives ``mixture_sample``; groups with target 0 are
    dropped."""
    tot = sum(target.values())
    if not tot > 0:
        raise ValueError("target proportions must sum to a positive value")
    norm = {k: v / tot for k, v in target.items()}
    missing = [k for k, v in norm.items() if v > 0 and counts.get(k, 0) == 0]
    if missing:
        raise ValueError(f"target groups with no rows: {missing}")
    scale = min(counts[k] / v for k, v in norm.items() if v > 0)
    return {
        k: (scale * v / counts[k] if v > 0 else 0.0) for k, v in norm.items()
    }
