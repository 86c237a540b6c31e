"""Sequence packing: concatenate short tokenized sequences into
fixed-length training examples — the op that turns a parsed/deduped
corpus into what actually feeds a trainer (padding waste on unpacked
batches is commonly 30-60%; packing recovers it).

Determinism at scale is the design problem: naive per-partition greedy
packing changes output whenever the split plan changes. Here every
document is first routed to a HASH BUCKET (48-bit md5-prefix of the
salted doc_id, mod n_buckets — the engine-portable hash family shared
with sampling/sketches, so pure-Python oracles reproduce the exact
bucketing), and packing runs greedily in doc_id order WITHIN each
bucket (``pack_groups``: one grouped applyInArrow stage, one call per
bucket) — the result is a pure function of the corpus content,
independent of partitioning, cluster size, or input file layout, and
buckets parallelize the work (size n_buckets ~
cores x a few for balance; each bucket's documents must fit one
worker's memory, so grow n_buckets with the corpus).

Packing rule (mirrored exactly by ``pack_sequences_py`` for oracles):
greedy in ascending doc_id order — append the document to the current
pack if it fits in ``max_len`` remaining tokens, else close the pack
and start a new one. Documents longer than ``max_len`` are TRUNCATED
to max_len (and flagged), matching trainer behavior; a NULL ``tokens``
row packs as zero tokens (listed in ``doc_ids``, adding 0 to
``n_tok``), as ``bpe.apply_bpe_ids`` encodes NULL text as ``[]``.
Greedy-by-id is deliberately not first-fit-decreasing: stability under
corpus growth matters more than the last few % of utilization.
"""

from __future__ import annotations

from typing import Callable, Iterable, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from grokspark.operators.sampling import _salted_hash

__all__ = ["pack_sequences", "pack_sequences_py", "pack_bucket_of"]


def pack_bucket_of(doc_id: str, n_buckets: int) -> int:
    """Pure-Python twin of the Spark-side bucket assignment."""
    import hashlib

    h = int(hashlib.md5(f"pack:{doc_id}".encode("utf-8")).hexdigest()[:12], 16)
    return h % n_buckets


def pack_bucket_col(id_col: str, n_buckets: int) -> F.Column:
    """The Spark-side bucket assignment as a Column (one md5, JVM-
    side) — shared by ``pack_sequences`` and the composed corpus job
    so the two can never drift from ``pack_bucket_of``."""
    h = _salted_hash(F.col(id_col), "pack")
    return F.pmod(h, F.lit(n_buckets)).cast("int")

_PACK_SCHEMA = (
    "bucket int, pack_id string, n_docs int, n_tok int, "
    "doc_ids array<string>, tokens array<int>, n_truncated int"
)


def pack_sequences_py(
    rows: Iterable[tuple], max_len: int
) -> list[dict]:
    """Pack one bucket's ``(doc_id, tokens)`` rows (any order; sorted
    internally by doc_id; NULL tokens pack as ``[]``) — the
    single-process reference the Spark op must match bit-for-bit."""
    packs: list[dict] = []
    cur_ids: list[str] = []
    cur_tok: list[int] = []
    n_trunc = 0

    def close():
        nonlocal cur_ids, cur_tok, n_trunc
        if cur_ids:
            packs.append(
                {
                    "n_docs": len(cur_ids),
                    "n_tok": len(cur_tok),
                    "doc_ids": list(cur_ids),
                    "tokens": list(cur_tok),
                    "n_truncated": n_trunc,
                }
            )
        cur_ids, cur_tok, n_trunc = [], [], 0

    for doc_id, tokens in sorted(rows, key=lambda r: str(r[0])):
        toks = [] if tokens is None else list(tokens)
        truncated = len(toks) > max_len
        if truncated:
            toks = toks[:max_len]
        if len(cur_tok) + len(toks) > max_len:
            close()
        cur_ids.append(str(doc_id))
        cur_tok.extend(toks)
        n_trunc += 1 if truncated else 0
    close()
    return packs


def pack_groups(
    keyed: DataFrame,
    keys: list[str],
    max_len: int,
    tokens_of: Callable[[list], Iterable[Optional[list[int]]]],
) -> DataFrame:
    """Pack every ``(*keys, bucket)`` group of ``keyed`` (columns
    ``*keys, bucket, _id, _doc``) with ``pack_sequences_py`` in one
    grouped applyInArrow stage: ``(*keys, bucket, pack_id, n_docs,
    n_tok, doc_ids, tokens, n_truncated)``, ``pack_id =
    <bucket>#<index within group>``. ``tokens_of`` maps one group's
    ``_doc`` values to their token lists; it is called once per group,
    so a memo it makes lives for that group only."""
    schema = StructType(
        [StructField(k, keyed.schema[k].dataType) for k in keys]
        + StructType.fromDDL(_PACK_SCHEMA).fields
    )
    arrow_schema = to_arrow_schema(schema)

    def pack(key: tuple, group: pa.Table) -> pa.Table:
        head = dict(zip(schema.names, (k.as_py() for k in key)))
        docs = tokens_of(group["_doc"].to_pylist())
        packs = pack_sequences_py(zip(group["_id"].to_pylist(), docs), max_len)
        rows = [
            {**head, "pack_id": f"{head['bucket']}#{i}", **p}
            for i, p in enumerate(packs)
        ]
        return pa.Table.from_pylist(rows, schema=arrow_schema)

    return keyed.groupBy(*keys, "bucket").applyInArrow(pack, schema)


def pack_sequences(df: DataFrame, max_len: int, n_buckets: int = 256) -> DataFrame:
    """Pack the ``(doc_id, tokens)`` corpus into ``<= max_len``-token
    training rows: ``(bucket, pack_id, n_docs, n_tok, doc_ids, tokens,
    n_truncated)`` with ``pack_id = <bucket>#<index within bucket>``.
    Deterministic for a given corpus regardless of partitioning (see
    module doc)."""
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    keyed = df.select(
        pack_bucket_col("doc_id", n_buckets).alias("bucket"),
        F.col("doc_id").cast("string").alias("_id"),
        F.col("tokens").alias("_doc"),
    )
    return pack_groups(keyed, [], max_len, lambda tokens: tokens)
