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
bucket (applyInPandas per bucket) — the result is a pure function of
the corpus content, independent of partitioning, cluster size, or
input file layout, and buckets parallelize the work (size n_buckets ~
cores x a few for balance; each bucket's documents must fit one
worker's memory, so grow n_buckets with the corpus).

Packing rule (mirrored exactly by ``pack_sequences_py`` for oracles):
greedy in ascending doc_id order — append the document to the current
pack if it fits in ``max_len`` remaining tokens, else close the pack
and start a new one. Documents longer than ``max_len`` are TRUNCATED
to max_len (and flagged), matching trainer behavior. Greedy-by-id is
deliberately not first-fit-decreasing: stability under corpus growth
matters more than the last few % of utilization.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    internally by doc_id) — the single-process reference the Spark op
    must match bit-for-bit."""
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
        toks = list(tokens)
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


def pack_sequences(
    df: DataFrame,
    max_len: int,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Pack the corpus into ``<= max_len``-token training rows:
    ``(bucket, pack_id, n_docs, n_tok, doc_ids, tokens, n_truncated)``
    with ``pack_id = <bucket>#<index within bucket>``. Deterministic
    for a given corpus regardless of partitioning (see module doc)."""
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    keyed = df.select(
        pack_bucket_col(id_col, n_buckets).alias("bucket"),
        F.col(id_col).cast("string").alias("_id"),
        F.col(tokens_col).alias("_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        packs = pack_sequences_py(zip(pdf["_id"], pdf["_tokens"]), max_len)
        return pd.DataFrame(
            {
                "bucket": bucket,
                "pack_id": [f"{bucket}#{i}" for i in range(len(packs))],
                "n_docs": [p["n_docs"] for p in packs],
                "n_tok": [p["n_tok"] for p in packs],
                "doc_ids": [p["doc_ids"] for p in packs],
                "tokens": [p["tokens"] for p in packs],
                "n_truncated": [p["n_truncated"] for p in packs],
            }
        )

    return keyed.groupBy("bucket").applyInPandas(pack, schema=_PACK_SCHEMA)
