"""Exact duplicated-substring removal (Lee et al., "Deduplicating
Training Data Makes Language Models Better", 2022).

Near-dup dedup (MinHash/SimHash, dedup.py) drops whole documents;
training corpora ALSO carry exact repeated substrings INSIDE otherwise
distinct documents (boilerplate, licenses, templated paragraphs), and
the reference treatment removes every occurrence of a duplicated span
except one.  This module finds all character spans of length >=
``min_len`` that occur at least twice in the corpus (across documents
or within one), keeps the globally first occurrence — smallest
``(doc_id, pos)`` — and cuts the rest.

Semantics (mirrored bit-for-bit by the pure-Python twin):
- a *window* is any ``min_len``-char substring of the RAW text (exact
  means exact: no normalization, no lowercasing);
- every window whose exact string occurs >= 2 times in the corpus is
  duplicated; all its occurrences EXCEPT the smallest ``(doc_id,
  pos)`` are marked;
- marked windows are unioned into per-document intervals (overlapping
  or adjacent windows merge — a shared span of length M >> min_len is
  M - min_len + 1 marked windows collapsing into one interval) and cut
  from the text.

Distributed plan, stage by stage:
1. HASH: an Arrow-batched numpy rolling hash (the winnowing fold —
   vectorized flat pass over the whole batch, one array per doc,
   position = array index) so the corpus-wide shuffle carries ``(id,
   pos, int64)`` — 8 bytes per character instead of ``min_len`` chars
   (the reference implementation's suffix array pays a comparable
   O(n) sort).  Hash collisions only ever ADD candidates — step 3
   verifies strings — so the 31-bit fold is correctness-neutral.
2. CANDIDATES: one groupBy(hash); groups of size 1 (the overwhelming
   majority at any scale) die here without touching text again.
3. VERIFY + MARK: candidates join back to their documents (shuffle on
   the corpus' natural key), the actual window string is sliced out
   JVM-side, and one groupBy(window-string) sorts occurrences and
   drops the first — exact by construction.
4. CUT: per-doc sorted positions fold into merged intervals and the
   interval list folds into the cleaned text — both as JVM
   ``aggregate`` expressions over per-doc arrays (interval counts are
   tiny after merging; no text ever crosses into Python).

100-TB note: stages 2-3 cost O(duplicated volume) after the hash
filter; stage 1's 8 B/char shuffle is the honest price of the EXACT
guarantee at stride 1 (cf. the suffix-array sort it replaces).  For
approximate/sampled detection use ``winnow_pairs`` (textops.py); to
bound stage 1 at extreme scale, pre-restrict ``df`` to documents with
any fingerprint overlap (winnowing) and run exact removal on that
subset.

Reference scope: the Rust reference (mmastrac/grok) has no dedup
layer; this operator belongs to the training-data-pipeline surface
(SURVEY.md section 2.4).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from grokspark.operators.textops import WINNOW_B, WINNOW_M
from grokspark.plan_policy import spread

_PACK_LIM = 1 << 21  # packed-key codepoint bound per document

__all__ = [
    "span_hashes_batch",
    "duplicate_spans",
    "remove_spans",
    "span_dedup",
    "duplicate_spans_py",
    "remove_spans_py",
]


def span_hashes_batch(texts, k: int) -> list:
    """Rolling hash of every ``k``-char window for a batch of texts:
    one int64 list per text, index = 0-based codepoint position (empty
    when the text is shorter than ``k``).  Same vectorized flat-batch
    fold as ``winnow_batch``; codepoints (UTF-32) so positions agree
    with Spark's and Python's codepoint-based substring indexing."""
    import numpy as np

    codes_per_doc = [
        np.frombuffer((t or "").encode("utf-32-le"), dtype="<u4").astype(np.int64)
        for t in texts
    ]
    lens = np.fromiter(
        (len(c) for c in codes_per_doc), dtype=np.int64, count=len(codes_per_doc)
    )
    out: list[list[int]] = [[] for _ in codes_per_doc]
    long_idx = [i for i, n in enumerate(lens) if n >= k]
    if long_idx:
        flat = np.concatenate([codes_per_doc[i] for i in long_idx])
        doc_lens = lens[long_idx]
        starts0 = np.concatenate(([0], np.cumsum(doc_lens[:-1])))
        n_grams = doc_lens - k + 1
        gram_starts = np.concatenate(
            [s + np.arange(g) for s, g in zip(starts0, n_grams)]
        )
        acc = np.zeros(gram_starts.shape, dtype=np.int64)
        for j in range(k):
            acc = (acc * WINNOW_B + flat[gram_starts + j]) % WINNOW_M
        goff = np.concatenate(([0], np.cumsum(n_grams[:-1])))
        for pos, i in enumerate(long_idx):
            out[i] = acc[goff[pos] : goff[pos] + n_grams[pos]].tolist()
    return out


def _merged_intervals(ps: Column, k: int) -> Column:
    """Fold a SORTED array of marked window starts into merged
    ``struct<start, end>`` intervals (end exclusive; ``p <=
    last.end`` merges overlap AND adjacency).  Positions ascend, so
    the new end ``p + k`` never shrinks the interval."""
    empty = F.array().cast("array<struct<start:long,end:long>>")

    def step(acc, p):
        last = F.element_at(acc, -1)
        grown = F.concat(
            F.slice(acc, F.lit(1), F.size(acc) - 1),
            F.array(
                F.struct(
                    last["start"].alias("start"), (p + k).alias("end")
                )
            ),
        )
        fresh = F.concat(
            acc, F.array(F.struct(p.alias("start"), (p + k).alias("end")))
        )
        return F.when(
            (F.size(acc) > 0) & (p <= last["end"]), grown
        ).otherwise(fresh)

    return F.aggregate(ps, empty, step)


def duplicate_spans(df: DataFrame, min_len: int = 40) -> DataFrame:
    """All duplicated-span occurrences to remove from ``(doc_id,
    text)``: ``(doc_id, start, end)`` merged intervals (0-based
    codepoint offsets, end exclusive) for every occurrence of a >=
    ``min_len``-char corpus-duplicated substring except its globally
    first ``(doc_id, pos)``."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    k = min_len

    @arrow_udf("array<long>")
    def h_udf(texts: pa.Array) -> pa.Array:
        hashes = span_hashes_batch(texts.to_pylist(), k)
        return pa.array(hashes, pa.list_(pa.int64()))

    # spread a single-split local scan across the pool BEFORE the
    # Arrow hash stage: one partition means ONE Python worker rolls
    # the whole corpus (measured 10.2 s -> 1.5 s at sf1.0; the
    # row-shuffle-before-Arrow penalty is dwarfed at this row width).
    # No-op on a cluster where scan splits >> cores.
    base = spread(
        df.filter(F.col("text").isNotNull()).select(
            F.col("doc_id").alias("id"), F.col("text").alias("_t")
        )
    )
    # (id, pos) packed into ONE long, o = id * 2^21 + pos: the
    # corpus-wide shuffle and both collect_lists carry 8 bytes per
    # occurrence instead of a 16-byte struct (measured ~20% off the
    # candidate stage), and packed order == (id, pos) lexicographic
    # order (pos < 2^21), so min/sort semantics are unchanged. Bounds
    # are enforced LOUDLY: a doc over 2^21 codepoints or a negative id
    # raises instead of corrupting keys (ANSI multiplication already
    # throws past 2^42 ids).
    lim = F.lit(_PACK_LIM).cast("long")
    packed = F.when(
        (F.col("pos") < _PACK_LIM) & (F.col("id") >= 0),
        F.col("id") * lim + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "span_dedup: doc over 2^21 codepoints or negative id "
                "— packed (id, pos) keys unsupported"
            )
        )
    )
    occ = base.select(
        "id", F.posexplode(h_udf(F.col("_t"))).alias("pos", "h")
    ).select(packed.alias("o"), "h")

    # hash-level prefilter: singleton hash groups (the bulk) die here
    cand = (
        occ.groupBy("h")
        .agg(F.collect_list("o").alias("os"))
        .filter(F.size("os") >= 2)
        .select(F.explode("os").alias("o"))
        .select("o", F.expr(f"o DIV {_PACK_LIM}").cast("long").alias("id"))
    )

    # string verify: slice the real window out JVM-side, group by it,
    # drop the smallest (id, pos) occurrence of each duplicated string
    with_str = cand.join(base, "id").select(
        "o",
        F.col("_t")
        .substr((F.pmod(F.col("o"), lim) + 1).cast("int"), F.lit(k))
        .alias("w"),
    )
    marked = (
        with_str.groupBy("w")
        .agg(F.array_sort(F.collect_list("o")).alias("os"))
        .filter(F.size("os") >= 2)
        .select(
            F.explode(F.slice("os", F.lit(2), F.size("os") - 1)).alias("o")
        )
        .select(
            F.expr(f"o DIV {_PACK_LIM}").cast("long").alias("id"),
            F.pmod(F.col("o"), lim).alias("pos"),
        )
    )
    # no distinct needed: each (id, pos) belongs to exactly one window
    # string, so it is emitted at most once

    return (
        marked.groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("ps"))
        .select("id", F.explode(_merged_intervals(F.col("ps"), k)).alias("iv"))
        .select(
            F.col("id").alias("doc_id"),
            F.col("iv.start").alias("start"),
            F.col("iv.end").alias("end"),
        )
    )


def remove_spans(df: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut ``(doc_id, start, end)`` spans out of each document's text: the
    input rows with ``text`` replaced by the cleaned string plus
    ``n_spans`` / ``n_removed_chars``.  The cut is one JVM ``aggregate``
    fold over the doc's sorted interval list — no Python, no shuffle
    beyond the per-doc span collect."""
    ivs = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("start"), F.col("end")))
        ).alias("_ivs"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("end") - F.col("start")).cast("long").alias("n_removed_chars"),
    )
    # spread the corpus side so the interpreted cut fold runs at full
    # width (single parquet split locally; no-op at real scale)
    joined = spread(df).join(ivs, "doc_id", "left")
    text = F.col("text")
    cut = F.aggregate(
        F.col("_ivs"),
        F.struct(F.lit("").alias("s"), F.lit(0).cast("long").alias("last")),
        lambda acc, iv: F.struct(
            F.concat(
                acc["s"],
                text.substr(
                    (acc["last"] + 1).cast("int"),
                    (iv["start"] - acc["last"]).cast("int"),
                ),
            ).alias("s"),
            iv["end"].alias("last"),
        ),
        lambda acc: F.concat(
            acc["s"],
            text.substr(
                (acc["last"] + 1).cast("int"),
                (F.length(text) - acc["last"]).cast("int"),
            ),
        ),
    )
    clean = F.when(F.col("_ivs").isNull(), text).otherwise(cut)
    return joined.select(
        *[
            clean.alias("text") if c == "text" else c
            for c in df.columns
        ],
        F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
        F.coalesce(F.col("n_removed_chars"), F.lit(0)).alias("n_removed_chars"),
    )


def span_dedup(df: DataFrame, min_len: int = 40) -> DataFrame:
    """Compose: find duplicated spans, cut all non-canonical
    occurrences.  Every >= ``min_len``-char substring occurs at most
    once in the returned corpus' concatenation of cleaned texts
    (modulo new junctions created by cutting — same caveat as the
    reference treatment)."""
    return remove_spans(df, duplicate_spans(df, min_len))


# ---------------------------------------------------------------------------
# Pure-Python twin (tests + VALUES oracles)
# ---------------------------------------------------------------------------


def duplicate_spans_py(rows: list[tuple], min_len: int = 40) -> dict:
    """``{doc_id: [(start, end), ...]}`` — same window/canonical/merge
    semantics as the distributed path, one process."""
    occ: dict = {}
    for doc_id, text in rows:
        if text is None:
            continue
        for p in range(len(text) - min_len + 1):
            occ.setdefault(text[p : p + min_len], []).append((doc_id, p))
    marked: dict = {}
    for _w, lst in occ.items():
        if len(lst) >= 2:
            lst.sort()
            for d, p in lst[1:]:
                marked.setdefault(d, set()).add(p)
    out: dict = {}
    for d, ps in marked.items():
        ivs: list = []
        for p in sorted(ps):
            if ivs and p <= ivs[-1][1]:
                ivs[-1] = (ivs[-1][0], p + min_len)
            else:
                ivs.append((p, p + min_len))
        out[d] = ivs
    return out


def remove_spans_py(text: str, ivs: list[tuple]) -> str:
    parts = []
    last = 0
    for s, e in ivs:
        parts.append(text[last:s])
        last = e
    parts.append(text[last:])
    return "".join(parts)
