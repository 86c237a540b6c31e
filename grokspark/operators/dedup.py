"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine. Entirely built-in DataFrame expressions
except SimHash's bit-vote (a vectorized numpy kernel in an
``arrow_udf``).

Scale notes (the design constraint is 10^9+ documents):
- exact dedup is one hash-aggregate on a fingerprint (shuffle on the
  fingerprint, not the text);
- MinHash+LSH (one hashed-gram engine behind ``minhash_lsh_pairs``
  and ``minhash_lsh_pairs_vs``) shuffles only (band_id, band_hash)
  for candidates; a bloom-mask precheck prunes them and the exact
  verify streams gram-hash arrays against broadcast survivors;
- brute-force pair ops (jaccard_pairs, embedding_cosine_pairs) are
  quadratic — they exist as the exactness baseline for tests/oracles.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema

from grokspark import plan_policy
from grokspark.datagen import local_dim

__all__ = [
    "exact_dedup",
    "ngrams",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_vs",
    "simhash_signatures",
    "simhash_near_dup_pairs",
    "simhash_py",
    "simhash_batch",
    "duplicate_clusters",
    "dedup_corpus",
    "embedding_cosine_pairs",
    "cosine",
    "semdedup",
    "semdedup_lsh",
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct normalized text.
    One hash aggregate; at scale, group on md5(text) instead of text to
    shrink shuffle width — both shown here (fp is the shuffle key)."""
    from grokspark.operators.textops import content_fingerprint_col

    return (
        df.withColumn("_fp", content_fingerprint_col(F.col(text_col)))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("_fp")
    )


def ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text.

    Formulated as an (n-1)-deep ``zip_with`` fold over shifted word
    slices — n slices total, each gram built by concatenation — rather
    than the obvious ``transform(sequence(0, size-n), i ->
    array_join(slice(w, i+1, n)))``: higher-order lambdas are
    interpreted, and a slice PER INDEX makes that form O(words^2) per
    document (measured 7x slower at sf0.1; it was the dominant map-side
    cost of the whole MinHash path)."""
    w = F.split(F.lower(F.trim(text)), r"\s+")
    size = F.size(w)
    glen = size - (n - 1)
    grams = F.slice(w, 1, glen)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(w, j + 1, glen), lambda a, b: F.concat_ws(" ", a, b)
        )
    # documents shorter than n words get their whole text as one shingle
    short = F.array(F.array_join(w, " "))
    return F.array_distinct(F.when(size >= n, grams).otherwise(short))


def ngram_hashes(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram identities as 64-bit hashes, WITHOUT ever
    building the gram strings: the hash of gram (w_i..w_{i+n-1}) is the
    left fold ``xxhash64(...xxhash64(xxhash64(w_i), w_{i+1})...)``.
    Words contain no whitespace (``\\s+`` split), so a gram string
    "w1 w2" decomposes uniquely into its word tuple — tuple identity
    EQUALS string identity, and set sizes/intersections over these
    hashes equal the string-gram ones modulo 64-bit collisions
    (~1e-16/pair; output verified equal to the string path on every
    testdata sf). Skipping the concat_ws string build and hashing the
    distinct pass on longs instead of strings measurably cuts the
    dominant map cost of the MinHash path. Same short-document rule as
    ``ngrams``: fewer than n words hash the whole text as one
    shingle."""
    w = F.split(F.lower(F.trim(text)), r"\s+")
    size = F.size(w)
    glen = size - (n - 1)
    hs = F.transform(F.slice(w, 1, glen), lambda x: F.xxhash64(x))
    for j in range(1, n):
        hs = F.zip_with(
            hs, F.slice(w, j + 1, glen), lambda acc, b: F.xxhash64(acc, b)
        )
    short = F.array(F.xxhash64(F.array_join(w, " ")))
    return F.array_distinct(F.when(size >= n, hs).otherwise(short))


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >=
    threshold). Quadratic over the whole input: the exactness baseline
    of ``minhash_lsh_pairs``, which is the scale path."""
    # the theta-join (id_a < id_b) executes as a nested-loop join
    # whose stream side inherits the scan's partitioning — spread a
    # single-split local input or the whole quadratic verify runs on
    # one core (measured 8.1 s -> <1 s at the gate sf)
    g = plan_policy.spread(df).select(
        F.col(id_col).alias("id"), ngrams(F.col(text_col), n).alias("grams")
    )
    a = g.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    b = g.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    joined = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    jac = inter.cast("double") / union.cast("double")
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_MASK_SLOTS = 8  # 512-bit gram bloom mask (8 longs) per document


def _mask_aggs(n_slots: int = _MASK_SLOTS) -> list:
    """Aggregate expressions building a ``n_slots*64``-bit bloom mask
    over a column named ``h`` (one exploded gram hash per row): gram g
    sets bit ``pmod(h,64)`` of slot ``pmod(h, bits) div 64``. The mask
    supports an EXACT union bound (see ``minhash_lsh_pairs``)."""
    bits = n_slots * 64
    return [
        F.expr(
            f"bit_or(IF(pmod(h, {bits}) DIV 64 = {i}, "
            f"shiftleft(1L, int(pmod(h, 64))), 0L))"
        ).alias(f"b{i}")
        for i in range(n_slots)
    ]


def _jaccard_precheck(
    na: Column, nb: Column, union_lb: Column, threshold: float
) -> Column:
    """True unless an exact upper bound puts the pair's jaccard below
    ``threshold``: jaccard <= (na+nb-P)/P with P a union lower bound
    (the OR-mask popcount), and jaccard <= min/max. Each bound's right
    side gives up ~1e-9 of its size, because fl((1+t)*P) can round
    above the exact product (t=0.1, P=50 gives 55.00000000000001) and
    would drop a pair whose jaccard is exactly ``threshold`` before the
    exact verify sees it. The slack only admits pairs the verify then
    rejects."""
    hi = F.greatest(na, nb)
    return (
        (na + nb).cast("double") >= (1.0 + threshold) * union_lb - 1e-9 * union_lb
    ) & (F.least(na, nb).cast("double") >= threshold * hi - 1e-9 * hi)


def _gram_tables(
    df, n, num_hashes, bands, text_col, id_col
) -> tuple[DataFrame, DataFrame]:
    """One side's hashed-gram tables: ``grams (id, gh)`` (distinct gram
    hashes) and ``sig (id, ng, b0..b7, bh0..)`` (gram count, bloom mask,
    band hashes). The signature is ``num_hashes`` plain ``min``
    aggregates over the exploded grams — small codegen units (a per-row
    array of nested lambdas re-compiled in every stage cost 86 s on 500
    docs), and partial aggregation collapses each document map-side, so
    no exchange carries gram arrays. Both tables are localCheckpointed:
    the grams feed the signature and the verify, the signature feeds
    the band explode and the precheck, so each scan and aggregate runs
    once. The mins fold into band hashes before the checkpoint (73
    longs/doc at bands=64, not 137)."""
    grams = plan_policy.spread(df).select(
        F.col(id_col).alias("id"),
        ngram_hashes(F.col(text_col), n).alias("gh"),
    ).localCheckpoint()
    sig = (
        grams.select("id", F.explode("gh").alias("h"))
        .groupBy("id")
        .agg(
            *[
                F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"m{i}")
                for i in range(num_hashes)
            ],
            *_mask_aggs(),
            F.count(F.lit(1)).cast("int").alias("ng"),
        )
    )
    rows_per_band = num_hashes // bands
    band_cols = [
        F.xxhash64(
            *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"bh{b}")
        for b in range(bands)
    ]
    sig = sig.select(
        "id", "ng", *[f"b{i}" for i in range(_MASK_SLOTS)], *band_cols
    ).localCheckpoint()
    return grams, sig


def _band_table(sig: DataFrame, bands: int) -> DataFrame:
    """``(id, band_id, band_hash)``, one row per (document, band).
    Deliberately NARROW: the explode multiplies rows by ``bands``, so
    nothing wide (grams, signatures, text) may ride it."""
    return sig.select(
        "id",
        F.posexplode(
            F.array(*[F.col(f"bh{b}") for b in range(bands)])
        ).alias("band_id", "band_hash"),
    )


def _precheck_verify(
    pre: DataFrame,
    side_a: tuple[DataFrame, DataFrame],
    side_b: tuple[DataFrame, DataFrame],
    threshold: float,
) -> DataFrame:
    """Exact-verified ``(id_a, id_b, jaccard)`` from candidate rows
    ``pre (id_a, id_b)``, one per shared band, with ``id_a``/``id_b``
    keyed into ``side_a``/``side_b``'s ``(grams, sig)`` tables. The
    bloom-mask precheck prunes over narrow tables, broadcast while
    ``side_b``'s doc count is within ``BROADCAST_MAX_DOCS``; the
    distinct survivors are checkpointed and verified by streaming each
    side's gram table against them, broadcast while their count is
    within ``BROADCAST_MAX_PAIRS`` (both bounds in ``plan_policy``)."""
    n_part = int(pre.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    slots = [f"b{i}" for i in range(_MASK_SLOTS)]

    def ptab(sig: DataFrame, side: str) -> DataFrame:
        return sig.select(
            F.col("id").alias(f"id_{side}"),
            F.col("ng").alias(f"n{side}"),
            *[F.col(s).alias(f"{side}_{s}") for s in slots],
        )

    n_docs, max_docs = side_b[0].count(), plan_policy.BROADCAST_MAX_DOCS
    pa = plan_policy.broadcast(ptab(side_a[1], "a"), n_docs, max_docs)
    pb = plan_policy.broadcast(ptab(side_b[1], "b"), n_docs, max_docs)
    if n_docs > max_docs:
        pre = pre.repartition(n_part, "id_a")
    popcount_or = sum(
        F.bit_count(F.col(f"a_{s}").bitwiseOR(F.col(f"b_{s}"))) for s in slots
    )
    cands = (
        pre.join(pa, "id_a")
        .join(pb, "id_b")
        .filter(_jaccard_precheck(F.col("na"), F.col("nb"), popcount_or, threshold))
        .select("id_a", "id_b")
        .dropDuplicates()
        .localCheckpoint()
    )
    n_pairs, max_pairs = cands.count(), plan_policy.BROADCAST_MAX_PAIRS
    left = side_a[0].join(
        plan_policy.broadcast(cands, n_pairs, max_pairs), F.col("id") == F.col("id_a")
    ).select("id_a", "id_b", F.col("gh").alias("ha"))
    ver = side_b[0].join(
        plan_policy.broadcast(left, n_pairs, max_pairs), F.col("id") == F.col("id_b")
    ).select("id_a", "id_b", "ha", F.col("gh").alias("hb"))
    # |A u B| = |A| + |B| - |A n B| (gram arrays are distinct-element),
    # so one array_intersect does the work of intersect + union
    inter = F.size(F.array_intersect("ha", "hb"))
    union = (F.size("ha") + F.size("hb") - inter).cast("double")
    return (
        ver.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs ``(id_a, id_b, jaccard)``,
    ``id_a < id_b``, exact-verified.

    Candidates come from the band explode + bucket self-join over
    ``(id, band_id, band_hash)`` only. At scale the r=2 bands' false
    positives dominate (sf1.0/50k docs: 78.5M candidates for 2,544 true
    pairs; shuffling ~600 B gram arrays per candidate was ~80% of a
    127 s run), so nothing after candidates moves a gram array:

    1. grams are xxhash64 LONGS (``gh``, see ``ngram_hashes``); the
       verify intersects the same longs (exact modulo 64-bit
       collisions, ~1e-16/pair);
    2. a 512-bit bloom mask per document gives an exact bound: every
       gram of A∪B sets a bit of maskA|maskB, so ``union >= P :=
       popcount(maskA|maskB)`` and ``jaccard <= (na+nb-P)/P`` — no
       false negatives. With the size-ratio bound it pruned sf1.0's
       78.5M candidates to the 2,544 true pairs before any array read;
    3. the narrow precheck tables and the survivor set are broadcast
       (bounded by ``BROADCAST_MAX_DOCS`` / ``BROADCAST_MAX_PAIRS``),
       and the gram tables stream against them.

    Measured sf1.0/local[32]: 127 s -> 17 s, identical output. The
    gram, signature and survivor tables are localCheckpointed (eager).

    Precision is exact (every emitted pair is verified); recall is the
    LSH collision probability 1-(1-s^r)^b — pick bands/num_hashes for
    the target threshold (bands=64, num_hashes=128 makes misses at
    s>=0.5 ~1e-8, used by the driver oracle query)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    side = _gram_tables(df, n, num_hashes, bands, text_col, id_col)
    banded = _band_table(side[1], bands)
    # candidate self-join: explicit repartition pins the exchange at
    # the full shuffle width (narrow 24 B rows — AQE's byte-based
    # coalescing would squeeze the CPU-heavy precheck stage fused
    # above it down to a handful of tasks; CLAUDE.md measured 5.4x)
    a, b = banded.alias("a"), banded.alias("b")
    pre = (
        a.repartition(n_part, "band_id", "band_hash")
        .join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return _precheck_verify(pre, side, side, threshold)


def minhash_lsh_pairs_vs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup: exact-verified pairs ``(new_id,
    corpus_id, jaccard)`` between a NEW batch and an EXISTING corpus —
    the daily-ingest dedup shape ("is anything in today's crawl a
    near-duplicate of what we already have?"). Output excludes
    identical ids (a re-ingested row is exact-dedup's job).

    Same engine as ``minhash_lsh_pairs`` (gram tables, band hashes,
    precheck, verify), so at any ``bands`` the output equals its pairs
    over the union restricted to cross pairs. Only the candidate join
    differs: the corpus NEVER shuffles for candidates — its band table
    streams against the **broadcast** band table of the new batch
    (24 bytes x bands per doc), while that table's docs x bands rows
    are within ``plan_policy.BROADCAST_MAX_DOCS`` (~120 MB, the
    precheck tables' byte budget). The precheck's doc-count bound is
    counted on the corpus. A deployed pipeline would materialize the
    corpus tables once and reuse them every batch."""
    new = _gram_tables(new_df, n, num_hashes, bands, text_col, id_col)
    corpus = _gram_tables(corpus_df, n, num_hashes, bands, text_col, id_col)
    c = _band_table(corpus[1], bands).alias("c")
    nw = _band_table(new[1], bands).alias("nw")
    nw = plan_policy.broadcast(nw, new[0].count() * bands, plan_policy.BROADCAST_MAX_DOCS)
    pre = c.join(
        nw,
        (F.col("c.band_id") == F.col("nw.band_id"))
        & (F.col("c.band_hash") == F.col("nw.band_hash"))
        & (F.col("c.id") != F.col("nw.id")),
    ).select(F.col("nw.id").alias("id_a"), F.col("c.id").alias("id_b"))
    return _precheck_verify(pre, new, corpus, threshold).select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "jaccard"
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """``(doc_id, simhash)``: 64-bit SimHash of ``text`` over word
    hashes (vectorized numpy in an ``arrow_udf``: the per-bit vote
    matrix doesn't express well in SQL); NULL text hashes to 0.
    Near-dup candidates are rows whose signatures differ in few bits.

    The whole Arrow batch is hashed at once: every word of every doc
    goes into one padded byte matrix, FNV-1a folds column-by-column in
    numpy uint64 (wrapping mul — bit-identical to ``_fnv1a``), and the
    per-doc bit votes come from one segmented reduction. Python touches
    each word once (encode), not once per byte — the per-word inner
    loop was the package's slowest path at scale (measured in
    bench_micro.py's ``simhash_*`` scenarios)."""

    @arrow_udf("long")
    def simhash(texts: pa.Array) -> pa.Array:
        return pa.array(simhash_batch(texts.to_pylist()))

    return df.select("doc_id", simhash(F.col("text")).alias("simhash"))


def simhash_batch(texts, bits: int = 64) -> "np.ndarray":
    """SimHash a whole batch of texts at once (signed int64 array,
    bit-identical to ``simhash_py`` per doc — property-tested). This is
    the kernel behind ``simhash_signatures``; importable standalone for
    tests and bench_micro's per-core scenarios."""
    n_docs = len(texts)
    counts = np.zeros(n_docs, dtype=np.int64)
    all_words: list[bytes] = []
    for i, t in enumerate(texts):
        ws = (t or "").lower().split()
        counts[i] = len(ws)
        for w in ws:
            all_words.append(w.encode("utf-8"))
    out = np.zeros(n_docs, dtype=np.int64)
    nz = counts > 0
    if all_words:
        hs = _fnv1a_batch(all_words)
        # uint8 bit matrix via unpackbits: 1 byte/word/bit (~64 B/word
        # peak, not the 512 B/word an int64 matrix costs — and no
        # transient uint64 broadcast either, unlike (hs>>i)&1);
        # reduceat accumulates in int64 via dtype=, so segments longer
        # than 255 words cannot overflow the uint8 storage type
        bits_m = np.unpackbits(
            hs.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8),
            axis=1,
            bitorder="little",
        )[:, :bits]
        # segmented per-doc vote sums: empty docs are excluded, so
        # segment starts are strictly increasing and reduceat's
        # empty-segment quirk never applies
        offsets = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        sums = np.add.reduceat(bits_m, offsets[nz], axis=0, dtype=np.int64)
        votes = 2 * sums - counts[nz, None]
        sigs = (
            (votes > 0).astype(np.uint64)
            << np.arange(bits, dtype=np.uint64)[None, :]
        ).sum(axis=1, dtype=np.uint64)
        out[nz] = sigs.view(np.int64)
    return out


def _fnv1a(s: str) -> int:
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _fnv1a_batch(words: list[bytes]) -> "np.ndarray":
    """FNV-1a of each byte string, vectorized and bit-identical to
    ``_fnv1a`` (property-tested). Words are length-sorted so byte
    position j folds only the still-active prefix — one uint64
    xor+wrapping-multiply per column over a flat byte buffer indexed by
    offsets (no padding, total work O(total bytes))."""
    n = len(words)
    lens = np.fromiter((len(w) for w in words), dtype=np.int64, count=n)
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    maxlen = int(lens.max(initial=0))
    if maxlen == 0:
        return h
    order = np.argsort(-lens, kind="stable")
    lens_s = lens[order]
    flat = np.frombuffer(
        b"".join(words[i] for i in order.tolist()), dtype=np.uint8
    ).astype(np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens_s[:-1], out=starts[1:])
    # active[j] = how many (sorted) words still have a byte at column j
    active = n - np.cumsum(np.bincount(lens_s, minlength=maxlen + 1))
    hs = h.copy()
    prime = np.uint64(0x100000001B3)
    for j in range(maxlen):
        k = int(active[j])
        hs[:k] = (hs[:k] ^ flat[starts[:k] + j]) * prime
    h[order] = hs
    return h


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs: ``(id_a, id_b, hamming)`` with
    ``hamming <= max_hamming``, EXACT by construction.

    Candidates come from banding the 64-bit signature into ``bands``
    equal bit-slices and self-joining on (band_id, band_value): by
    pigeonhole, any pair differing in <= bands-1 bits shares at least
    one identical band, so for ``max_hamming <= bands - 1`` recall is
    100% — deterministic, unlike MinHash-LSH's probabilistic bands.
    Verification is a JVM-side popcount on the XOR. The banded stage
    carries only (id, band_id, band_val, simhash) — ~32 bytes/row
    through the xbands shuffle, same narrow-candidate discipline as
    ``minhash_lsh_pairs``' band table."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding guarantees recall only for max_hamming <= bands-1 "
            f"(got max_hamming={max_hamming}, bands={bands})"
        )
    band_bits = 64 // bands
    mask = (1 << band_bits) - 1
    sigs = simhash_signatures(df).withColumnRenamed("doc_id", "id")
    banded = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "simhash", "band.band_id", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_py(text: Optional[str], bits: int = 64) -> int:
    """Pure-Python reference SimHash (signed int64, identical to the
    Spark UDF bit-for-bit) — drives oracles and tests."""
    ws = (text or "").lower().split()
    if not ws:
        return 0
    votes = [0] * bits
    for w in ws:
        h = _fnv1a(w)
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    sig = 0
    for i, v in enumerate(votes):
        if v > 0:
            sig |= 1 << i
    return sig - (1 << bits) if sig >= (1 << (bits - 1)) else sig


def duplicate_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_max_edges: Optional[int] = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    ``(id, cluster_id)`` for every id that appears in a pair, where
    cluster_id is the minimum id in the component (the canonical
    representative to keep).

    Iterative hash-to-min label propagation — the standard shuffle-
    friendly CC for Spark: each round every vertex takes the min of its
    own label and its neighbors' labels (one equi-join + one groupBy
    per round), converging in O(component diameter) rounds, NOT
    O(graph size). Near-dup graphs are unions of small cliques, so 2-3
    rounds typically suffice; ``max_iterations`` bounds adversarial
    chains — if the graph has NOT converged by then, a RuntimeError is
    raised rather than silently returning a wrong partial clustering.
    Each round is ``localCheckpoint``-ed to truncate plan lineage
    (without it the plan doubles per iteration). Convergence is
    detected by an exact changed-label count per round.

    The symmetric edge set is materialized ONCE up front
    (``localCheckpoint``): it is joined in every round, and without the
    checkpoint each round re-executes the caller's whole pair plan
    (e.g. the MinHash-LSH candidate+verify job — measured 180 s of pure
    recompute over a 47-node graph). The edge list is tiny relative to
    the corpus (near-dup pairs only), so materializing it is the right
    trade at any scale; on a cluster the same role is played by a
    checkpoint to durable storage.

    SMALL-GRAPH FAST PATH: when the materialized edge set has at most
    ``driver_max_edges`` rows, the components are computed by a
    driver-side union-find over the (already checkpointed) edges — the
    same answer, none of the per-round Spark job latency (measured
    5.7 s of round overhead for a 256-edge gate graph). This is the
    same bounded-driver-state design as the BPE merge loop: the cap is
    explicit, the fallback is the distributed hash-min loop, and at
    corpus scale a pair graph past the cap takes the distributed path
    automatically. Pass ``driver_max_edges=None/0`` to force the
    distributed loop (the scale-shape tests do)."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    id_type = edges.schema["src"].dataType
    edges = edges.localCheckpoint()
    if driver_max_edges and edges.count() <= driver_max_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min: the smaller id becomes the root, so the
                # final label equals the distributed hash-min result
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        schema = T.StructType(
            [
                T.StructField("id", id_type),
                T.StructField("cluster_id", id_type),
            ]
        )
        return local_dim(pairs.sparkSession, rows, schema)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(max_iterations):
        neighbor_labels = sym.join(
            labels, sym["dst"] == labels["id"]
        ).select(F.col("src").alias("id"), F.col("label"))
        new_labels = (
            labels.select("id", "label")
            .unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing) — raise "
            f"max_iterations (components need rounds >= min-id eccentricity)"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def dedup_corpus(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iterations: int = 20,
    precomputed_pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """The end-to-end dedup decision a training pipeline materializes:
    ``(doc_id, cluster_id, keep)`` for EVERY document — ``cluster_id``
    is the minimum doc id of the document's near-duplicate cluster
    (its own id if unique), ``keep`` marks exactly one representative
    (the minimum id) per cluster.

    Composition: exact-duplicate collapse (md5 of normalized text ->
    one representative per identical group — one cheap hash aggregate
    that shrinks the LSH input; duplicate-heavy corpora are mostly
    EXACT duplicates) -> MinHash-LSH near-dup pairs over the
    representatives -> iterative connected components -> decisions
    broadcast back to all members. The collapse changes no decision
    (byte-equal docs have Jaccard 1 >= threshold, so they cluster
    anyway); it only shrinks the text the LSH stage chews.

    ``precomputed_pairs``: an already-materialized exact-recall pair
    set (``id_a, id_b, ...``) over a SUPERSET of ``df``'s ids — e.g.
    the ``minhash_lsh_pairs`` output a sibling job computed with the
    SAME (threshold, n) on the same corpus. Because the emitted pairs
    are exact-verified (precision) and band-complete at the caller's
    chosen recall, restricting a superset's pairs to the
    representative set equals recomputing pairs over the
    representatives — each pair's membership depends only on the two
    documents. Skips the whole LSH stage (the dominant cost when the
    pair graph is shared across dedup queries)."""
    from grokspark.operators.textops import content_fingerprint_col

    ids = df.select(
        F.col(id_col).alias("id"),
        content_fingerprint_col(F.col(text_col)).alias("_fp"),
    )
    reps = ids.groupBy("_fp").agg(F.min("id").alias("rep_id"))
    # narrow (id, rep_id) map, checkpointed once: it feeds the
    # representative set, the pair restriction and the final cluster
    # rejoin — lazily each consumer re-ran the md5 fingerprint
    # aggregate (the reused-subplan pattern)
    doc_rep = ids.join(reps, "_fp").select("id", "rep_id").localCheckpoint()
    # representative ids come from the narrow map — no text join
    rep_ids_frame = doc_rep.select("rep_id").distinct()
    if precomputed_pairs is not None:
        pairs = (
            precomputed_pairs.join(
                rep_ids_frame.withColumnRenamed("rep_id", "id_a"),
                "id_a",
                "left_semi",
            ).join(
                rep_ids_frame.withColumnRenamed("rep_id", "id_b"),
                "id_b",
                "left_semi",
            )
        )
    else:
        rep_docs = df.join(
            rep_ids_frame.select(F.col("rep_id").alias(id_col)),
            id_col,
            "left_semi",
        )
        pairs = minhash_lsh_pairs(
            rep_docs, threshold, n, num_hashes, bands, text_col, id_col
        )
    clusters = duplicate_clusters(pairs, max_iterations).withColumnRenamed(
        "id", "rep_id"
    )
    out = doc_rep.join(clusters, "rep_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("rep_id"))
    )
    return out.select(
        F.col("id").alias(id_col),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, computed in double via
    zip_with + aggregate (JVM-side, no UDF). A zero vector scores -1.0
    — DuckDB's ``list_cosine_similarity`` rule, which every embedding
    oracle uses (a bare 0/0 raises DIVIDE_BY_ZERO under ANSI); a NULL
    side stays NULL."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_a = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    norm_b = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    denom = norm_a * norm_b
    return F.when(denom == 0, F.lit(-1.0)).otherwise(dot / denom)


def _vectors(col, dim: int) -> np.ndarray:
    """n x ``dim`` float64 matrix of a ``list<float>`` Arrow column in
    one C-side copy — the only list->matrix decode of the numpy
    kernels (a per-row Python conversion dominated a whole kNN stage at
    550k x 64-dim probe rows). A NULL vector decodes to a NaN row,
    which compares false against everything: it sets no LSH sign bit
    (bucket 0, as ``lsh_bucket_col``'s fold gives it) and never scores
    >= a threshold, so it is never a pair or a dropping cell-mate."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    if not col.null_count:
        return flat.reshape(-1, dim)
    out = np.full((len(col), dim), np.nan)
    out[col.is_valid().to_numpy(zero_copy_only=False)] = flat.reshape(-1, dim)
    return out


def _cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs cosine of the rows of ``a`` against the rows of ``b``
    as one float64 normalized matmul; a zero row scores -1.0 against
    everything, the same rule as ``cosine``."""
    na = np.linalg.norm(a, axis=1)
    nb = np.linalg.norm(b, axis=1)
    sims = (a / np.where(na == 0, 1.0, na)[:, None]) @ (
        b / np.where(nb == 0, 1.0, nb)[:, None]
    ).T
    sims[na == 0, :] = -1.0
    sims[:, nb == 0] = -1.0
    return sims


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-duplicate pairs by cosine >= threshold.
    Brute force over the whole input: the exactness baseline of
    ``embedding_lsh_pairs``, which is the scale path."""
    # same stream-side spread rationale as jaccard_pairs: the
    # interpreted cosine fold otherwise evaluates every pair on one core
    a = plan_policy.spread(df).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _semdedup_cells(
    df: DataFrame, centroids: list[list[float]], vec_col: str, id_col: str
) -> DataFrame:
    from grokspark.operators.ivf import ivf_assign_col

    # spread a single-split local scan: the k x dim argmax-dot
    # assignment is an interpreted expression chain and would run on
    # one core (no-op on a cluster; size-floored so tiny local inputs
    # skip the shuffle)
    return plan_policy.spread(df, plan_policy.SPREAD_MIN_BYTES).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        ivf_assign_col(vec_col, centroids).alias("cell"),
    )


# expected rows per SemDeDup cell, centroid or sign-LSH alike
SEMDEDUP_CELL_ROWS = 512


def semdedup_recommended_cells(n_rows: int) -> int:
    """Centroid count that keeps expected cell size ~constant
    (``SEMDEDUP_CELL_ROWS``) — the SemDeDup scale rule (the paper's
    k ~ 100k on LAION-5B is exactly n/target): per-cell similarity work
    is quadratic in cell size, so k must grow WITH the corpus, never
    stay fixed."""
    return max(8, int(round(n_rows / SEMDEDUP_CELL_ROWS)))


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest coarse
    centroid (argmax dot product — ``ivf_assign_col``, the same
    bit-reproducible rule as the IVF index), then inside each cell
    drop a row iff some SMALLER-id cell-mate has cosine >=
    ``threshold`` — the paper's upper-triangular max-similarity rule
    with id order as the scan order. Returns ``(id_col, cell, kept)``
    for every input row; a NULL vector is kept and drops no cell-mate.

    100-TB shape: one scan assigns cells (pure JVM expressions), one
    shuffle groups by cell, and the quadratic similarity work is
    bounded per cell — size ``len(centroids)`` so cells stay small
    (the paper uses k ~ 100k on LAION; target n/k of ~1-16k rows).
    Scoring is one float64 normalized matmul per cell (Arrow-batched,
    C speed); each vector ships exactly once. Dropping is local to a
    cell by construction, so no cross-cell pass or global state is
    needed. Mirrors the knn_join policy: matmul sums in a different
    order than a sequential fold, so scores near the threshold could
    flip in the last ulp — the gate query's corpus margins are ~1e-4
    (checked), and the tests compare with the DuckDB oracle.
    """
    cells = _semdedup_cells(df, centroids, vec_col, id_col)
    return _semdedup_prune(
        cells, threshold, df.schema[id_col].dataType, id_col, len(centroids[0])
    )


def _semdedup_prune(
    cells: DataFrame, threshold: float, id_type, id_col: str, dim: int
) -> DataFrame:
    """Shared prune stage over a prepared ``(id, vec, cell)`` frame:
    one shuffle by cell into a grouped float64 matmul applying the
    smaller-id-mate drop rule."""
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("cell", T.IntegerType()),
            T.StructField("kept", T.IntegerType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    thr = float(threshold)

    def prune(cell: pa.Table) -> pa.Table:
        cell = cell.sort_by("id")
        V = _vectors(cell["vec"], dim)
        dropped = np.tril(_cosine_matrix(V, V) >= thr, -1).any(axis=1)
        return pa.table(
            {
                "id": cell["id"],
                "cell": cell["cell"],
                "kept": (~dropped).astype(np.int32),
            },
            schema=arrow_schema,
        )

    out = cells.groupBy("cell").applyInArrow(prune, out_schema)
    return out.select(
        F.col("id").alias(id_col), F.col("cell"), F.col("kept")
    )


def semdedup_lsh(
    df: DataFrame,
    n_planes: Optional[int] = None,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    dim: Optional[int] = None,
) -> DataFrame:
    """SemDeDup with SIGN-LSH cells instead of centroid cells — the
    assignment-cost fix the scale probe demanded: centroid assignment
    is O(k) dot products per row and k must grow with the corpus
    (semdedup_recommended_cells), making assignment O(n^2/target)
    overall — the probe measured curvature 0.80 from exactly that
    term. A sign-LSH bucket reaches 2^n_planes cells with n_planes
    (~log2 k) dot products per row, so assignment stays O(n log k).
    Same per-cell drop rule and prune kernel as ``semdedup``; cells
    are hyperplane buckets, so the partition differs from k-means
    cells (near-dups across bucket boundaries are missed by BOTH
    methods by design — the paper's accepted approximation); a NULL
    vector lands in bucket 0, as with ``lsh_bucket_col``. Buckets
    are less balanced than trained cells; auto-sizing targets
    ``SEMDEDUP_CELL_ROWS`` expected rows per bucket."""
    from grokspark.operators.similarity import (
        _bucketed_vectors,
        _resolve_n_planes,
        _vector_dim,
        hyperplanes,
    )

    n_planes = _resolve_n_planes(
        df, n_planes, "semdedup_lsh", target_bucket_rows=SEMDEDUP_CELL_ROWS
    )
    if dim is None:
        # callers that know the width pass ``dim`` and skip this probe job
        dim = _vector_dim(df, vec_col)
    planes = hyperplanes(dim, n_planes, seed)
    cells = _bucketed_vectors(df, vec_col, id_col, planes).select(
        "id", "vec", F.col("_bucket").cast("int").alias("cell")
    )
    return _semdedup_prune(cells, threshold, df.schema[id_col].dataType, id_col, dim)
