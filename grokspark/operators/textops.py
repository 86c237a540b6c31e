"""Text-analysis operators: token counting, quality scoring, language
ID, document fingerprinting. Built-in expressions, so Catalyst fuses
them into the scan projection; winnowing alone runs a numpy kernel in
an ``arrow_udf`` (``winnow_batch`` says why).

Each operator documents its exact formula so the DuckDB oracle in
__spark_entry__.py can reproduce it bit-for-bit (same IEEE ops in the
same order; integer outputs preferred at comparison points).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from grokspark.plan_policy import SPREAD_MIN_BYTES, spread

__all__ = [
    "words",
    "token_count",
    "quality_scores",
    "repetition_scores",
    "redact_pii",
    "lang_id",
    "fingerprint",
    "content_fingerprint_col",
    "winnow_fingerprints",
    "winnow_fingerprints_py",
    "winnow_pairs",
    "STOPWORDS_EN",
]

# Tiny fixed stopword list for the language-ID heuristic. Deliberately
# small & frozen: the oracle SQL embeds the same list.
STOPWORDS_EN = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]


def words(text: Column) -> Column:
    """Whitespace tokenization; leading/trailing space safe."""
    return F.split(F.trim(text), r"\s+")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count plus a BPE-ish subword proxy count
    (word-boundary regex pieces: runs of letters, digits, or single
    punctuation — a deterministic stand-in for a tokenizer's piece
    count)."""
    w = words(F.col(text_col))
    pieces = F.split(F.trim(F.regexp_replace(F.col(text_col), r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])", r"$1 ")), r"\s+")
    return (
        spread(df, SPREAD_MIN_BYTES)
        .withColumn("n_words", F.size(w))
        .withColumn("n_pieces", F.size(pieces))
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features:

    - n_chars_m  : length(text)
    - n_words    : whitespace token count
    - mean_word_len = n_chars_nospace / n_words
    - punct_ratio   = punct_chars / n_chars
    - stop_ratio    = stopword tokens / n_words
    - quality = 1 if 20 <= n_words and punct_ratio < 0.2
                and stop_ratio >= 0.03 else 0   (binary keep-flag)
    """
    df = spread(df, SPREAD_MIN_BYTES)
    text = F.col(text_col)
    w = words(text)
    n_words = F.size(w)
    n_chars = F.length(text)
    n_nospace = F.length(F.regexp_replace(text, r"\s", ""))
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x))))
    punct_ratio = n_punct.cast("double") / n_chars.cast("double")
    stop_ratio = n_stop.cast("double") / n_words.cast("double")
    keep = (
        (n_words >= 20) & (punct_ratio < F.lit(0.2)) & (stop_ratio >= F.lit(0.03))
    ).cast("int")
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_chars_m", n_chars)
        .withColumn("mean_word_len", n_nospace.cast("double") / n_words.cast("double"))
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("quality_keep", keep)
    )


def repetition_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition-quality features, computed MAP-ONLY
    (no shuffle: the per-document mode-bigram is a sort_array + linear
    fold inside the row, not an explode + groupBy — at 100 TB the
    repetition filter is a pure scan-fused stage):

    - ``dup_word_ratio``      = (n_words - n_distinct_words) / n_words
    - ``top_bigram``          = most frequent word 2-gram (ties: the
                                lexicographically smallest, which the
                                ascending sort makes the FIRST maximal
                                run — deterministic across engines)
    - ``top_bigram_cnt``      = its occurrence count (0 if < 2 words)
    - ``top_bigram_ratio``    = top_bigram_cnt * length(top_bigram)
                                / n_chars (the fraction of characters
                                inside copies of the top bigram)
    - ``repetition_keep``     = 1 iff dup_word_ratio <= 0.6 AND
                                top_bigram_ratio <= 0.12 (both
                                single-division doubles of exact ints,
                                so the SQL oracle compares bit-equal)

    The real Gopher rule-set adds line/paragraph fractions; these
    corpora are single-line, so the word/bigram family is the
    meaningful subset — the operator shape (document -> scores + keep
    flag, no Python) is what carries over. NULL text scores as empty
    (dup 0, ratio 0, keep 1) rather than poisoning the keep flag to
    NULL."""
    df = spread(df, SPREAD_MIN_BYTES)
    text = F.coalesce(F.col(text_col), F.lit(""))
    w = words(F.lower(text))
    n_words = F.size(w)
    n_chars = F.length(text)
    dup_ratio = (n_words - F.size(F.array_distinct(w))).cast(
        "double"
    ) / n_words.cast("double")

    # all bigrams (with multiplicity), sorted so equal grams are
    # adjacent; same zip_with shape as dedup.ngrams (no per-index
    # slice — that form is O(words^2) per document)
    glen = n_words - 1
    bigrams = F.zip_with(
        F.slice(w, 1, glen), F.slice(w, 2, glen), lambda a, b: F.concat_ws(" ", a, b)
    )
    sorted_grams = F.sort_array(bigrams)
    # linear fold: longest run of equal adjacent grams = mode count.
    # Strict > keeps the FIRST maximal run -> smallest gram on ties.
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("best_gram"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["best_gram"]).alias("best_gram"),
        )

    top = F.aggregate(sorted_grams, init, step)
    top_cnt = F.when(n_words >= 2, top["best"]).otherwise(F.lit(0))
    top_gram = F.when(n_words >= 2, top["best_gram"]).otherwise(F.lit(""))
    top_ratio = (top_cnt * F.length(top_gram)).cast("double") / n_chars.cast(
        "double"
    )
    top_ratio = F.when(n_chars > 0, top_ratio).otherwise(F.lit(0.0))
    keep = ((dup_ratio <= 0.6) & (top_ratio <= 0.12)).cast("int")
    return (
        df.withColumn("n_words", n_words)
        .withColumn("dup_word_ratio", dup_ratio)
        .withColumn("top_bigram", top_gram)
        .withColumn("top_bigram_cnt", top_cnt)
        .withColumn("top_bigram_ratio", top_ratio)
        .withColumn("repetition_keep", keep)
    )


# PII patterns: deliberately inside the Java-regex / RE2 / DuckDB
# common dialect (no backrefs, no lookaround, ASCII classes, \b is the
# ASCII word boundary in all three) so the SQL oracle applies the SAME
# source strings. Email before phone: an email's digit runs must not be
# half-eaten by the phone rule.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction as a scan-fused JVM stage: sequential
    ``regexp_replace`` per pattern (email -> ipv4 -> phone, order is
    part of the contract) plus per-kind match counts BEFORE redaction.
    Adds ``redacted`` plus ``n_email/n_ipv4/n_phone`` columns; no UDF,
    no shuffle — at corpus scale this rides the same whole-stage
    codegen span as the quality filters."""
    text = F.col(text_col)
    out = df
    for kind, pat, _ in PII_PATTERNS:
        out = out.withColumn(f"n_{kind}", F.regexp_count(text, F.lit(pat)))
    red = text
    for _, pat, token in PII_PATTERNS:
        red = F.regexp_replace(red, pat, token)
    return out.withColumn("redacted", red)


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-free heuristic language ID: predict ``en`` when the
    English-stopword token ratio is >= 0.05, else ``other``. (A real
    system plugs a char-n-gram model into the same shape; the operator
    contract — deterministic text -> label column, no UDF — is the
    point.)"""
    w = words(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, F.lower(x))))
    ratio = n_stop.cast("double") / F.size(w).cast("double")
    return df.withColumn(
        "lang_pred", F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other"))
    )


def content_fingerprint_col(text: Column) -> Column:
    """THE content-identity rule: md5 of whitespace-normalized
    lowercase text (md5, not xxhash, so any engine reproduces it).
    Single source of truth — ``fingerprint``, ``exact_dedup`` and
    ``dedup_corpus``'s collapse stage all use this Column, and the
    DuckDB oracles mirror the same expression; change it here or the
    Spark/oracle pair silently diverges."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint column (see ``content_fingerprint_col``)."""
    return spread(df, SPREAD_MIN_BYTES).withColumn(
        "fp", content_fingerprint_col(F.col(text_col))
    )


# -- winnowing (rolling-hash) fingerprints -----------------------------------

# Polynomial rolling hash over character codes: fold (acc*B + c) % M.
# B/M chosen so every intermediate fits a signed 64-bit int with ANSI
# arithmetic (acc < M=2^31-1, so acc*B + c < 2^40 — no overflow throw)
# and the formula is one line of pure Python for the oracle.
WINNOW_B = 257
WINNOW_M = (1 << 31) - 1
WINNOW_K = 5  # k-gram length (characters)
WINNOW_W = 4  # winnowing window (k-grams per window)


def winnow_batch(texts, k: int = WINNOW_K, window: int = WINNOW_W) -> list:
    """Winnow a whole batch of texts at once in numpy (bit-identical to
    ``winnow_fingerprints_py`` per doc — property-tested). Returns one
    list of distinct fps (first-seen order) per input text.

    Why a kernel and not expressions: the obvious pure-expression form
    (transform over window starts -> array_min(slice(transform over
    gram starts -> aggregate(slice(codes)))) ) is CUBIC at runtime —
    Spark higher-order functions are interpreted and re-evaluate every
    subtree inside a lambda per element (no loop-invariant hoisting),
    so the grams array is recomputed for every window and the codes
    array for every gram. A 550-char doc costs ~10^8 interpreted
    evals; the sf0.01 corpus never finishes. Here every step is one
    vectorized pass: UTF-16 code units straight from the encoded
    bytes, the k-step polynomial fold over all gram starts of all docs
    at once, the window minimum as ``window`` shifted elementwise
    minima (doc boundaries respected by slicing each doc's valid
    window range)."""
    import re

    import numpy as np

    normed = [
        re.sub(r"\s+", " ", (t or "").strip()).lower() for t in texts
    ]
    codes_per_doc = [
        np.frombuffer(s.encode("utf-16-le"), dtype="<u2").astype(np.int64)
        for s in normed
    ]
    lens = np.fromiter((len(c) for c in codes_per_doc), dtype=np.int64, count=len(normed))

    def fold(arr2d_cols):
        acc = np.zeros(arr2d_cols[0].shape, dtype=np.int64)
        for col in arr2d_cols:
            acc = (acc * WINNOW_B + col) % WINNOW_M
        return acc

    out: list[list[int]] = []
    long_idx = [i for i, n in enumerate(lens) if n >= k]
    # short docs: whole-text fold, one fp
    short_fp = {
        i: int(fold([c[j : j + 1] for j in range(len(c))])[0]) if len(c) else 0
        for i, c in enumerate(codes_per_doc)
        if lens[i] < k
    }
    gram_segments: dict[int, "np.ndarray"] = {}
    if long_idx:
        flat = np.concatenate([codes_per_doc[i] for i in long_idx])
        doc_lens = lens[long_idx]
        starts0 = np.concatenate(([0], np.cumsum(doc_lens[:-1])))
        # all gram start positions of all docs, flat
        n_grams = doc_lens - k + 1
        gram_starts = np.concatenate(
            [s + np.arange(g) for s, g in zip(starts0, n_grams)]
        )
        g = fold([flat[gram_starts + j] for j in range(k)])
        goff = np.concatenate(([0], np.cumsum(n_grams[:-1])))
        for pos, i in enumerate(long_idx):
            gram_segments[i] = g[goff[pos] : goff[pos] + n_grams[pos]]
    for i in range(len(normed)):
        if i in short_fp:
            out.append([short_fp[i]])
            continue
        grams = gram_segments[i]
        w = min(window, len(grams))
        n_windows = max(len(grams) - window + 1, 1)
        mins = grams[:n_windows].copy()
        for j in range(1, w):
            np.minimum(mins, grams[j : j + n_windows], out=mins)
        _vals, first = np.unique(mins, return_index=True)
        out.append([int(v) for v in mins[np.sort(first)]])
    return out


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Aiken, the MOSS
    scheme) of ``(doc_id, text)``: rolling-hash every character
    ``WINNOW_K``-gram of the normalized text, slide a ``WINNOW_W``
    window over consecutive gram hashes, keep each window's MINIMUM,
    dedupe — ``(id, fp)`` exploded, ready for an inverted-index join.
    Guarantees: any shared substring of length >= k + window - 1
    yields at least one shared fingerprint, and at least one gram per
    window survives (density ~2/(window+1)).

    Executed as an Arrow-batched numpy kernel (``winnow_batch``) —
    see its docstring for why the pure-expression form is unusable
    (interpreted HOF lambdas make it cubic). Docs shorter than k chars
    get the whole-text hash as their single fingerprint."""

    @arrow_udf("array<long>")
    def fps(texts: pa.Array) -> pa.Array:
        return pa.array(winnow_batch(texts.to_pylist()), pa.list_(pa.int64()))

    return df.select(
        F.col("doc_id").alias("id"), F.explode(fps(F.col("text"))).alias("fp")
    )


def winnow_fingerprints_py(
    text: str, k: int = WINNOW_K, window: int = WINNOW_W
) -> list[int]:
    """Pure-Python mirror of ``winnow_fingerprints`` for one document
    (identical normalization, hash fold, window minima, first-seen
    order of the distinct fps) — drives oracles and tests."""
    import re

    normalized = re.sub(r"\s+", " ", (text or "").strip()).lower()
    codes = [ord(c) if ord(c) <= 0xFFFF else None for c in normalized]
    if any(c is None for c in codes):  # astral chars: mirror UTF-16 unit
        codes = [u for ch in normalized for u in _utf16_units(ch)]

    def fold(cs):
        acc = 0
        for c in cs:
            acc = (acc * WINNOW_B + c) % WINNOW_M
        return acc

    if len(codes) < k:
        return [fold(codes)]
    grams = [fold(codes[i : i + k]) for i in range(len(codes) - k + 1)]
    w = min(window, len(grams))
    out: list[int] = []
    seen = set()
    for j in range(max(len(grams) - window + 1, 1)):
        m = min(grams[j : j + w])
        if m not in seen:
            seen.add(m)
            out.append(m)
    return out


def _utf16_units(ch: str) -> list[int]:
    o = ord(ch)
    if o <= 0xFFFF:
        return [o]
    o -= 0x10000
    return [0xD800 + (o >> 10), 0xDC00 + (o & 0x3FF)]


def winnow_pairs(
    df: DataFrame,
    min_shared: int = 2,
    max_fp_df: "int | None" = None,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints:
    ``(id_a, id_b, n_shared)`` for pairs sharing >= ``min_shared``
    surviving fps. Candidate generation is ONE equi-join over the
    inverted (id, fp) index — narrow rows, no quadratic pass, the same
    discipline as the LSH candidate stages.

    ``max_fp_df`` is the hot-key control and is NOT optional at scale:
    a fingerprint appearing in M documents contributes M^2/2 joined
    rows, so corpus-wide boilerplate (which carries no near-dup signal
    anyway) turns the join quadratic — on this repo's synthetic corpus
    the hottest fp hits 80% of all docs. The cap drops fps with
    document frequency > max_fp_df before pairing (one extra narrow
    aggregate + semi-join), bounding the join at corpus_fps *
    max_fp_df^2/2. Classic df-pruning from the MOSS/winnowing
    literature; None keeps every fp (exactness for small corpora).

    The ``(id, fp)`` index is referenced by every join branch (3x with
    the cap), so it is materialized ONCE inside the op
    (``localCheckpoint`` — same discipline as ``duplicate_clusters``'s
    edge set; on a real cluster, a durable checkpoint/table plays the
    same role) instead of re-running the Python fingerprint kernel per
    branch."""
    fps = winnow_fingerprints(df).localCheckpoint()
    if max_fp_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("fp")
        )
        fps = fps.join(keep, "fp", "left_semi")
    a = fps.select(F.col("id").alias("id_a"), "fp")
    b = fps.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
