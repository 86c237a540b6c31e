"""End-to-end training-corpus preparation — the composed job a
pipeline actually materializes, chaining the individually-verified
operators:

    quality filter  (textops.quality_scores keep rule)
 -> near-dup dedup  (dedup.dedup_corpus: exact collapse + MinHash-LSH
                     + connected components; keep one rep per cluster)
 -> hash split      (sampling.hash_split train/val/test)
 -> BPE tokenize    (bpe.train_bpe on the TRAIN split only — the
                     leakage-safe convention: val/test must not shape
                     the vocab — then bpe.apply_bpe_ids' encoding
                     corpus-wide, inside the pack stage)
 -> sequence pack   (packing.pack_groups over (split, bucket) — the
                     one pack stage packing.pack_sequences also runs)

Output: one packed training table ``(split, bucket, pack_id, n_docs,
n_tok, doc_ids, tokens, n_truncated)`` — a pure function of the corpus
content (every stage is deterministic and partition-independent), so
the whole composition is reproducible bit-for-bit by the single-process
``prepare_corpus_py`` twin that drives the driver oracle.

Scale shape: each stage keeps its own 100-TB discipline (one
hash-aggregate collapse, narrow LSH band shuffles, driver-bounded BPE
word table, md5-bucketed packing); the composition adds only narrow
id-joins between stages. The kept-document set is localCheckpoint-ed
once — dedup's decision table feeds the split, the tokenizer and the
packer, and without the checkpoint each consumer would re-run the
whole LSH+CC job (same rule as duplicate_clusters' edge set).
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grokspark.operators.bpe import (
    bpe_ids_encoder,
    bpe_vocab,
    cap_word_counts,
    encode_word,
    pretokenize,
    train_bpe_py,
    word_counts_df,
)
from grokspark.operators.dedup import dedup_corpus
from grokspark.operators.packing import (
    pack_bucket_col,
    pack_bucket_of,
    pack_groups,
    pack_sequences_py,
)
from grokspark.operators.sampling import hash_split, split_thresholds
from grokspark.operators.textops import STOPWORDS_EN, quality_scores

__all__ = ["prepare_corpus", "prepare_corpus_py"]

DEFAULT_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def prepare_corpus(
    df: DataFrame,
    *,
    split_weights: Optional[dict[str, float]] = None,
    max_len: int = 512,
    n_buckets: int = 32,
    n_merges: int = 200,
    max_words: Optional[int] = None,
    threshold: float = 0.5,
    n: int = 2,
    bands: int = 64,
) -> DataFrame:
    """Quality-filter, dedup, split, BPE-tokenize and pack a raw
    ``(doc_id, text)`` corpus into training rows (module doc has the full
    contract). ``max_words`` caps the word-frequency table that rides
    to the driver for the BPE merge loop (deterministic top-N: count
    desc, word asc) — at corpus scale the distinct-word tail is
    Heaps-bounded but not driver-bounded without it.

    Other document filters compose upstream of this job: C4 line
    cleaning (``clean.c4_clean(df).filter("kept")``, its ``text_clean``
    as the text), the Gopher repetition rule
    (``textops.repetition_scores`` with ``repetition_keep == 1``),
    decontamination (``decontam.decontaminate_corpus(...).filter("keep")``)
    and domain-mixture downsampling (``sampling.mixture_sample`` — the
    packed output drops the group column, so mix first). Each keeps or
    rewrites one document at a time, so it commutes with the quality
    gate and gives the same packs as a stage inside the job."""
    weights = split_weights or DEFAULT_SPLITS
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")

    quality = quality_scores(df).filter(F.col("quality_keep") == 1)
    # the filtered set feeds dedup (fingerprints + LSH input) and the
    # kept semi-join — materialize it once so the map-only filter
    # isn't re-scanned per consumer
    quality = quality.select("doc_id", "text").localCheckpoint()
    decisions = dedup_corpus(quality, threshold=threshold, n=n, bands=bands)
    kept = quality.join(
        decisions.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    ).select("doc_id", "text")
    kept = hash_split(kept, weights).localCheckpoint()

    train_docs = kept.filter(F.col("split") == "train")
    wc = word_counts_df(train_docs)
    if max_words is not None:
        wc = wc.orderBy(F.col("n").desc(), F.col("word").asc()).limit(max_words)
    counts = {r["word"]: r["n"] for r in wc.collect()}
    merges = train_bpe_py(counts, n_merges)
    vocab = bpe_vocab(counts, merges)

    # ONE grouped pack over (split, bucket) instead of a per-split
    # pack_sequences loop: packing is a per-(split, bucket)-group
    # function either way (same rows, same greedy-by-id order — the
    # packer sorts its group internally — same pack_id = "<bucket>#<i>"
    # numbering), so the output is bit-identical. BPE encoding happens
    # INSIDE the pack stage (one Python stage, one JVM<->Python Arrow
    # boundary) rather than as a separate Arrow tokenize stage: the
    # shuffle carries text (~the same bytes as the token ids) and the
    # merge table ships once per task via closure; per-word memoization
    # makes the encode itself negligible (token streams identical —
    # same merges, same vocab, deterministic encode_word).
    keyed = kept.select(
        "split",
        pack_bucket_col("doc_id", n_buckets).alias("bucket"),
        F.col("doc_id").cast("string").alias("_id"),
        F.col("text").alias("_doc"),
    )
    return pack_groups(
        keyed,
        ["split"],
        max_len,
        lambda texts: map(bpe_ids_encoder(merges, vocab), texts),
    )


# -- single-process reference twin (drives the driver oracle) ----------------

# Java \s and \w are ASCII — Python's are Unicode, so pin ASCII
# semantics in both twins (U+00A0 etc. must NOT count as whitespace)
_WS = re.compile(r"\s+", re.ASCII)
_PUNCT = re.compile(r"[^\w\s]", re.ASCII)


def _quality_keep_py(text: str) -> bool:
    """Mirror of textops.quality_scores' keep rule (same single
    divisions, same comparisons). NULL/empty text mirrors the Spark
    side's outcome: NaN ratios compare false -> not kept."""
    text = text or ""
    words = _WS.split(text.strip())
    n_words = len(words)
    n_chars = len(text)
    n_punct = n_chars - len(_PUNCT.sub("", text))
    if n_chars == 0 or n_words == 0:
        return False
    punct_ratio = n_punct / n_chars
    n_stop = sum(1 for w in words if w.lower() in _STOP)
    stop_ratio = n_stop / n_words
    return n_words >= 20 and punct_ratio < 0.2 and stop_ratio >= 0.03


_STOP = set(STOPWORDS_EN)


def _repetition_keep_py(text: str) -> bool:
    """Mirror of textops.repetition_scores' keep rule (same single
    divisions, same tie-break: most frequent bigram, ties to the
    lexicographically smallest)."""
    text = text or ""
    ws = _WS.split(text.strip().lower())
    n_words = len(ws)
    n_chars = len(text)
    dup = (n_words - len(set(ws))) / n_words
    grams = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
    if grams and n_chars > 0:
        from collections import Counter

        counts = Counter(grams)
        best = max(counts.values())
        top = min(g for g, c in counts.items() if c == best)
        ratio = (best * len(top)) / n_chars
    else:
        ratio = 0.0
    return dup <= 0.6 and ratio <= 0.12


def _grams_py(text: str, n: int) -> set:
    """Mirror of dedup.ngrams: distinct lowercase word n-grams, whole
    text as one shingle when shorter than n words."""
    ws = _WS.split((text or "").strip().lower())
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _decontam_clean_py(
    docs: list[tuple[int, str]], benchmark: list[str], n: int
) -> list[tuple[int, str]]:
    """Mirror of decontam.decontaminate_corpus' keep flag: keep docs
    sharing NO word n-gram with the benchmark texts."""
    bench: set = set()
    for t in benchmark:
        bench |= _grams_py(t, n)
    return [(i, t) for i, t in docs if not (_grams_py(t, n) & bench)]


def _norm_fp_py(text: str) -> str:
    return hashlib.md5(
        _WS.sub(" ", text.strip()).lower().encode("utf-8")
    ).hexdigest()


def _dedup_keep_py(docs: list[tuple[int, str]], threshold: float, n: int) -> set:
    """Mirror of dedup.dedup_corpus' keep set: exact collapse ->
    exact-Jaccard pairs over representatives (the LSH output at
    bands=64 — miss probability ~1e-8) -> connected components ->
    min-id representative per cluster."""
    reps: dict[str, int] = {}
    for i, t in docs:
        fp = _norm_fp_py(t)
        if fp not in reps or i < reps[fp]:
            reps[fp] = i
    rep_ids = set(reps.values())
    rep_docs = [(i, t) for i, t in docs if i in rep_ids]
    grams = {i: _grams_py(t, n) for i, t in rep_docs}
    ids = sorted(grams)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # inverted gram index: only pairs sharing >= 1 gram can reach any
    # positive Jaccard, so candidates come from per-gram posting lists
    # (same trick as the inverted-index oracle SQL) instead of all pairs
    inv: dict[str, list[int]] = {}
    for i in ids:
        for g in grams[i]:
            inv.setdefault(g, []).append(i)
    cands: set[tuple[int, int]] = set()
    for posting in inv.values():
        for a_pos in range(len(posting)):
            for b_pos in range(a_pos + 1, len(posting)):
                a, b = posting[a_pos], posting[b_pos]
                cands.add((a, b) if a < b else (b, a))
    for a, b in cands:
        ga, gb = grams[a], grams[b]
        inter = len(ga & gb)
        if inter / (len(ga) + len(gb) - inter) >= threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


def _split_of_py(doc_id, weights: dict[str, float]) -> str:
    h = int(
        hashlib.md5(f"split:{doc_id}".encode("utf-8")).hexdigest()[:12], 16
    )
    for label, bound in split_thresholds(weights):
        if h < bound:
            return label
    raise AssertionError("unreachable: thresholds cover the hash space")


def prepare_corpus_py(
    docs: Iterable[tuple[int, str]],
    *,
    split_weights: Optional[dict[str, float]] = None,
    max_len: int = 512,
    n_buckets: int = 32,
    n_merges: int = 200,
    max_words: Optional[int] = None,
    threshold: float = 0.5,
    n: int = 2,
) -> list[dict]:
    """Single-process reference of ``prepare_corpus``: returns the
    packed rows as dicts with the same fields (pack ordering follows
    (split, bucket, index))."""
    docs = [(i, t) for i, t in docs]
    weights = split_weights or DEFAULT_SPLITS

    quality = [(i, t) for i, t in docs if _quality_keep_py(t)]
    keep_ids = _dedup_keep_py(quality, threshold, n)
    kept = [(i, t) for i, t in quality if i in keep_ids]
    split_of = {i: _split_of_py(i, weights) for i, _ in kept}

    counts: dict[str, int] = {}
    for i, t in kept:
        if split_of[i] == "train":
            for w in pretokenize(t):
                counts[w] = counts.get(w, 0) + 1
    counts = cap_word_counts(counts, max_words)
    merges = train_bpe_py(counts, n_merges)
    vocab = bpe_vocab(counts, merges)
    ranks = {p: j for j, p in enumerate(merges)}
    memo: dict[str, list[int]] = {}

    def ids_of(t: str) -> list[int]:
        out: list[int] = []
        for w in pretokenize(t):
            if w not in memo:
                memo[w] = [vocab.get(s, 0) for s in encode_word(w, ranks)]
            out.extend(memo[w])
        return out

    rows: list[dict] = []
    for label in weights:
        buckets: dict[int, list] = {}
        for i, t in kept:
            if split_of[i] != label:
                continue
            buckets.setdefault(pack_bucket_of(str(i), n_buckets), []).append(
                (str(i), ids_of(t))
            )
        for bucket in sorted(buckets):
            for j, p in enumerate(pack_sequences_py(buckets[bucket], max_len)):
                rows.append(
                    {
                        "split": label,
                        "bucket": bucket,
                        "pack_id": f"{bucket}#{j}",
                        **p,
                    }
                )
    return rows
