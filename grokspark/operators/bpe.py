"""Distributed BPE tokenizer: ``train_bpe`` / ``apply_bpe`` — the real
byte-pair-encoding replacement for ``token_count``'s regex piece-count
proxy (grokspark.operators.textops.token_count).

Training algorithm (Sennrich et al. 2016, the standard subword-BPE):
start from characters (plus a ``</w>`` end-of-word marker), repeatedly
merge the most frequent adjacent symbol pair, ``n_merges`` times.
Determinism is part of the contract: the winning pair each round is
``max by (count, then LEXICOGRAPHICALLY SMALLEST (a, b))`` — ties
cannot reorder merges across runs or engines, so the merge table is a
pure function of the word-frequency table.

Scale shape (what is distributed and what deliberately is not):

- the ONE corpus-scale pass is the word-frequency aggregation — an
  explode + groupBy count over every pre-token of every document.
  That is the only stage that touches all the text.
- the merge loop itself runs driver-side over the aggregated
  word-frequency table. This is how production BPE trainers work
  (HuggingFace tokenizers, SentencePiece): distinct word TYPES grow
  ~sublinearly with the corpus (Heaps' law), so the freq table is
  bounded — and ``max_words`` caps it deterministically (top-N by
  count desc, word asc) when a 100-TB corpus's long tail would not
  fit the driver. Merge decisions depend only on counts, so the loop
  is not a per-row operation and gains nothing from the cluster.
- ``apply_bpe`` is distributed again: the merge ranks broadcast to
  every worker, applied inside an ``arrow_udf`` by ``bpe_encoder``,
  made once per Arrow batch so its word memo is per batch — words
  repeat heavily, so each distinct word is encoded once per batch,
  not once per occurrence.

Pre-tokenization reuses token_count's piece classes (runs of letters,
runs of digits, single other non-space chars), so BPE merges never
cross a piece boundary. ``train_bpe_py`` / ``encode_word`` /
``apply_bpe_py`` are the pure-Python reference twins driving oracles
and tests.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from grokspark.plan_policy import SPREAD_MIN_BYTES, spread

__all__ = [
    "pretokenize",
    "cap_word_counts",
    "train_bpe_py",
    "train_bpe",
    "encode_word",
    "apply_bpe",
    "apply_bpe_py",
    "apply_bpe_ids",
    "bpe_encoder",
    "bpe_ids_encoder",
    "bpe_vocab",
    "word_counts_df",
    "EOW",
]

EOW = "</w>"

# identical classes to token_count's n_pieces proxy (textops.py) — the
# Spark word-count stage uses the regexp_replace+split form of the same
# rule, whose cross-engine parity the token_counts oracle already pins.
# re.ASCII pins \s to Java regex semantics: without it U+00A0/U+0085/
# U+2028 etc. are whitespace to Python but pieces to the JVM stage, and
# training (JVM counts) vs application (Python pretokenize) would
# disagree on non-ASCII-whitespace documents.
_PIECE_RE = re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]", re.ASCII)


def pretokenize(text: Optional[str]) -> list[str]:
    """Pre-token pieces of one document (pure Python twin of the JVM
    expression used by the distributed word count)."""
    return _PIECE_RE.findall(text or "")


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word[:-1]) + (word[-1] + EOW,) if word else ()


def cap_word_counts(
    counts: dict[str, int], max_words: Optional[int]
) -> dict[str, int]:
    """Deterministic top-N cap of a word-frequency table (count desc,
    word asc) — the pure-Python twin of ``train_bpe``'s Spark-side
    ``orderBy(n desc, word asc).limit(max_words)``. Bounds what rides
    to the driver when the distinct-word tail is corpus-scale."""
    if max_words is None or len(counts) <= max_words:
        return counts
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:max_words]
    return dict(top)


def train_bpe_py(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """The merge loop — reference implementation shared by the Spark
    trainer (which feeds it the distributed word counts) and the
    oracles (which feed it single-process counts).

    Each round: count adjacent symbol pairs weighted by word frequency,
    merge the winner ``max by (count, lexicographically smallest
    pair)``, stop early when no pair occurs twice."""
    words: list[tuple[tuple[str, ...], int]] = [
        (_word_symbols(w), c) for w, c in word_counts.items() if w
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        (a, b), cnt = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b))
        merged = a + b
        new_words = []
        for syms, c in words:
            if a not in syms:
                new_words.append((syms, c))
                continue
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words.append((tuple(out), c))
        words = new_words
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply trained merges to one word: repeatedly merge the
    lowest-rank (earliest-trained) adjacent pair — the standard BPE
    apply rule, a pure function of (word, merge table)."""
    syms = list(_word_symbols(word))
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def apply_bpe_py(
    text: Optional[str],
    merges: list[tuple[str, str]],
) -> list[str]:
    """BPE piece sequence of one document (reference twin of
    ``apply_bpe``). The word memo is per-call: cached encodings depend
    on the merge table, so it must never outlive one merges argument."""
    ranks = {p: i for i, p in enumerate(merges)}
    memo: dict[str, list[str]] = {}
    out: list[str] = []
    for w in pretokenize(text):
        if w not in memo:
            memo[w] = encode_word(w, ranks)
        out.extend(memo[w])
    return out


def bpe_encoder(
    merges: list[tuple[str, str]], symbol: Callable[[str], Any]
) -> Callable[[Optional[str]], list]:
    """Text -> BPE pieces, each mapped through ``symbol``, memoized per
    distinct word (NULL text encodes as ``[]``). The memo lives as long
    as the returned function, so make one per Arrow batch or group."""
    ranks = {p: i for i, p in enumerate(merges)}
    memo: dict[str, list] = {}

    def encode(text: Optional[str]) -> list:
        out: list = []
        for w in pretokenize(text):
            if w not in memo:
                memo[w] = [symbol(s) for s in encode_word(w, ranks)]
            out.extend(memo[w])
        return out

    return encode


def bpe_ids_encoder(
    merges: list[tuple[str, str]], vocab: dict[str, int]
) -> Callable[[Optional[str]], list[int]]:
    """``bpe_encoder`` with the ``vocab`` lookup: text -> BPE token ids
    (pieces outside the vocab map to ``<unk>`` = 0)."""
    return bpe_encoder(merges, lambda s: vocab.get(s, 0))


def bpe_vocab(
    word_counts: dict[str, int], merges: list[tuple[str, str]]
) -> dict[str, int]:
    """piece -> id table: id 0 is ``<unk>``, then every base symbol of
    the training words (sorted), then each merge's output in merge
    order — a pure function of (counts, merges), identical across
    engines."""
    base: set[str] = set()
    for w in word_counts:
        base.update(_word_symbols(w))
    vocab = {"<unk>": 0}
    for s in sorted(base):
        vocab[s] = len(vocab)
    for a, b in merges:
        if a + b not in vocab:
            vocab[a + b] = len(vocab)
    return vocab


# -- Spark face ---------------------------------------------------------------

# same piece rule as textops.token_count, as a JVM expression
def _pieces_col(text):
    return F.filter(
        F.split(
            F.trim(
                F.regexp_replace(
                    text, r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])", r"$1 "
                )
            ),
            r"\s+",
        ),
        lambda p: p != F.lit(""),
    )


def word_counts_df(df: DataFrame) -> DataFrame:
    """(word, n) word-frequency table of the corpus ``text`` — the one
    distributed corpus-scale pass of BPE training (explode +
    partial/final count aggregate; the exchange carries (word, partial
    count), never text)."""
    return (
        spread(df, SPREAD_MIN_BYTES)
        .select(F.explode(_pieces_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def train_bpe(
    df: DataFrame,
    n_merges: int,
    max_words: Optional[int] = None,
) -> list[tuple[str, str]]:
    """Train a BPE merge table on a corpus: distributed word count,
    then the deterministic driver-side merge loop (``train_bpe_py``)
    over the bounded frequency table. ``max_words`` caps the table
    (top-N by count desc, word asc — deterministic) for corpora whose
    distinct-word tail shouldn't ride to the driver."""
    wc = word_counts_df(df)
    if max_words is not None:
        wc = wc.orderBy(F.col("n").desc(), F.col("word").asc()).limit(max_words)
    counts = {r["word"]: r["n"] for r in wc.collect()}
    return train_bpe_py(counts, n_merges)


def apply_bpe(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Adds ``bpe_pieces`` (array<string>, the BPE pieces of ``text``).
    The merge table ships once per executor via closure broadcast; each
    Arrow batch gets its own ``bpe_encoder``, so distinct words are
    encoded once per batch."""
    merges_local = list(merges)

    @arrow_udf("array<string>")
    def bpe(texts: pa.Array) -> pa.Array:
        encode = bpe_encoder(merges_local, str)
        out = [encode(t) for t in texts.to_pylist()]
        return pa.array(out, pa.list_(pa.string()))

    return spread(df, SPREAD_MIN_BYTES).withColumn("bpe_pieces", bpe(F.col("text")))


def apply_bpe_ids(
    df: DataFrame, merges: list[tuple[str, str]], vocab: dict[str, int]
) -> DataFrame:
    """Adds ``tokens`` (array<int> of the BPE token ids of ``text`` via
    ``vocab``; pieces outside the vocab map to ``<unk>`` = 0). Same
    batching and memoization as ``apply_bpe`` — one UDF does
    pretokenize + merge + id lookup, so piece strings never
    materialize as a column."""
    merges_local = list(merges)
    vocab_local = dict(vocab)

    @arrow_udf("array<int>")
    def bpe_ids(texts: pa.Array) -> pa.Array:
        ids_of = bpe_ids_encoder(merges_local, vocab_local)
        out = [ids_of(t) for t in texts.to_pylist()]
        return pa.array(out, pa.list_(pa.int32()))

    return spread(df, SPREAD_MIN_BYTES).withColumn("tokens", bpe_ids(F.col("text")))
