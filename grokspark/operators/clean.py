"""C4-style line-level corpus cleaning (Raffel et al. 2020, the
canonical LLM web-text cleanup) as a MAP-ONLY Spark stage.

Rules (each parameterized, defaults per the C4 paper):

1. Keep only lines that end in a terminal punctuation mark
   (``.``, ``!``, ``?``, or a closing double quote).
2. Keep only lines with at least ``min_words_per_line`` words
   (ASCII-whitespace split, the shared ``lm_words`` convention).
3. Drop lines containing ``line_drop_substring`` ("javascript"),
   case-insensitive.
4. Drop whole documents whose ORIGINAL text contains any of
   ``doc_drop_substrings`` ("lorem ipsum", "{"), matched on the
   lowercased page.
5. Drop documents whose cleaned text has fewer than
   ``min_sentences`` sentences, where the sentence count is the
   number of ``.``/``!``/``?`` characters in the cleaned text (a
   deterministic proxy for C4's sentence tokenizer — every kept line
   ends in terminal punctuation, so the count is >= kept lines).

100-TB shape: every rule is a scan-fused higher-order-function /
string built-in — no shuffle, no Python workers, whole-stage codegen
end to end.  At 10^12 documents this runs at scan speed and composes
with `prepare_corpus`'s quality gate.

Cross-engine exactness: all outputs are integers, booleans, or exact
strings; the pure-Python twin (`c4_clean_py`) mirrors the ASCII
``\\s+`` split, the trim, and the translate-based sentence count
character for character, so gate comparisons are bit-exact.

Reference scope: mmastrac/grok has no corpus-hygiene layer; this
operator belongs to the training-data-pipeline surface
(SURVEY.md 2.4).
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grokspark.plan_policy import spread

__all__ = ["c4_clean", "c4_clean_py", "TERMINAL_CHARS"]

# period / exclamation / question mark / closing double quote, per C4
TERMINAL_CHARS = (".", "!", "?", '"')

_WS_ASCII = re.compile(r"\s+", re.ASCII)


def _nwords(line: Column) -> Column:
    t = F.trim(line)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    line_drop_substring: Optional[str] = "javascript",
    doc_drop_substrings: Iterable[str] = ("lorem ipsum", "{"),
) -> DataFrame:
    """Per-document cleaning report ``(id, text_clean, n_lines_in,
    n_lines_kept, n_sentences, kept)``.  ``text_clean`` joins the
    surviving (trimmed) lines with newlines; ``kept`` is the document-
    level verdict (callers filter on it).  NULL text cleans to the
    empty string and ``kept = false``.  Document-level substring drops
    match on the lowercased ORIGINAL text, so pass the substrings in
    lowercase."""
    text = F.col(text_col)
    lines = F.split(text, "\n")

    def keep_line(l: Column) -> Column:
        t = F.trim(l)
        cond = (_nwords(l) >= F.lit(min_words_per_line)) & F.substring(
            t, -1, 1
        ).isin(list(TERMINAL_CHARS))
        if line_drop_substring is not None:
            cond = cond & ~F.lower(t).contains(F.lit(line_drop_substring))
        return cond

    kept_lines = F.transform(F.filter(lines, keep_line), F.trim)

    # STAGED projections, one expensive expression per layer: the
    # line-filter chain is an INTERPRETED higher-order expression, and
    # packing everything into one select made every output column
    # re-embed it — kept_lines was evaluated 6x per row (text_clean,
    # n_lines_kept, n_sentences twice, kept twice). Aliasing each
    # expensive intermediate in its own select stops CollapseProject
    # from re-inlining it (it never duplicates a non-cheap alias that
    # is referenced more than once downstream), so the chain runs ONCE
    # per row. Still one fused map stage, zero exchanges. Combined
    # with the scan spread below: sf1.0 13 s -> ~1 s, identical rows.
    staged = spread(df).select(
        F.col(id_col).alias("id"),
        text.alias("_text"),
        F.size(lines).alias("_nl"),
        kept_lines.alias("_kl"),
    )
    staged = staged.select(
        "id",
        "_text",
        "_nl",
        F.size("_kl").alias("_nk"),
        F.array_join("_kl", "\n").alias("_tc"),
    )
    tc = F.col("_tc")
    staged = staged.select(
        "id",
        "_text",
        "_nl",
        "_nk",
        "_tc",
        (F.length(tc) - F.length(F.translate(tc, ".!?", ""))).alias("_ns"),
    )
    t0 = F.col("_text")
    doc_bad = F.lit(False)
    for s in doc_drop_substrings:
        doc_bad = doc_bad | F.lower(t0).contains(F.lit(s))
    out = staged.select(
        "id",
        F.when(t0.isNull(), F.lit("")).otherwise(tc).alias("text_clean"),
        F.when(t0.isNull(), F.lit(0))
        .otherwise(F.col("_nl"))
        .cast("long")
        .alias("n_lines_in"),
        F.when(t0.isNull(), F.lit(0))
        .otherwise(F.col("_nk"))
        .cast("long")
        .alias("n_lines_kept"),
        F.when(t0.isNull(), F.lit(0))
        .otherwise(F.col("_ns"))
        .cast("long")
        .alias("n_sentences"),
        F.when(t0.isNull(), F.lit(False))
        .otherwise((F.col("_ns") >= F.lit(min_sentences)) & ~doc_bad)
        .alias("kept"),
    )
    return out.withColumnRenamed("id", id_col)


# ---------------------------------------------------------------------------
# Pure-Python twin (tests + gate oracle)
# ---------------------------------------------------------------------------

_SENT_DEL = str.maketrans("", "", ".!?")


def c4_clean_py(
    docs: list[tuple],
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    line_drop_substring: Optional[str] = "javascript",
    doc_drop_substrings: Iterable[str] = ("lorem ipsum", "{"),
) -> list[tuple]:
    """``(id, text_clean, n_lines_in, n_lines_kept, n_sentences,
    kept)`` — same split, trim, and counts as the distributed path."""
    out = []
    for did, text in docs:
        if text is None:
            out.append((did, "", 0, 0, 0, False))
            continue
        lines = text.split("\n")
        kept_lines = []
        for l in lines:
            t = l.strip()
            n_words = len(_WS_ASCII.split(t)) if t else 0
            if n_words < min_words_per_line:
                continue
            if not t or t[-1] not in TERMINAL_CHARS:
                continue
            if (
                line_drop_substring is not None
                and line_drop_substring in t.lower()
            ):
                continue
            kept_lines.append(t)
        text_clean = "\n".join(kept_lines)
        n_sent = len(text_clean) - len(text_clean.translate(_SENT_DEL))
        low = text.lower()
        doc_bad = any(s in low for s in doc_drop_substrings)
        kept = n_sent >= min_sentences and not doc_bad
        out.append(
            (did, text_clean, len(lines), len(kept_lines), n_sent, kept)
        )
    return out
