"""Repetition quality, PII redaction, and benchmark decontamination:
each Spark operator vs a transparent pure-Python twin on crafted
corpora covering the edge rules (ties, 1-word/empty docs, short docs,
hash-candidate vs string-verify)."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from grokspark.operators.decontam import decontaminate, decontaminate_corpus
from grokspark.operators.textops import (
    PII_PATTERNS,
    redact_pii,
    repetition_scores,
)

REP_DOCS = [
    (0, "the cat sat on the mat the cat sat again"),
    (1, "go go go go go"),                 # one dominant bigram "go go"
    (2, "a b a b a b a b"),                # tie candidates a b / b a
    (3, "unique words only here now"),     # all bigrams distinct -> tie
    (4, "word"),                           # single word: no bigrams
    (5, ""),                               # empty text
    (6, "x y x y z x y"),
]


def _rep_py(text: str):
    ws = re.split(r"\s+", text.strip().lower()) if True else []
    n_words = len(ws)
    n_chars = len(text)
    dup = (n_words - len(set(ws))) / n_words
    grams = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
    if grams:
        counts = Counter(grams)
        best = max(counts.values())
        top = min(g for g, c in counts.items() if c == best)
        cnt = best
    else:
        top, cnt = "", 0
    ratio = (cnt * len(top)) / n_chars if n_chars else 0.0
    keep = 1 if (dup <= 0.6 and ratio <= 0.12) else 0
    return n_words, dup, top, cnt, ratio, keep


def test_repetition_scores_match_python_twin(spark):
    df = spark.createDataFrame(REP_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_words"], r["dup_word_ratio"], r["top_bigram"],
            r["top_bigram_cnt"], r["top_bigram_ratio"], r["repetition_keep"],
        )
        for r in repetition_scores(df).collect()
    }
    for i, t in REP_DOCS:
        assert got[i] == _rep_py(t), (i, t, got[i], _rep_py(t))
    # spot-check the tie rule: doc 2's "a b" (4) beats "b a" (3); doc
    # 3 ties everywhere -> lexicographically smallest bigram wins
    assert got[2][2] == "a b" and got[2][3] == 4
    w3 = "unique words only here now".split()
    assert got[3][2] == min(f"{a} {b}" for a, b in zip(w3, w3[1:]))
    assert got[4][3] == 0 and got[4][2] == ""


def test_repetition_scores_no_shuffle(spark):
    """The scoring stage must stay map-only — no Exchange in the plan
    (the whole point of the sorted-run fold vs explode+groupBy)."""
    df = spark.createDataFrame(REP_DOCS, "doc_id long, text string")
    plan = repetition_scores(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


PII_DOCS = [
    (0, "mail bob.smith+x@sub.example.co.uk now"),
    (1, "node 192.168.0.1 and 10.20.30.40 up"),
    (2, "call 555-123-4567 or 020.7946.0958 x"),
    (3, "overlap a@b.io 1.2.3.4 999-1234-5678"),
    (4, "none of those here"),
    (5, "not an ip 1234.5.6.7890 or mail @nope"),
]


def _pii_py(text: str):
    counts = [len(re.findall(p, text)) for _, p, _ in PII_PATTERNS]
    red = text
    for _, p, token in PII_PATTERNS:
        red = re.sub(p, token, red)
    return (*counts, red)


def test_redact_pii_matches_python_twin(spark):
    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_email"], r["n_ipv4"], r["n_phone"], r["redacted"])
        for r in redact_pii(df).collect()
    }
    for i, t in PII_DOCS:
        assert got[i] == _pii_py(t), (i, t)
    assert got[0][3] == "mail <EMAIL> now"
    assert got[3][3] == "overlap <EMAIL> <IP> <PHONE>"
    # \b guards: 1234.5.6.7890 is not an IPv4
    assert got[5][0] == 0 and got[5][1] == 0


DECON_BENCH = [
    (100, "alpha beta gamma delta"),
    (101, "one two three"),
]
DECON_TRAIN = [
    (0, "xx alpha beta gamma yy"),       # shares 'alpha beta gamma'
    (1, "alpha beta gamma delta zz"),    # shares 2 distinct grams
    (2, "beta gamma alpha nothing"),     # no shared TRIgram
    (3, "one two three"),                # whole-doc gram match
    (4, "totally different text here"),
    (5, "one two"),                      # short doc -> gram 'one two' not in bench grams
]


def _grams_py(text: str, n: int = 3):
    ws = re.split(r"\s+", text.strip().lower())
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def test_decontaminate_matches_python_twin(spark):
    train = spark.createDataFrame(DECON_TRAIN, "doc_id long, text string")
    bench = spark.createDataFrame(DECON_BENCH, "doc_id long, text string")
    got = {r["doc_id"]: r["n_hits"] for r in decontaminate(train, bench, n=3).collect()}
    bench_grams = set().union(*(_grams_py(t) for _, t in DECON_BENCH))
    want = {}
    for i, t in DECON_TRAIN:
        hits = len(_grams_py(t) & bench_grams)
        if hits:
            want[i] = hits
    assert got == want
    assert 2 not in got and 5 not in got and got[1] == 2 and got[3] == 1


def test_decontaminate_corpus_keep_flags(spark):
    train = spark.createDataFrame(DECON_TRAIN, "doc_id long, text string")
    bench = spark.createDataFrame(DECON_BENCH, "doc_id long, text string")
    rows = {
        r["doc_id"]: (r["n_hits"], r["keep"])
        for r in decontaminate_corpus(train, bench, n=3).collect()
    }
    assert len(rows) == len(DECON_TRAIN)  # every train row present
    assert rows[4] == (0, True) and rows[2] == (0, True)
    assert rows[0][1] is False and rows[3][1] is False


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram side must be broadcast — the corpus side
    never shuffles for the join."""
    train = spark.createDataFrame(DECON_TRAIN, "doc_id long, text string")
    bench = spark.createDataFrame(DECON_BENCH, "doc_id long, text string")
    plan = (
        decontaminate(train, bench, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# -- mixture sampling (data mixing) ------------------------------------------


def test_mixture_sample_per_group_nesting_and_default(spark):
    from grokspark.operators import hash_sample, mixture_sample

    rows = [(i, f"g{i % 3}") for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = {
        r["doc_id"]
        for r in mixture_sample(df, {"g0": 0.2, "g1": 0.0}, default=1.0).collect()
    }
    # g1 fully dropped, g2 (absent from dict) fully kept via default
    assert not any(i % 3 == 1 for i in kept)
    assert all(i in kept for i in range(600) if i % 3 == 2)
    # g0 roughly 20% (binomial tolerance on 200 rows)
    g0 = sum(1 for i in kept if i % 3 == 0)
    assert 20 <= g0 <= 60, g0
    # nesting: raising a group's fraction only ADDS rows
    kept5 = {
        r["doc_id"]
        for r in mixture_sample(df, {"g0": 0.5, "g1": 0.0}, default=1.0).collect()
    }
    assert {i for i in kept if i % 3 == 0} <= {i for i in kept5 if i % 3 == 0}
    # same salt + same fraction == hash_sample on the single group
    only_g0 = df.filter(df.source == "g0")
    a = {r["doc_id"] for r in mixture_sample(only_g0, {"g0": 0.2}, salt="s").collect()}
    b = {r["doc_id"] for r in hash_sample(only_g0, 0.2, salt="s").collect()}
    assert a == b
    # invariant to repartitioning
    c = {
        r["doc_id"]
        for r in mixture_sample(
            df.repartition(13), {"g0": 0.2, "g1": 0.0}, default=1.0
        ).collect()
    }
    assert c == kept


def test_mixture_sample_no_shuffle_no_join(spark):
    from grokspark.operators import mixture_sample

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    plan = (
        mixture_sample(df, {"a": 0.5})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_reservoir_sample_exact_k_per_group(spark):
    from grokspark.operators import reservoir_sample

    # skewed groups: g0 has 500 rows, g1 has 30, g2 has 3 (< k)
    rows = (
        [(i, "g0") for i in range(500)]
        + [(1000 + i, "g1") for i in range(30)]
        + [(2000 + i, "g2") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = reservoir_sample(df, 10).collect()
    by_group: dict[str, set[int]] = {}
    for r in kept:
        by_group.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_group["g0"]) == 10
    assert len(by_group["g1"]) == 10
    assert by_group["g2"] == {2000, 2001, 2002}  # whole small group
    # deterministic + partition-invariant
    again = {
        (r["source"], r["doc_id"])
        for r in reservoir_sample(df.repartition(17), 10).collect()
    }
    assert again == {(r["source"], r["doc_id"]) for r in kept}
    # nesting: the k=4 sample is a subset of the k=10 sample
    k4 = {
        (r["source"], r["doc_id"]) for r in reservoir_sample(df, 4).collect()
    }
    assert k4 < again and len(k4) == 4 + 4 + 3
    # reservoir stability under growth: adding rows never reorders
    # survivors — each group's k=10 sample of the grown corpus is a
    # superset-displacement of the original (members only leave when
    # a new row hashes in front of them, so the SURVIVING originals
    # are exactly the original sample's lowest-ranked members)
    grown = df.union(
        spark.createDataFrame(
            [(5000 + i, "g1") for i in range(50)], "doc_id long, source string"
        )
    )
    g1_grown = {
        r["doc_id"]
        for r in reservoir_sample(grown, 10).collect()
        if r["source"] == "g1"
    }
    assert g1_grown & by_group["g1"] == g1_grown - set(range(5000, 5050))
    # full columns survive the semi-join
    assert set(kept[0].asDict()) == {"doc_id", "source"}


def test_reservoir_sample_global_uses_take_ordered(spark):
    from grokspark.operators import reservoir_sample

    df = spark.createDataFrame(
        [(i, "s") for i in range(200)], "doc_id long, source string"
    )
    out = reservoir_sample(df, 5, group_col=None)
    assert out.count() == 5
    # the global path must compile to a partial top-k, not a
    # single-partition global sort window
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_target_mixture_fractions():
    from grokspark.operators import target_mixture_fractions

    # web is 8x over target, books binds at 1.0
    counts = {"web": 8000, "books": 1000}
    fr = target_mixture_fractions(counts, {"web": 0.5, "books": 0.5})
    assert fr["books"] == 1.0 and abs(fr["web"] - 0.125) < 1e-12
    # realized proportions hit the target exactly
    kept = {k: counts[k] * v for k, v in fr.items()}
    assert abs(kept["web"] - kept["books"]) < 1e-9
    # zero-target group dropped; unnormalized targets accepted
    fr2 = target_mixture_fractions(counts, {"web": 2.0, "books": 2.0, "junk": 0.0})
    assert fr2["junk"] == 0.0 and fr2["books"] == 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        target_mixture_fractions({"web": 10}, {"web": 0.5, "missing": 0.5})


def test_repetition_scores_null_text(spark):
    """NULL text scores as empty — keep stays a real 0/1, never NULL."""
    df = spark.createDataFrame([(0, None)], "doc_id long, text string")
    r = repetition_scores(df).collect()[0]
    assert (
        r["dup_word_ratio"], r["top_bigram"], r["top_bigram_cnt"],
        r["top_bigram_ratio"], r["repetition_keep"],
    ) == (0.0, "", 0, 0.0, 1)


# -- incremental near-dup (new batch vs existing corpus) ---------------------


def _cross_pairs(full, is_new):
    """``minhash_lsh_pairs`` rows restricted to (new, corpus) pairs, as
    ``{(new_id, corpus_id): jaccard}``."""
    want = {}
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if is_new(a) != is_new(b):  # exactly one side is new
            nid, cid = (a, b) if is_new(a) else (b, a)
            want[(nid, cid)] = r["jaccard"]
    return want


def _vs_pairs(out):
    return {(r["new_id"], r["corpus_id"]): r["jaccard"] for r in out.collect()}


def test_minhash_lsh_pairs_vs_equals_restricted_full_pairs(spark, sf_dir):
    """The vs-variant's output must equal the full-corpus pair set
    restricted to cross (new, corpus) pairs — same recall contract,
    same exact verify, same jaccard values. Both run one hash family,
    so this holds exactly at any band count, not only where bands=64
    makes recall ~1."""
    from grokspark.operators import minhash_lsh_pairs, minhash_lsh_pairs_vs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    for bands in (64, 32):
        got = _vs_pairs(
            minhash_lsh_pairs_vs(new, corpus, threshold=0.5, n=2, bands=bands)
        )
        full = minhash_lsh_pairs(docs, threshold=0.5, n=2, bands=bands).collect()
        assert got == _cross_pairs(full, lambda i: i % 10 == 0), bands
        assert got, "no cross pairs at sf0.001 — test corpus assumption broke"


def test_minhash_lsh_pairs_vs_never_pairs_identical_ids(spark):
    """A re-ingested corpus row (same doc_id, same text) is exact-dedup's
    job: its (id, id) pair must not come back, while a near-copy under a
    fresh id is found with the exact jaccard ``jaccard_pairs`` gives."""
    from grokspark.operators import jaccard_pairs, minhash_lsh_pairs_vs

    def text(k):
        return " ".join(f"w{k}_{j}" for j in range(40))

    base = text(3)
    near = base.replace("w3_39", "other")  # 39 of 40 bigrams shared
    corpus = spark.createDataFrame(
        [(k, text(k)) for k in range(1, 6)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(3, base), (100, near)], "doc_id long, text string"
    )
    got = _vs_pairs(minhash_lsh_pairs_vs(new, corpus, threshold=0.5, n=2, bands=64))
    exact = jaccard_pairs(
        spark.createDataFrame([(3, base), (100, near)], "doc_id long, text string"),
        threshold=0.5,
        n=2,
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in exact] == [(3, 100)]
    assert got == {(100, 3): exact[0]["jaccard"]}


def test_minhash_lsh_pairs_vs_corpus_side_never_broadcast(spark, sf_dir):
    """Plan shape of the candidate join (the checkpointed stage that
    reads the band tables): the NEW side is the broadcast build side;
    the corpus band table streams. (If Spark ever flipped this, a
    10^12-doc corpus would be collected to the driver.) The corpus
    side is the one the join aliases ``id_b``."""
    from grokspark.operators import minhash_lsh_pairs_vs
    from tools.capture_plans import record_plans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stages, _ = record_plans(
        spark,
        lambda: minhash_lsh_pairs_vs(
            docs.filter(F.col("doc_id") % 10 == 0),
            docs.filter(F.col("doc_id") % 10 != 0),
            threshold=0.5,
            n=2,
            bands=64,
        ),
    )
    (cand,) = [p for p in stages if "band_hash#" in p]
    corpus_id = re.search(r"(\w+#\d+L?) AS id_b#", cand).group(1)
    band_broadcasts = [
        b
        for b in re.split(r"\n(?=\(\d+\) )", cand)
        if "BroadcastExchange" in b.splitlines()[0] and "band_hash#" in b
    ]
    assert band_broadcasts, cand
    for b in band_broadcasts:
        assert not re.search(rf"{re.escape(corpus_id)}\b", b), b


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring (ngram_lm.py)
# ---------------------------------------------------------------------------

LM_DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat sat on the mat"),          # exact dup: most familiar
    (2, "zq xv qq zz plutonium afterglow"), # rare sequences: high ce
    (3, "the cat"),                         # exactly one bigram
    (4, "word"),                            # 1 word: no score row
    (5, ""),                                # empty: no score row
    (6, None),                              # NULL text: excluded
    (7, "THE CAT SAT ON THE MAT"),          # lowercased == doc 0
    (8, "the cat sat"),                # U+00A0 is NOT Java \s -> one word "the\xa0cat"
]


def test_bigram_lm_matches_python_twin(spark):
    from grokspark.operators.ngram_lm import (
        perplexity_scores,
        perplexity_scores_py,
        train_bigram_lm,
        train_bigram_lm_py,
    )

    df = spark.createDataFrame(LM_DOCS, "doc_id long, text string")
    uni, bi = train_bigram_lm(df)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["ce_micro"])
        for r in perplexity_scores(df, uni, bi).collect()
    }
    u2, b2 = train_bigram_lm_py([t for _, t in LM_DOCS])
    want = {
        r[0]: (r[1], r[2]) for r in perplexity_scores_py(LM_DOCS, u2, b2)
    }
    assert got == want
    assert 4 not in got and 5 not in got and 6 not in got
    # duplicates + case-folding agree; rare doc has strictly higher ce
    assert got[0] == got[1] == got[7]
    assert got[2][1] > got[0][1]
    # ASCII-\s parity: Spark and the twin must agree on the U+00A0 doc
    assert got[8] == want[8] and want[8][0] == 1  # "the\xa0cat sat" -> 1 bigram


def test_bigram_lm_caps_are_deterministic_and_familiarity(spark):
    from grokspark.operators.ngram_lm import (
        familiarity_scores,
        lm_filter,
        train_bigram_lm,
        train_bigram_lm_py,
    )

    df = spark.createDataFrame(LM_DOCS, "doc_id long, text string")
    uni, bi = train_bigram_lm(df, max_vocab=5, max_bigrams=4)
    u2, b2 = train_bigram_lm_py(
        [t for _, t in LM_DOCS], max_vocab=5, max_bigrams=4
    )
    assert {(r["w1"], r["cnt"]) for r in uni.collect()} == set(u2.items())
    assert {
        ((r["w1"], r["w2"]), r["cnt"]) for r in bi.collect()
    } == set(b2.items())

    uni_f, bi_f = train_bigram_lm(df)
    fam = {
        r["doc_id"]: (r["n_bigrams"], r["sum_cnt"])
        for r in familiarity_scores(df, bi_f).collect()
    }
    # doc 0: each of its 5 bigrams appears 3x (docs 0, 1, 7), plus
    # doc 3 adds one more ("the", "cat") -> 5*3 + 1 = 16
    assert fam[0] == (5, 16)
    assert fam[2] == (5, 5)  # doc 2's bigrams are unique to it

    from grokspark.operators.ngram_lm import perplexity_scores

    scores = perplexity_scores(df, uni_f, bi_f)
    cut = sorted(r["ce_micro"] for r in scores.collect())[2]
    kept = lm_filter(df, scores, cut)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 2 not in ids            # the rare-sequence doc is dropped
    assert {0, 1, 7} <= ids        # familiar dups survive
    assert 4 not in ids and 5 not in ids  # unscored docs drop (CCNet prefilter)


# ---------------------------------------------------------------------------
# Exact duplicated-substring removal (spandedup.py)
# ---------------------------------------------------------------------------

BOILER = "This document is provided under the standard license terms v2."
SPAN_DOCS = [
    (0, "alpha beta " + BOILER + " unique tail zero"),
    (1, "gamma delta " + BOILER + " unique tail one"),
    (2, BOILER),                    # the whole doc is the shared span
    (3, "no duplicated content here at all, nothing shared whatsoever."),
    (4, "xy" * 60),                 # periodic: within-doc self-repeats
    (5, None),
    (6, "short"),                   # below min_len: no windows
]


def test_span_dedup_matches_python_twin(spark):
    from grokspark.operators.spandedup import (
        duplicate_spans,
        duplicate_spans_py,
        remove_spans_py,
        span_dedup,
    )

    df = spark.createDataFrame(SPAN_DOCS, "doc_id long, text string")
    L = 20
    got: dict = {}
    for r in duplicate_spans(df, min_len=L).collect():
        got.setdefault(r["doc_id"], []).append((r["start"], r["end"]))
    want = duplicate_spans_py(SPAN_DOCS, min_len=L)
    assert {k: sorted(v) for k, v in got.items()} == want

    # canonical-first policy: doc 0 (smallest id) keeps everything
    assert 0 not in want and 1 in want and 2 in want
    # maximal extension: doc 1's span covers "ta " + BOILER +
    # " unique tail " (shared with doc 0 beyond the boilerplate)
    (s, e), = want[1]
    assert SPAN_DOCS[1][1][s:e] == "ta " + BOILER + " unique tail "
    # periodic doc: one merged interval, 2-char remainder
    assert len(want[4]) == 1

    out = {
        r["doc_id"]: (r["text"], r["n_spans"], r["n_removed_chars"])
        for r in span_dedup(df, min_len=L).collect()
    }
    for d, t in SPAN_DOCS:
        ivs = want.get(d, [])
        exp = remove_spans_py(t, ivs) if t is not None else None
        assert out[d][0] == exp, (d, out[d][0], exp)
        assert out[d][1] == len(ivs)
        assert out[d][2] == sum(e - s for s, e in ivs)
    # whole-doc span: doc 2 cleans to empty, untouched docs unchanged
    assert out[2][0] == ""
    assert out[3] == (SPAN_DOCS[3][1], 0, 0)


def test_span_dedup_no_duplicates_is_identity(spark):
    from grokspark.operators.spandedup import duplicate_spans, span_dedup

    # genuinely distinct: every doc is its own md5-derived string (a
    # shared TEMPLATE with one varying digit would rightly be found,
    # and periodic generators create within-doc repeats)
    import hashlib

    docs = [
        (
            i,
            "".join(
                chr(97 + hashlib.md5(f"{i}:{j}".encode()).digest()[0] % 26)
                for j in range(80)
            ),
        )
        for i in range(5)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assert duplicate_spans(df, min_len=30).count() == 0
    out = {r["doc_id"]: r["text"] for r in span_dedup(df, min_len=30).collect()}
    assert out == dict(docs)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_len"):
        duplicate_spans(df, min_len=0)


# ---------------------------------------------------------------------------
# BM25 retrieval (retrieval.py)
# ---------------------------------------------------------------------------

BM25_DOCS = [
    (0, "spark shuffle join hash join broadcast"),
    (1, "hash table scan hash hash probe"),
    (2, "sort merge join large table"),
    (3, "window aggregate group"),
    (4, "join"),                        # short doc, high tf weight
    (5, None),
    (6, ""),
]
BM25_QUERIES = [("qa", "hash join"), ("qb", "window"), ("qc", "absent term")]


def test_bm25_matches_python_twin(spark):
    """Spark and the twins agree on the ``lm_words`` rule (bm25, the
    bigram LM, the DSIR grams), also for a blank doc and a doc edged by
    tabs and newlines (Spark ``trim`` strips only spaces); a doc with
    no word changes none of BM25's ``N``/avgdl or the LM's ``V``."""
    from grokspark.operators.dsir import _grams_py, dsir_gram_col
    from grokspark.operators.ngram_lm import train_bigram_lm, train_bigram_lm_py
    from grokspark.operators.retrieval import bm25_topk, bm25_topk_py

    docs = BM25_DOCS + [(7, " \t\n "), (8, "\tJoin hash\n")]
    worded = [(i, t) for i, t in docs if t is not None and t.strip()]
    qs = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def spark_bm25(rows):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score_micro"])
            for r in bm25_topk(frame(rows), qs, k=3).collect()
        )

    got = spark_bm25(docs)
    assert got == sorted(bm25_topk_py(docs, BM25_QUERIES, k=3))
    assert got == spark_bm25(worded)
    assert 8 in {d for q, _, d, _ in got if q == "qa"}

    uni, bi = train_bigram_lm(frame(docs))
    u_py, b_py = train_bigram_lm_py([t for _, t in docs])
    assert {r["w1"]: r["cnt"] for r in uni.collect()} == u_py
    assert {(r["w1"], r["w2"]): r["cnt"] for r in bi.collect()} == b_py
    assert "" not in u_py and uni.count() == train_bigram_lm(frame(worded))[0].count()

    grams = frame(docs).where(F.col("text").isNotNull()).select(
        "doc_id", dsir_gram_col(F.col("text")).alias("g")
    )
    assert {r["doc_id"]: r["g"] for r in grams.collect()} == {
        i: _grams_py(t) for i, t in docs if t is not None
    }
    # qc has no matching docs at all
    assert not any(q == "qc" for q, *_ in got)
    # qb: only doc 3 contains "window"
    qb = [t for t in got if t[0] == "qb"]
    assert len(qb) == 1 and qb[0][2] == 3


def test_bm25_max_df_prune_and_broadcast_plan(spark):
    from grokspark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(BM25_DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    out = bm25_topk(df, qs, k=3, max_df_ratio=0.4)
    # "join" appears in 3/5 non-null docs (60% > 40%) -> pruned; "hash"
    # survives (2/5), so qa ranks only by "hash"
    qa = sorted(
        (r["rank"], r["doc_id"]) for r in out.filter(F.col("query_id") == "qa").collect()
    )
    assert [d for _, d in qa] == [1, 0]  # hash-heavy doc 1 first
    # probe side is broadcast: the postings never shuffle for the join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "docs", [[], [(0, None), (1, None)]], ids=["no_rows", "all_null"]
)
def test_bm25_empty_corpus_returns_no_rows(spark, docs):
    """A corpus with no rows, or only NULL texts, has no postings: both
    paths return no rows (no hard failure) and the Spark path keeps its
    output columns."""
    from grokspark.operators.retrieval import bm25_topk, bm25_topk_py

    df = spark.createDataFrame(docs, "doc_id long, text string")
    qs = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    out = bm25_topk(df, qs, k=3)
    assert out.columns == ["query_id", "rank", "doc_id", "score_micro", "score"]
    assert out.collect() == []
    assert bm25_topk_py(docs, BM25_QUERIES, k=3) == []


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (clean.py)
# ---------------------------------------------------------------------------

C4_DOCS = [
    (
        0,
        "The quick brown fox jumps over the dog.\n"
        "short line.\n"
        "This line has no terminal punctuation at all\n"
        "Another perfectly fine sentence with enough words here!\n"
        "This mentions JavaScript badly but is long enough.\n"
        "A third proper sentence closes out the page today?",
    ),
    (
        1,
        'He said "this quoted line has plenty of words."\n'
        "Only two sentences appear in this document sadly.\n"
        "no punct line with many words here sadly",
    ),
    (
        2,
        "This page contains Lorem Ipsum somewhere in text.\n"
        "A second proper sentence with enough words here.\n"
        "A third proper sentence with enough words too.",
    ),
    (
        3,
        "This page has a { curly brace marker } inside.\n"
        "A second proper sentence with enough words here.\n"
        "A third proper sentence with enough words too.",
    ),
    (4, None),
    (5, ""),
    (6, "One. Two! Three? All in a single line with words."),
]


def test_c4_clean_matches_python_twin(spark):
    from grokspark.operators.clean import c4_clean, c4_clean_py

    df = spark.createDataFrame(C4_DOCS, "doc_id long, text string")
    got = sorted(
        (
            r["doc_id"],
            r["text_clean"],
            r["n_lines_in"],
            r["n_lines_kept"],
            r["n_sentences"],
            r["kept"],
        )
        for r in c4_clean(df).collect()
    )
    want = sorted(c4_clean_py(C4_DOCS))
    assert got == want
    by_id = {t[0]: t for t in got}
    # doc 0: short line, no-punct line, and javascript line dropped
    assert by_id[0][3] == 3 and by_id[0][5] is True
    # doc 1: quote-terminated line kept, but only 2 sentences -> dropped
    assert by_id[1][3] == 2 and by_id[1][5] is False
    # docs 2/3: lorem-ipsum / curly-brace page drops (case-insensitive)
    assert by_id[2][5] is False and by_id[3][5] is False
    # NULL and empty text: zero counts, not kept
    assert by_id[4] == (4, "", 0, 0, 0, False)
    assert by_id[5][5] is False
    # doc 6: one kept line, 4 terminal chars counted -> kept
    assert by_id[6][3] == 1 and by_id[6][4] == 4 and by_id[6][5] is True


def test_c4_clean_is_map_only(spark):
    from grokspark.operators.clean import c4_clean

    df = spark.createDataFrame(C4_DOCS, "doc_id long, text string")
    plan = c4_clean(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_gate_fabrication_parity(spark):
    import __spark_entry__ as entry
    from pyspark.sql import functions as F2

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (17, "one  two   three four five six seven eight"),
        (19, "word " * 30),
        (22, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["page"]
        for r in df.select(
            "doc_id",
            entry._c4_page_col(F2.col("text"), F2.col("doc_id")).alias("page"),
        ).collect()
    }
    for did, tx in rows:
        assert got[did] == entry._c4_page_py(did, tx), did
