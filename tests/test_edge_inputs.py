"""Legal edge inputs never fail an operator: zero rows give an empty,
typed result, and a NULL key or text has a defined outcome. The slices
cover the media operators, the text operators (winnowing, SimHash,
span dedup, BPE, packing, the composed corpus job) and the raw-line
ingest."""

from __future__ import annotations

import pytest

from grokspark.operators.audio import extract_audio_features, wav_payload_df
from grokspark.operators.multimodal import (
    extract_image_features,
    jpeg_payload_df,
    png_payload_df,
    video_payload_df,
)

RENDERERS = [png_payload_df, jpeg_payload_df, video_payload_df, wav_payload_df]
PAYLOAD_COLUMNS = ["item_id", "modality", "payload", "meta"]
IMAGE_FEATURE_COLUMNS = [
    "item_id", "modality", "n_bytes", "width", "height", "mean_luma",
    "luma_milli", "sha1",
]
AUDIO_FEATURE_COLUMNS = [
    "item_id", "modality", "n_bytes", "sample_rate", "n_samples",
    "duration_ms", "rms_milli", "zero_crossings", "sha1",
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


@pytest.mark.parametrize("render", RENDERERS, ids=lambda f: f.__name__)
def test_renderer_zero_rows(spark, render):
    out = render(_docs(spark, []))
    assert out.columns == PAYLOAD_COLUMNS
    assert out.collect() == []


@pytest.mark.parametrize(
    "render, extract, columns",
    [
        (png_payload_df, extract_image_features, IMAGE_FEATURE_COLUMNS),
        (wav_payload_df, extract_audio_features, AUDIO_FEATURE_COLUMNS),
    ],
    ids=["image", "audio"],
)
def test_extract_zero_rows(spark, render, extract, columns):
    out = extract(render(_docs(spark, [])))
    assert out.columns == columns
    assert out.collect() == []


@pytest.mark.parametrize("render", RENDERERS, ids=lambda f: f.__name__)
def test_renderer_null_text_renders_as_empty(spark, render):
    rows = render(_docs(spark, [("k", None), ("k", "")])).collect()
    assert len(rows) == 2
    assert rows[0] == rows[1]
    assert rows[0]["item_id"] == "k"
    assert rows[0]["meta"]["n_bytes"] == len(rows[0]["payload"]) > 0


@pytest.mark.parametrize("render", RENDERERS, ids=lambda f: f.__name__)
def test_renderer_null_id_renders_null_item_id(spark, render):
    """NULL in, NULL out: a NULL ``doc_id`` keeps ``item_id`` NULL and
    its payload is keyed on ``""``, like a NULL text."""
    rows = render(_docs(spark, [(None, "t"), ("", "t")])).collect()
    assert [r["item_id"] for r in rows] == [None, ""]
    assert rows[0]["payload"] == rows[1]["payload"]
    assert rows[0]["meta"] == rows[1]["meta"]


def test_sampled_frames_of_a_null_video_id_keep_item_id_null(spark):
    from grokspark.operators.multimodal import sample_video_frames

    videos = video_payload_df(_docs(spark, [(None, "t"), ("v", "t")]))
    frames = sample_video_frames(videos, stride=2).collect()
    got = sorted(
        ((r["video_id"] or "", r["frame_idx"], r["item_id"]) for r in frames),
    )
    assert got == [("", 0, None), ("", 2, None), ("v", 0, "v#0"), ("v", 2, "v#2")]


# -- text operators ----------------------------------------------------------

MERGES = [("t", "h"), ("th", "e</w>")]
PACK_COLUMNS = [
    "bucket", "pack_id", "n_docs", "n_tok", "doc_ids", "tokens", "n_truncated",
]
DUP = "a shared boilerplate sentence of some length"


def _texts(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _text_ops():
    from grokspark.operators.bpe import apply_bpe, apply_bpe_ids, bpe_vocab
    from grokspark.operators.corpus import prepare_corpus
    from grokspark.operators.dedup import simhash_signatures
    from grokspark.operators.spandedup import duplicate_spans, span_dedup
    from grokspark.operators.textops import winnow_fingerprints

    vocab = bpe_vocab({"the": 2}, MERGES)
    return [
        ("winnow_fingerprints", winnow_fingerprints, ["id", "fp"]),
        ("simhash_signatures", simhash_signatures, ["doc_id", "simhash"]),
        (
            "duplicate_spans",
            lambda df: duplicate_spans(df, min_len=8),
            ["doc_id", "start", "end"],
        ),
        (
            "span_dedup",
            lambda df: span_dedup(df, min_len=8),
            ["doc_id", "text", "n_spans", "n_removed_chars"],
        ),
        (
            "apply_bpe",
            lambda df: apply_bpe(df, MERGES),
            ["doc_id", "text", "bpe_pieces"],
        ),
        (
            "apply_bpe_ids",
            lambda df: apply_bpe_ids(df, MERGES, vocab),
            ["doc_id", "text", "tokens"],
        ),
        (
            "prepare_corpus",
            lambda df: prepare_corpus(df, n_buckets=2, n_merges=4),
            ["split", *PACK_COLUMNS],
        ),
    ]


@pytest.mark.parametrize(
    "op, columns",
    [(op, cols) for _, op, cols in _text_ops()],
    ids=[name for name, _, _ in _text_ops()],
)
def test_text_op_zero_rows(spark, op, columns):
    out = op(_texts(spark, []))
    assert out.columns == columns
    assert out.collect() == []


def test_pack_sequences_zero_rows(spark):
    from grokspark.operators.packing import pack_sequences

    df = spark.createDataFrame([], "doc_id string, tokens array<int>")
    out = pack_sequences(df, max_len=8, n_buckets=2)
    assert out.columns == PACK_COLUMNS
    assert out.collect() == []


def test_winnow_null_text_is_one_empty_text_fingerprint(spark):
    from grokspark.operators.textops import winnow_fingerprints, winnow_fingerprints_py

    out = winnow_fingerprints(_texts(spark, [(1, None)])).collect()
    assert [(r["id"], r["fp"]) for r in out] == [(1, 0)]
    assert winnow_fingerprints_py(None) == [0]


def test_simhash_null_text_is_zero(spark):
    from grokspark.operators.dedup import simhash_py, simhash_signatures

    rows = [(1, None), (2, "a b a")]
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(_texts(spark, rows)).collect()
    }
    assert got == {i: simhash_py(t) for i, t in rows}
    assert got[1] == 0


def test_span_dedup_keeps_a_null_text_row(spark):
    from grokspark.operators.spandedup import (
        duplicate_spans_py,
        remove_spans_py,
        span_dedup,
    )

    rows = [(1, None), (2, f"x {DUP} y"), (3, f"{DUP} z")]
    got = {
        r["doc_id"]: (r["text"], r["n_spans"], r["n_removed_chars"])
        for r in span_dedup(_texts(spark, rows), min_len=8).collect()
    }
    assert got[1] == (None, 0, 0)
    spans = duplicate_spans_py(rows, min_len=8)
    assert spans[3]
    for i, t in rows[1:]:
        ivs = spans.get(i, [])
        assert got[i] == (
            remove_spans_py(t, ivs), len(ivs), sum(e - s for s, e in ivs)
        )


def test_bpe_null_text_encodes_as_empty(spark):
    from grokspark.operators.bpe import apply_bpe, apply_bpe_ids, apply_bpe_py

    rows = [(1, None), (2, "the then")]
    pieces = {
        r["doc_id"]: r["bpe_pieces"]
        for r in apply_bpe(_texts(spark, rows), MERGES).collect()
    }
    assert pieces == {i: apply_bpe_py(t, MERGES) for i, t in rows}
    assert pieces[1] == []
    ids = {
        r["doc_id"]: r["tokens"]
        for r in apply_bpe_ids(_texts(spark, rows), MERGES, {"th": 1}).collect()
    }
    assert ids == {1: [], 2: [0, 1, 0, 0]}


def test_pack_sequences_null_tokens_pack_as_empty(spark):
    """A NULL ``tokens`` row packs as zero tokens: listed in
    ``doc_ids``, adding 0 to ``n_tok``."""
    from grokspark.operators.packing import pack_sequences, pack_sequences_py

    rows = [("a", None), ("b", [1, 2, 3])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = [r.asDict() for r in pack_sequences(df, max_len=8, n_buckets=1).collect()]
    want = pack_sequences_py(rows, max_len=8)
    assert want == [
        {
            "n_docs": 2, "n_tok": 3, "doc_ids": ["a", "b"],
            "tokens": [1, 2, 3], "n_truncated": 0,
        }
    ]
    assert got == [{"bucket": 0, "pack_id": "0#0", **want[0]}]


def test_prepare_corpus_drops_a_null_text_row(spark):
    from grokspark.operators.corpus import prepare_corpus, prepare_corpus_py

    out = prepare_corpus(_texts(spark, [(1, None)]), n_buckets=2, n_merges=4)
    assert out.collect() == []
    assert prepare_corpus_py([(1, None)], n_buckets=2, n_merges=4) == []


# -- raw-line ingest ---------------------------------------------------------

RAW_COLUMNS = ["doc_id", "tokens", "n_tok", "source"]


def test_read_raw_lines_zero_rows(spark, tmp_path):
    from grokspark.sources import read_raw_lines

    (tmp_path / "empty.log").write_text("", encoding="utf-8")
    out = read_raw_lines(spark, str(tmp_path / "*.log"))
    assert out.columns == RAW_COLUMNS
    assert out.collect() == []


def test_sequences_df_zero_rows(spark):
    from grokspark.datagen import sequences_df

    out = sequences_df(spark, 0)
    assert out.columns == RAW_COLUMNS
    assert out.collect() == []


@pytest.mark.parametrize("id_mode", ["split", "content"])
def test_read_raw_lines_empty_line_and_ids(spark, tmp_path, id_mode):
    """An empty line is a row with no tokens; both id schemes keep
    their exact form."""
    import hashlib

    from grokspark.sources import read_raw_lines

    (tmp_path / "app.v1.log").write_text("a\n\nbé\n", encoding="utf-8")
    out = read_raw_lines(spark, str(tmp_path / "*.log"), id_mode=id_mode)
    got = sorted(tuple(r) for r in out.collect())
    if id_mode == "split":
        ids = [f"app.v1.log#0-{j}" for j in range(3)]
    else:
        ids = [
            "app.v1.log#" + hashlib.sha1(f"app.v1.log{t}".encode()).hexdigest()
            for t in ["a", "", "bé"]
        ]
    want = [
        (i, list(t.encode()), len(t.encode()), "app.v1")
        for i, t in zip(ids, ["a", "", "bé"])
    ]
    assert got == sorted(want)
