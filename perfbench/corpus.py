"""Seeded benchmark inputs with their expected outputs.

Route workloads read ``grokspark.datagen`` rows from an index range that
the seed picks, so every input is the same corpus shape the package's
own tests and gate queries use: one hot apache source (~70%), ~5%
head-truncated lines and ~1% unroutable ``debug_feed`` rows.

``nomatch`` inputs additionally corrupt a fixed share of the intact
apache rows mid-line: the first digit of the HTTP status becomes ``x``.
``%{HTTPD_COMBINEDLOG}`` then fails only after the quoted request, and
it cannot match anywhere else in the line (the status must be ``-`` or
a number, the quoted request's ``DATA`` can swallow quotes but the
line has no later split that satisfies the tail, and the single
``[timestamp]`` pins the start), so every corrupted row is a no-match
by construction. The engine backtracks through the whole line first,
which makes the regex the dominant per-row cost.

Rows are written by one process as ``files`` parquet files, so the scan
has the same task count for any row count. Each input directory holds a
``_labels.json`` with the expected per-(route, matched) counts, and is
cached under ``<cache>/<corpus>-s<seed>-n<rows>-f<files>``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections import Counter
from multiprocessing import get_context

from grokspark import datagen

# disjoint index ranges per seed for any size up to this many rows
SEED_STRIDE = 10_000_000
# share of intact apache rows that the nomatch corpus corrupts mid-line
NOMATCH_SHARE = 0.3
# routed rows whose token arrays the sink check compares per call
SAMPLE_ROWS = 256
# Spark and pyarrow skip files whose names start with "_"
LABELS = "_labels.json"

_STATUS_AT = 'HTTP/1.1" '


def _corrupt_midline(line: str) -> str:
    k = line.index(_STATUS_AT) + len(_STATUS_AT)
    return line[:k] + "x" + line[k + 1 :]


def _rows(args):
    """Rows ``[lo, hi)`` of a corpus, with each row's expected label."""
    corpus, lo, hi = args
    out = []
    for i in range(lo, hi):
        row = datagen.row_for(i)
        line = bytes(row["tokens"]).decode("utf-8")
        # datagen's head corruption keeps 10 chars and appends "~~"
        matched = not (len(line) == 12 and line.endswith("~~"))
        if (
            corpus == "nomatch"
            and matched
            and row["source"] == "apache_access"
            and random.Random(f"perfbench:nomatch:{i}").random() < NOMATCH_SHARE
        ):
            line = _corrupt_midline(line)
            row["tokens"] = list(line.encode("utf-8"))
            matched = False
        out.append((row, matched))
    return out


def _write(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()),
            ("source", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def build(root: str, corpus: str, seed: int, rows: int, files: int) -> str:
    """Return the directory of the (cached) input; build it if missing,
    one generator process per file."""
    name = f"{corpus}-s{seed}-n{rows}-f{files}"
    final = os.path.join(root, name)
    if os.path.exists(os.path.join(final, LABELS)):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    start = seed * SEED_STRIDE
    bounds = [start + rows * f // files for f in range(files + 1)]
    chunks = [(corpus, bounds[f], bounds[f + 1]) for f in range(files)]
    pool = get_context("fork").Pool(files)
    try:
        parts = pool.map(_rows, chunks)
    finally:
        pool.close()
        pool.join()
    expected: Counter = Counter()
    unroutable = 0
    sample = []
    step = max(1, rows // SAMPLE_ROWS)
    for f, part in enumerate(parts):
        for row, matched in part:
            route = datagen.SOURCES[row["source"]][1]
            if route is None:
                unroutable += 1
                continue
            expected[f"{route}|{matched}"] += 1
            if len(sample) < SAMPLE_ROWS and int(row["doc_id"].rsplit("-", 1)[1]) % step == 0:
                sample.append(row["doc_id"])
        _write(os.path.join(tmp, f"part-{f:03d}.parquet"), [r for r, _ in part])
    labels = {
        "corpus": corpus,
        "seed": seed,
        "rows": rows,
        "start": start,
        "counts": dict(sorted(expected.items())),
        "unroutable": unroutable,
        "routed": sum(expected.values()),
        "sample_ids": sample,
    }
    with open(os.path.join(tmp, LABELS), "w", encoding="utf-8") as fh:
        json.dump(labels, fh, indent=1)
    if os.path.exists(final):  # a stale half-built cache entry
        shutil.rmtree(final)
    os.replace(tmp, final)
    return final


def load_labels(input_dir: str) -> dict:
    with open(os.path.join(input_dir, LABELS), encoding="utf-8") as fh:
        return json.load(fh)
