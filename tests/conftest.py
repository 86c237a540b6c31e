from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession for the whole test run."""
    from grokspark.session import get_spark

    spark = get_spark(app_name="grokspark-tests", cores=4, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return str(TESTDATA / "sf0.001")


@pytest.fixture(scope="session")
def knn_reference():
    """numpy brute-force kNN under the bucket cogroup's candidate rule:
    candidates are every other row whose hyperplane bucket is within
    ``probe_hamming`` bits of the query's; top ``k`` by (cosine desc,
    id asc). Returns ``{(query, neighbor): (rank, score)}``."""
    import numpy as np

    from grokspark.operators.similarity import bucket_of, hyperplanes

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    def reference(rows, n_planes, k=3, probe_hamming=1):
        planes = hyperplanes(len(rows[0]["embedding"]), n_planes, 42)
        buckets = {r["vec_id"]: bucket_of(r["embedding"], planes) for r in rows}
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
        want = {}
        for q in vecs:
            scored = [
                (cos(vecs[q], vecs[c]), c)
                for c in vecs
                if c != q and bin(buckets[q] ^ buckets[c]).count("1") <= probe_hamming
            ]
            ranked = sorted(scored, key=lambda t: (-t[0], t[1]))[:k]
            for rank, (score, c) in enumerate(ranked, 1):
                want[(q, c)] = (rank, score)
        return want

    return reference
