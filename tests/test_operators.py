"""Training-data operator tests: approximate operators are checked
against their exact counterparts on the driver-provided testdata."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def oracles():
    import __spark_entry__ as entry

    return entry.oracle_sql()


@pytest.fixture(scope="module")
def lsh_index(emb, tmp_path_factory):
    """The testdata embeddings as an 8-plane LSH index (seed 42)."""
    from grokspark.operators import build_lsh_index

    index = str(tmp_path_factory.mktemp("ann") / "index")
    build_lsh_index(emb, index, n_planes=8, seed=42)
    return index


def _oracle_rows(sf_dir, sql):
    """Run a gate oracle in DuckDB over ``sf_dir``'s embeddings table;
    returns (column names, rows)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rel = con.sql(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def test_exact_dedup_counts(docs):
    from grokspark.operators import exact_dedup

    total = docs.count()
    deduped = exact_dedup(docs)
    agg = deduped.agg(
        F.count(F.lit(1)).alias("groups"), F.sum("n_copies").alias("rows")
    ).head()
    assert agg["rows"] == total
    assert agg["groups"] <= total


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH candidates must recover the exact jaccard pairs (32 bands of
    4 at threshold 0.5 -> expected recall ~1 at this scale)."""
    from grokspark.operators import jaccard_pairs, minhash_lsh_pairs

    exact = {
        (r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, 0.5, n=2).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, 0.5, n=2).collect()
    }
    # verification makes LSH precise; recall is the approximate part
    assert lsh.issubset(exact)
    if exact:
        assert len(lsh) / len(exact) >= 0.9


@pytest.mark.parametrize(
    "t, na, nb, union_lb, keep",
    [
        (0.1, 27, 28, 50, True),  # (1 + 0.1) * 50 = 55.00000000000001 > na + nb
        (0.14, 7, 50, 40, True),  # 0.14 * 50 = 7.000000000000001 > min(na, nb)
        (0.1, 20, 20, 50, False),  # 40 < 55: the union bound is below t
    ],
)
def test_jaccard_precheck_keeps_threshold_boundary(spark, t, na, nb, union_lb, keep):
    """A pair whose jaccard bound equals the threshold exactly must reach
    the exact verify, although fl((1+t)*P) and fl(t*max) can round
    above the exact products."""
    from grokspark.operators.dedup import _jaccard_precheck

    row = (
        spark.createDataFrame([(na, nb, union_lb)], "na int, nb int, p int")
        .select(_jaccard_precheck(F.col("na"), F.col("nb"), F.col("p"), t).alias("k"))
        .head()
    )
    assert row["k"] is keep


def test_ann_lsh_recall_vs_brute_force(spark, emb, lsh_index):
    from grokspark.operators import ann_brute_force_topk, lsh_index_topk

    query = emb.filter(F.col("vec_id") == 1).head()["embedding"]
    exact = [r["vec_id"] for r in ann_brute_force_topk(emb, query, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in lsh_index_topk(spark, lsh_index, query, k=10, probe_hamming=2).collect()
    ]
    # the query's own vector must rank first in both
    assert exact[0] == 1 and approx[0] == 1
    assert len(set(exact) & set(approx)) >= 5  # recall@10 >= 0.5 with 2-bit probe


def test_simhash_near_duplicates(spark):
    from grokspark.operators import simhash_signatures

    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy cat"),
        ("c", "completely different words entirely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}

    def hamming(x, y):
        return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sigs["a"], sigs["b"]) < hamming(sigs["a"], sigs["c"])
    # determinism across invocations
    sigs2 = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert sigs == sigs2


def test_multimodal_stub_and_plumbing(spark, docs):
    from grokspark.operators.multimodal import (
        decode_image,
        extract_image_features,
        png_payload_df,
    )

    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x01")

    payloads = png_payload_df(docs.limit(50))
    feats = extract_image_features(payloads)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert 4 <= r["width"] <= 11 and 4 <= r["height"] <= 11  # fake_png dims
        assert 0.0 <= r["mean_luma"] <= 255.0
        assert 0 <= r["luma_milli"] <= 255_000 * r["width"] * r["height"]
        assert len(r["sha1"]) == 40
    # deterministic across runs
    again = {r["item_id"]: r["sha1"] for r in extract_image_features(payloads).collect()}
    assert all(again[r["item_id"]] == r["sha1"] for r in rows)


def test_quality_and_langid_columns(docs):
    from grokspark.operators import lang_id, quality_scores

    q = quality_scores(docs.limit(20)).collect()
    for r in q:
        assert r["n_words"] > 0
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert r["quality_keep"] in (0, 1)
    preds = lang_id(docs.limit(20)).select("lang_pred").distinct().collect()
    assert {r["lang_pred"] for r in preds} <= {"en", "other"}


def test_simhash_pairs_match_pure_python(spark):
    """Distributed banded SimHash pairs == single-process reference."""
    from grokspark.datagen import iter_rows
    from grokspark.operators import simhash_near_dup_pairs
    from grokspark.operators.dedup import simhash_py

    rows = [
        (r["doc_id"], bytes(r["tokens"]).decode("utf-8")) for r in iter_rows(600)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(df, max_hamming=3, bands=4).collect()
    }
    # brute-force reference over unsigned sigs
    sigs = [(d, simhash_py(t) & 0xFFFFFFFFFFFFFFFF) for d, t in rows]
    want = {}
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            (da, ua), (db, ub) = sigs[i], sigs[j]
            if da > db:
                da, db, ua, ub = db, da, ub, ua
            h = (ua ^ ub).bit_count()
            if h <= 3:
                want[(da, db)] = h
    assert got == want


def test_simhash_pairs_rejects_unguaranteed_hamming(spark):
    from grokspark.operators import simhash_near_dup_pairs

    df = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    with pytest.raises(ValueError):
        simhash_near_dup_pairs(df, max_hamming=4, bands=4)


def test_ann_index_topk_equals_reference(spark, emb, lsh_index):
    """The materialized-index path returns exactly the numpy reference:
    rows whose ``bucket_of`` is among the query's ``hamming_probes``,
    ranked by exact cosine (ties by id)."""
    import numpy as np

    from grokspark.operators import lsh_index_topk
    from grokspark.operators.similarity import bucket_of, hamming_probes, hyperplanes

    query = emb.filter(F.col("vec_id") == 1).head()["embedding"]
    via_index = [
        (r["vec_id"], r["score"])
        for r in lsh_index_topk(spark, lsh_index, query, k=10, probe_hamming=2).collect()
    ]

    planes = hyperplanes(len(query), 8, 42)
    probes = set(hamming_probes(bucket_of(query, planes), 8, 2))
    q = np.array(query, dtype=np.float64)
    scored = []
    for r in emb.select("vec_id", "embedding").collect():
        if bucket_of(r["embedding"], planes) in probes:
            v = np.array(r["embedding"], dtype=np.float64)
            scored.append((float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), r["vec_id"]))
    want = [(i, s) for s, i in sorted(scored, key=lambda t: (-t[0], t[1]))[:10]]
    assert [i for i, _ in via_index] == [i for i, _ in want]
    for (_, got), (_, ref) in zip(via_index, want):
        assert abs(got - ref) < 1e-9
    assert via_index[0][0] == 1  # the query's own vector ranks first


def test_png_decode_distributed_matches_pure_python(spark):
    """Real PNG decode in mapInPandas == single-process codec run."""
    import hashlib

    from grokspark.datagen import iter_rows
    from grokspark.operators.multimodal import extract_image_features, png_payload_df
    from grokspark.operators.png import fake_png, png_features

    rows = [
        (r["doc_id"], bytes(r["tokens"]).decode("utf-8")) for r in iter_rows(80)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    feats = {
        r["item_id"]: r
        for r in extract_image_features(png_payload_df(df)).collect()
    }
    assert len(feats) == 80
    for doc_id, text in rows:
        payload = fake_png(doc_id, text)
        want = png_features(payload)
        got = feats[doc_id]
        assert got["width"] == want["width"] and got["height"] == want["height"]
        assert got["luma_milli"] == want["luma_milli"]
        assert got["mean_luma"] == want["mean_luma"]
        assert got["sha1"] == hashlib.sha1(payload).hexdigest()
        assert got["n_bytes"] == len(payload)


def test_duplicate_clusters_components(spark):
    """Hash-min CC: chains need multiple propagation rounds; min id
    becomes the cluster representative."""
    from grokspark.operators import duplicate_clusters

    pairs = [
        ("a", "b"), ("b", "c"),              # triangle-ish component -> a
        ("d", "e"),                           # pair -> d
        ("p1", "p2"), ("p2", "p3"), ("p3", "p4"), ("p4", "p5"), ("p5", "p6"),
    ]                                         # 6-chain (diameter 5) -> p1
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    want = {
        "a": "a", "b": "a", "c": "a",
        "d": "d", "e": "d",
        "p1": "p1", "p2": "p1", "p3": "p1", "p4": "p1", "p5": "p1", "p6": "p1",
    }
    # driver union-find fast path (default: small edge set)
    got = {
        r["id"]: r["cluster_id"] for r in duplicate_clusters(df).collect()
    }
    assert got == want
    # distributed hash-min loop (forced): identical labels
    dist = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(df, driver_max_edges=None).collect()
    }
    assert dist == want


def test_knn_join_matches_reference(spark, emb, knn_reference):
    """Cogrouped matmul kNN == numpy brute-force pairs filtered on
    bucket hamming (the candidate rule the bucket cogroup implements):
    same (query, neighbor, rank) triples, scores within summation-order
    ulps, on a 120-row sample at 8 planes. The whole table at 6 planes
    is tests/test_scale_guards.py::test_knn_join_blocked_matches_fold_path."""
    from grokspark.operators import knn_join

    frame = emb.limit(120).localCheckpoint()
    want = knn_reference(frame.select("vec_id", "embedding").collect(), 8)
    got = {
        (r["vec_id"], r["neighbor_id"]): (r["rank"], r["score"])
        for r in knn_join(frame, k=3, n_planes=8, probe_hamming=1).collect()
    }
    assert got.keys() == want.keys()
    for pair, (rank, score) in got.items():
        assert rank == want[pair][0], pair
        assert abs(score - want[pair][1]) < 1e-9, pair


def test_embedding_lsh_pairs_precision_and_semantics(spark, emb):
    """LSH embedding pairs: exact precision (subset of the brute-force
    pairs at the same threshold) and exact candidate-rule semantics
    (equals brute force filtered on bucket hamming <= h). No pair of
    this sample reaches 0.5, so the threshold is 0.3."""
    import numpy as np

    from grokspark.operators import embedding_cosine_pairs, embedding_lsh_pairs
    from grokspark.operators.similarity import bucket_of, hyperplanes

    sample = emb.limit(150).cache()
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(sample, threshold=0.3).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_pairs(
            sample, threshold=0.3, n_planes=8, probe_hamming=1
        ).collect()
    }
    assert got <= exact  # precision: every emitted pair is a true pair

    rows = sample.select("vec_id", "embedding").collect()
    planes = hyperplanes(len(rows[0]["embedding"]), 8, 42)
    buckets = {r["vec_id"]: bucket_of(r["embedding"], planes) for r in rows}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(vecs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(buckets[a] ^ buckets[b]).count("1") > 1:
                continue
            cos = float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
            if cos >= 0.3:
                want.add((a, b))
    assert want  # 0.3 keeps the check non-vacuous on this sample
    assert got == want
    sample.unpersist()


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_embedding_lsh_pairs_full_probe_equals_exact_baseline(spark, emb, id_type):
    """At probe_hamming = n_planes every pair is a candidate, so the
    matmul engine returns exactly the pairs of the JVM-fold baseline
    ``embedding_cosine_pairs``, scores within summation-order ulps —
    for long and string ids alike, and in the input's id type."""
    from grokspark.operators import embedding_cosine_pairs, embedding_lsh_pairs

    sample = (
        emb.limit(150)
        .select(F.col("vec_id").cast(id_type).alias("vec_id"), "embedding")
        .localCheckpoint()
    )
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_cosine_pairs(sample, threshold=0.3).collect()
    }
    # 0.3, not the gate's 0.5: no pair of this sample reaches 0.5
    pairs = embedding_lsh_pairs(sample, threshold=0.3, n_planes=4, probe_hamming=4)
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in pairs.collect()}
    assert exact and got.keys() == exact.keys()
    for pair, cos in got.items():
        assert abs(cos - exact[pair]) < 1e-9, pair
    assert pairs.schema["id_a"].dataType == sample.schema["vec_id"].dataType


def test_embedding_lsh_pairs_threshold_margins(spark, emb):
    """dedup_embedding_lsh's matmul verify gives the DuckDB oracle's
    pair set only while no candidate's cosine sits within summation-
    order ulps of the threshold: pin the minimum |cos - threshold| over
    the gate query's candidates (threshold 0.5, 8 planes, hamming 2)
    on the testdata."""
    from grokspark.operators import embedding_lsh_pairs

    cand = embedding_lsh_pairs(
        emb, threshold=float("-inf"), n_planes=8, probe_hamming=2, seed=42
    )
    margin = cand.agg(F.min(F.abs(F.col("cos") - 0.5))).head()[0]
    assert margin > 1e-9, margin


def test_embedding_operators_ignore_null_vectors(spark, emb):
    """A NULL embedding is legal input. It is never a neighbour, a
    pair or a dropping cell-mate: ``knn_join`` and
    ``embedding_lsh_pairs`` return exactly the rows they return
    without it, and SemDeDup keeps it (``semdedup_lsh`` in bucket 0,
    the fold's bucket of a NULL). The NULL row comes first, so the
    width probe must skip it, and has the smallest id, so it would be
    the dropping mate of its whole cell."""
    from grokspark.operators import embedding_lsh_pairs, knn_join, semdedup, semdedup_lsh
    from grokspark.operators.ivf import seeded_centroids

    sample = emb.select("vec_id", "embedding").limit(120).localCheckpoint()
    null_row = spark.createDataFrame([(-1, None)], sample.schema)
    with_null = null_row.union(sample).localCheckpoint()

    def rows(op, frame):
        return sorted(tuple(r) for r in op(frame).collect())

    def knn(frame):
        return knn_join(frame, k=3, n_planes=8, probe_hamming=1)

    def pairs(frame):
        return embedding_lsh_pairs(frame, threshold=0.3, n_planes=4, probe_hamming=1)

    def lsh_cells(frame):
        return semdedup_lsh(frame, n_planes=4, threshold=0.3)

    def centroid_cells(frame):
        return semdedup(frame, seeded_centroids(64, 16, seed=42), threshold=0.3)

    assert rows(knn, with_null) == rows(knn, sample)
    assert rows(pairs, with_null) == rows(pairs, sample)
    assert rows(lsh_cells, with_null) == sorted(rows(lsh_cells, sample) + [(-1, 0, 1)])
    got = rows(centroid_cells, with_null)
    assert [r for r in got if r[0] != -1] == rows(centroid_cells, sample)
    assert [r[2] for r in got if r[0] == -1] == [1]


def test_duplicate_clusters_raises_on_non_convergence(spark):
    from grokspark.operators import duplicate_clusters

    chain = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(8)]
    df = spark.createDataFrame(chain, "id_a string, id_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        # force the distributed loop: the driver fast path is exact CC
        # and has no convergence failure mode to test
        duplicate_clusters(df, max_iterations=2, driver_max_edges=None)


def test_n_planes_guard_and_autosizing(spark, emb):
    """Bucket-occupancy math: recommended_n_planes keeps expected
    population near target; overfull explicit settings warn; None
    auto-sizes."""
    import warnings as w

    from grokspark.operators import knn_join
    from grokspark.operators.similarity import (
        MAX_BUCKET_ROWS,
        _warn_if_buckets_overfull,
        recommended_n_planes,
    )

    assert recommended_n_planes(1_000) == 1
    assert recommended_n_planes(1_000_000_000, 1024) == 20
    assert 1_000_000_000 / (1 << 20) < 1024

    with pytest.warns(UserWarning, match="quadratic at this occupancy"):
        _warn_if_buckets_overfull(MAX_BUCKET_ROWS * 4, 1, "op")
    with w.catch_warnings():
        w.simplefilter("error")
        _warn_if_buckets_overfull(MAX_BUCKET_ROWS, 4, "op")  # fine: no warning

    # auto-sizing end-to-end on the testdata (500 rows -> 1 plane)
    auto = knn_join(emb, k=1, n_planes=None, probe_hamming=0)
    assert auto.count() > 0


def test_lsh_bucket_udf_path_matches_fold(spark, emb):
    """The Arrow matmul bucket the batch operators use agrees with the
    plan-literal fold (``lsh_bucket_col``) and the driver-side
    ``bucket_of`` that the materialized index and the oracles use, on
    the testdata embeddings (sign margins ~1e-3, far beyond any
    summation-order ulp difference)."""
    from grokspark.operators.similarity import (
        _bucketed_vectors,
        bucket_of,
        hyperplanes,
        lsh_bucket_col,
    )

    planes = hyperplanes(64, 8, seed=42)
    rows = (
        _bucketed_vectors(emb, "embedding", "vec_id", planes)
        .withColumn("fold", lsh_bucket_col("vec", planes))
        .collect()
    )
    assert len(rows) == emb.count()
    for r in rows:
        assert r["_bucket"] == r["fold"] == bucket_of(r["vec"], planes), r["id"]


def test_knn_rank_margins_survive_engine_fp_differences(spark, emb):
    """knn_join rank order is compared against a DuckDB oracle that
    recomputes cosine independently; ranks are only portable if
    rank-adjacent scores are separated by far more than any
    summation-order ulp. Assert the minimum adjacent gap on the
    testdata (mirrors the documented ~1e-3 sign-LSH margin check)."""
    import collections

    from grokspark.operators import knn_join

    # k+1 neighbors so the oracle-visible top-3 cut line has a margin too
    rows = knn_join(emb, k=4, n_planes=8, probe_hamming=1, seed=42).collect()
    by_q = collections.defaultdict(list)
    for r in rows:
        by_q[r["vec_id"]].append((r["rank"], r["score"]))
    min_gap = float("inf")
    for scores in by_q.values():
        scores.sort()
        for (_, a), (_, b) in zip(scores, scores[1:]):
            min_gap = min(min_gap, a - b)
    assert min_gap > 1e-9, min_gap


def test_ivf_assignment_parity_and_topk(spark, emb, tmp_path):
    """IVF-flat: Spark cell assignment == driver-side fold twin; the
    probed top-k equals a pure-Python rerun of the identical rule."""
    from grokspark.operators.ivf import (
        build_ivf_index,
        ivf_assign_col,
        ivf_assign_of,
        ivf_probes,
        ivf_topk,
        seeded_centroids,
    )

    centroids = seeded_centroids(64, 16, seed=42)
    rows = emb.select(
        "vec_id", "embedding", ivf_assign_col("embedding", centroids).alias("cell")
    ).collect()
    for r in rows:
        assert r["cell"] == ivf_assign_of(r["embedding"], centroids), r["vec_id"]

    index = str(tmp_path / "ivf")
    build_ivf_index(emb, index, centroids)
    query = next(r["embedding"] for r in rows if r["vec_id"] == 0)
    got = [r["vec_id"] for r in ivf_topk(spark, index, query, centroids, k=10, nprobe=4).collect()]

    # pure-Python rerun of the same rule
    import math

    probes = set(ivf_probes(query, centroids, 4))
    qn = math.sqrt(sum(float(x) * x for x in query))

    def cos(v):
        dot = sum(float(a) * float(b) for a, b in zip(v, query))
        return dot / (math.sqrt(sum(float(a) * a for a in v)) * qn)

    cand = [
        (cos(r["embedding"]), -r["vec_id"])
        for r in rows
        if ivf_assign_of(r["embedding"], centroids) in probes
    ]
    want = [-i for _s, i in sorted(cand, reverse=True)[:10]]
    assert got == want


def test_ivf_index_scan_prunes_partitions(spark, emb, tmp_path):
    """ivf_topk must read only the nprobe probed cells — asserted on
    EXECUTED scan metrics (numFiles), not explain text."""
    import glob

    from grokspark.operators.ivf import build_ivf_index, ivf_topk, seeded_centroids
    from tests.test_plans import _executed_scan_metrics, explain_str

    centroids = seeded_centroids(64, 16, seed=42)
    index = str(tmp_path / "ivf")
    build_ivf_index(emb, index, centroids)
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    top = ivf_topk(spark, index, query, centroids, k=10, nprobe=4)
    plan = explain_str(top)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "_centroid" in pf[0], plan
    top.collect()
    scans = _executed_scan_metrics(top)
    n_files = scans[0]["numFiles"]
    total = len(glob.glob(f"{index}/_centroid=*/*.parquet"))
    assert n_files <= 4, (n_files, total)
    assert n_files < total


def test_ivf_trained_centroids_path(spark, emb, tmp_path):
    """MLlib k-means training (the scale path for real centroids):
    deterministic under a seed, and the resulting index serves queries."""
    from grokspark.operators.ivf import build_ivf_index, ivf_topk, train_ivf_centroids

    c1 = train_ivf_centroids(emb, k=8, seed=7, max_iter=5)
    c2 = train_ivf_centroids(emb, k=8, seed=7, max_iter=5)
    assert len(c1) == 8 and len(c1[0]) == 64
    assert c1 == c2  # fixed seed -> deterministic
    index = str(tmp_path / "ivf_trained")
    build_ivf_index(emb, index, c1)
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    got = ivf_topk(spark, index, query, c1, k=5, nprobe=2).collect()
    assert len(got) == 5


def test_winnow_fingerprints_match_pure_python(spark, docs):
    """Spark winnowing (codes -> k-gram fold -> window minima) equals
    the pure-Python mirror per document, including short docs."""
    from grokspark.operators import winnow_fingerprints
    from grokspark.operators.textops import winnow_fingerprints_py

    got: dict = {}
    for r in winnow_fingerprints(docs).collect():
        got.setdefault(r["id"], set()).add(r["fp"])
    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows)
    for r in rows:
        assert got[r["doc_id"]] == set(winnow_fingerprints_py(r["text"])), r["doc_id"]


def test_winnow_unicode_code_parity(spark):
    """The Spark split+ascii char-code path must equal the Python
    mirror on BMP unicode (accents, CJK, symbols)."""
    from grokspark.operators import winnow_fingerprints
    from grokspark.operators.textops import winnow_fingerprints_py

    texts = [
        "héllo wörld ünïcode ça va bien aujourd'hui",
        "日本語のテキストです 漢字 かな カナ 句読点、テスト。",
        "mixed ascii and 中文 and emoji-free ☃ snowman",
        "short",
        "",
        "   spaces   and\t\ttabs\nnewlines   ",
    ]
    df = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    got: dict = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["id"], set()).add(r["fp"])
    for i, t in enumerate(texts):
        assert got[f"d{i}"] == set(winnow_fingerprints_py(t)), repr(t)


def test_winnow_pairs_df_cap_bounds_join(spark, docs):
    """winnow_pairs with the df cap reproduces the pure-Python capped
    inverted index; without the cap the hot boilerplate fps would make
    the join quadratic (documented)."""
    from grokspark.operators import winnow_pairs

    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_pairs(docs, min_shared=20, max_fp_df=50).collect()
    }
    assert got  # the synthetic corpus contains engineered near-dups
    assert all(n >= 20 for n in got.values())


def test_dedup_corpus_decisions(spark, docs):
    """The dedup_corpus decision table must be consistent: every doc
    present once, exactly one keep per cluster, cluster_id = min member
    id, and exact duplicates cluster with their originals."""
    import collections

    from grokspark.operators import dedup_corpus

    # add exact duplicates so the collapse path is data-exercised
    extra = docs.limit(5).selectExpr(
        "doc_id + 1000000 AS doc_id", "text", "lang", "source", "n_chars"
    )
    corpus = docs.unionByName(extra)

    a = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup_corpus(corpus, threshold=0.5, n=2, bands=64).collect()
    }
    assert len(a) == corpus.count()
    clusters = collections.defaultdict(list)
    for did, (cid, keep) in a.items():
        clusters[cid].append((did, keep))
    for cid, members in clusters.items():
        assert cid == min(d for d, _k in members)
        assert sum(1 for _d, k in members if k) == 1
        assert dict(members)[cid] is True
    # the duplicated docs were clustered with their originals
    for r in extra.select("doc_id").collect():
        orig = r["doc_id"] - 1000000
        assert a[r["doc_id"]][0] == a[orig][0]
        assert a[r["doc_id"]][1] is False  # higher id never kept


def test_thumbnail_png_and_video_container_roundtrip():
    """Pure-codec invariants: GSV1 container round-trips frames
    byte-for-byte; thumbnails respect max_dim, preserve aspect floor
    mapping, and remain decodable RGB."""
    from grokspark.operators.png import (
        decode_png,
        decode_video,
        encode_video,
        fake_png,
        fake_video,
        thumbnail_png,
    )

    frames = [fake_png(f"k{i}", f"text {i}") for i in range(5)]
    assert decode_video(encode_video(frames)) == frames
    v = fake_video("vid", "some text", n_frames=3)
    assert len(decode_video(v)) == 3

    for key in ["a", "b", "c"]:
        png = fake_png(key, "payload " * 10)
        src = decode_png(png)
        th = decode_png(thumbnail_png(png, 4))
        assert max(th["width"], th["height"]) <= 4
        assert th["channels"] == 3
        # aspect: longer side maps to 4, shorter scales proportionally
        if src["width"] >= src["height"]:
            assert th["width"] == 4
        else:
            assert th["height"] == 4


def test_video_frame_sampling_distributed_matches_pure_python(spark):
    """sample_video_frames stride semantics + per-frame payload
    equality vs a single-process rerun of the same container ops."""
    from grokspark.operators.multimodal import sample_video_frames, video_payload_df
    from grokspark.operators.png import decode_video, fake_video

    texts = [(f"d{i}", f"doc {i} body " * (i + 1)) for i in range(40)]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    videos = video_payload_df(df, n_frames=5)
    frames = sample_video_frames(videos, stride=2).collect()

    expected = {}
    for did, text in texts:
        fs = decode_video(fake_video(did, text, 5))
        for idx in range(0, 5, 2):
            expected[(did, idx)] = fs[idx]
    got = {(r["video_id"], r["frame_idx"]): bytes(r["payload"]) for r in frames}
    assert got == expected
    assert all(r["item_id"] == f"{r['video_id']}#{r['frame_idx']}" for r in frames)
    assert {r["frame_idx"] for r in frames} == {0, 2, 4}


def test_resize_images_distributed_matches_pure_python(spark):
    from grokspark.operators.multimodal import png_payload_df, resize_images
    from grokspark.operators.png import fake_png, thumbnail_png

    texts = [(f"d{i}", f"body {i} " * 5) for i in range(30)]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    got = {
        r["item_id"]: bytes(r["payload"])
        for r in resize_images(png_payload_df(df), max_dim=5).collect()
    }
    for did, text in texts:
        assert got[did] == thumbnail_png(fake_png(did, text), 5), did


def test_kmv_distinct_exact_and_sketch_paths(spark):
    """KMV: below k the count is exact; at k the estimate lands within
    the theoretical ~1/sqrt(k-2) band (generous 5x allowance); the
    sketch is invariant to duplication (distinct semantics)."""
    from grokspark.operators import kmv_distinct

    n = 5000
    df = spark.range(n).selectExpr("CAST(id % 1000 AS long) AS v")
    # exact path: k > distinct
    row = kmv_distinct(df, "v", k=2048).head()
    assert row["n_used"] == 1000 and row["estimate"] == 1000.0
    # sketch path: k << distinct
    df2 = spark.range(n).selectExpr("id AS v")
    row = kmv_distinct(df2, "v", k=128).head()
    assert row["n_used"] == 128
    rel_err = abs(row["estimate"] - n) / n
    assert rel_err < 5 / (126 ** 0.5), (row["estimate"], rel_err)
    # duplication invariance
    row2 = kmv_distinct(df2.unionAll(df2), "v", k=128).head()
    assert (row2["kth_hash"], row2["estimate"]) == (row["kth_hash"], row["estimate"])


def test_hash_split_and_sample_determinism(spark, docs):
    """Split/sample assignments are pure functions of the id: invariant
    to repartitioning, stable across calls, nested across fractions,
    and decorrelated between salts."""
    from grokspark.operators import hash_sample, hash_split
    from grokspark.operators.sampling import split_thresholds

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, w).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(17), w).collect()
    }
    assert a == b and len(a) == docs.count()
    assert set(a.values()) == {"train", "val", "test"}
    # rough proportions (binomial tolerance on 500 docs)
    n = len(a)
    train_frac = sum(1 for v in a.values() if v == "train") / n
    assert 0.7 < train_frac < 0.9, train_frac

    s10 = {r["doc_id"] for r in hash_sample(docs, 0.10).collect()}
    s25 = {r["doc_id"] for r in hash_sample(docs, 0.25).collect()}
    assert s10 <= s25  # nested
    assert 0.15 < len(s25) / n < 0.35
    # different salt -> different (decorrelated) subset
    other = {r["doc_id"] for r in hash_sample(docs, 0.25, salt="other").collect()}
    assert other != s25

    # threshold math is exact-integer and covers the whole space
    ths = split_thresholds(w)
    assert ths[-1][1] == 1 << 48
    with pytest.raises(ValueError, match="sum to 1"):
        split_thresholds({"a": 0.5, "b": 0.1})


def test_pack_sequences_deterministic_and_correct(spark):
    """Packing: partition-independent output, per-pack invariants
    (<= max_len, contiguous id order within bucket, truncation flags),
    exact equality with the pure-Python reference per bucket."""
    import collections

    from grokspark.datagen import iter_rows
    from grokspark.operators import pack_sequences
    from grokspark.operators.packing import pack_bucket_of, pack_sequences_py

    corpus = list(iter_rows(300))
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    df = spark.createDataFrame(corpus, schema)
    max_len = 400

    a = pack_sequences(df, max_len, n_buckets=8).collect()
    b = pack_sequences(df.repartition(13), max_len, n_buckets=8).collect()
    key = lambda r: (r["bucket"], r["pack_id"])  # noqa: E731
    assert sorted([tuple(r) for r in a], key=lambda t: (t[0], t[1])) == sorted(
        [tuple(r) for r in b], key=lambda t: (t[0], t[1])
    )

    # invariants + reference equality
    buckets: dict[int, list] = collections.defaultdict(list)
    for r in corpus:
        buckets[pack_bucket_of(r["doc_id"], 8)].append((r["doc_id"], r["tokens"]))
    by_bucket: dict[int, list] = collections.defaultdict(list)
    for r in a:
        by_bucket[r["bucket"]].append(r)
    all_docs = []
    for bucket, rows in by_bucket.items():
        rows.sort(key=lambda r: int(r["pack_id"].split("#")[1]))
        expected = pack_sequences_py(buckets[bucket], max_len)
        assert len(rows) == len(expected)
        for got, exp in zip(rows, expected):
            assert got["n_tok"] == exp["n_tok"] <= max_len
            assert got["doc_ids"] == exp["doc_ids"]
            assert got["tokens"] == exp["tokens"]
            assert got["n_truncated"] == exp["n_truncated"]
            all_docs.extend(got["doc_ids"])
    assert sorted(all_docs) == sorted(r["doc_id"] for r in corpus)

    # truncation: a doc longer than max_len is cut and flagged
    long_doc = [("big", list(range(100)) * 10, 1000, "apache_access")]
    small = spark.createDataFrame(long_doc, schema)
    p = pack_sequences(small, max_len=64, n_buckets=2).collect()
    assert len(p) == 1 and p[0]["n_tok"] == 64 and p[0]["n_truncated"] == 1


def test_heavy_hitters_exact_vs_full_groupby(spark):
    """Two-pass MG output equals the full groupBy at any partitioning,
    with a tight counter budget (k = ceil(1/phi)) and a skewed
    corpus; the pass-2 probe is a broadcast join."""
    import random

    from grokspark.operators.sketches import heavy_hitters

    rng = random.Random(7)
    # zipf-ish skew over 200 terms + a long uniform tail
    toks = [f"t{int(200 / (i % 200 + 1))}" for i in range(20_000)] + [
        f"u{rng.randrange(5_000)}" for _ in range(20_000)
    ]
    rng.shuffle(toks)
    want_n = len(toks)
    from collections import Counter

    cnt = Counter(toks)
    phi_ppm = 5_000
    want = sorted(
        (t, c) for t, c in cnt.items() if c * 1_000_000 > want_n * phi_ppm
    )
    assert 3 <= len(want) <= 40  # the threshold actually discriminates
    df = spark.createDataFrame([(t,) for t in toks], "term string")
    for parts in (1, 7):
        out = heavy_hitters(df.repartition(parts), "term", phi_ppm=phi_ppm)
        got = sorted((r["term"], r["cnt"]) for r in out.collect())
        assert got == want, parts
    plan = (
        heavy_hitters(df, "term", phi_ppm=phi_ppm)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_heavy_hitters_state_bound_and_validation(spark):
    import pyarrow as pa
    import pytest as _pytest

    from grokspark.operators.sketches import _mg_kernel, heavy_hitters

    # the per-partition summary never exceeds k counters (+1 total row)
    k = 8
    batches = [
        pa.record_batch([pa.array([f"w{i % 50}" for i in range(500)])], ["term"]),
        pa.record_batch([pa.array(["hot"] * 400 + [None] * 5)], ["term"]),
    ]
    out = list(_mg_kernel(k)(iter(batches)))
    assert len(out) == 1 and out[0].num_rows <= k + 1
    terms = out[0].column("term").to_pylist()
    cnts = out[0].column("cnt").to_pylist()
    assert terms[-1] is None and cnts[-1] == 900  # nulls excluded from n_p
    assert "hot" in terms  # the true heavy hitter survives pruning

    df = spark.createDataFrame([("a",)], "term string")
    with _pytest.raises(ValueError, match="phi_ppm"):
        heavy_hitters(df, "term", phi_ppm=0)
    with _pytest.raises(ValueError, match="superset"):
        heavy_hitters(df, "term", phi_ppm=10_000, k=10)


def test_heavy_hitters_no_ansi_overflow_past_2_31(spark):
    """n_total * phi_ppm exceeded 2^31 with int literals (ANSI throws);
    the threshold must ride as an exact LONG. 70k tokens * 33000 ppm
    = 2.31e9 > 2^31."""
    from pyspark.sql import functions as F2

    from grokspark.operators.sketches import heavy_hitters

    toks = spark.range(70_000).select(
        F2.when(F2.col("id") % 10 == 0, F2.lit("hot"))
        .otherwise(F2.concat(F2.lit("t"), (F2.col("id") % 20000).cast("string")))
        .alias("term")
    )
    out = heavy_hitters(toks, "term", phi_ppm=33_000).collect()
    assert [(r["term"], r["cnt"]) for r in out] == [("hot", 7000)]


def test_exact_quantiles_matches_sorted_definition(spark):
    """min v with cumcount >= ceil(q*n) == sorted[ceil(q*n)-1]
    (percentile_disc), NULLs excluded; bounds validated."""
    import random

    import pytest as _pytest

    from grokspark.operators.sketches import exact_quantiles

    rng = random.Random(3)
    vals = [rng.randrange(100) for _ in range(997)] + [None] * 3
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    qs = (1, 250_000, 500_000, 750_000, 990_000, 1_000_000)
    out = {r["q_ppm"]: r["value"] for r in exact_quantiles(df, "v", qs).collect()}
    clean = sorted(v for v in vals if v is not None)
    n = len(clean)
    for qp in qs:
        target = -(-qp * n // 1_000_000)  # ceil(q * n)
        assert out[qp] == clean[target - 1], qp
    with _pytest.raises(ValueError, match="q_ppms"):
        exact_quantiles(df, "v", (0,))


def test_semdedup_matches_oracle(spark, emb, sf_dir, oracles):
    """The grouped-matmul scale path equals DuckDB running the gate
    oracle (a sequential-fold cosine) row-for-row, cell AND kept flag —
    the threshold margins (>=1e-3 at sf0.001, measured) dwarf the
    matmul-vs-fold rounding difference."""
    import __spark_entry__ as entry
    from grokspark.operators import semdedup
    from grokspark.operators.ivf import seeded_centroids

    centroids = seeded_centroids(64, entry.SEMDEDUP_CELLS, seed=42)
    fast = semdedup(
        emb, centroids, threshold=entry.SEMDEDUP_THRESHOLD
    ).orderBy("vec_id").collect()
    _, want = _oracle_rows(
        sf_dir, f"SELECT * FROM ({oracles['semdedup']}) ORDER BY vec_id"
    )
    assert [tuple(r) for r in fast] == want
    n = emb.count()
    assert len(fast) == n  # every input row classified exactly once
    kept = sum(r["kept"] for r in fast)
    assert 0 < kept < n  # the rule genuinely splits this corpus


def test_semdedup_smallest_id_per_cell_is_kept(spark, emb):
    """The paper's scan-order rule can never drop a cell's first row
    (no smaller-id mate exists), and dropping is cell-local: a row is
    dropped iff SOME smaller-id mate in the SAME cell clears the
    threshold, regardless of other cells' contents."""
    from grokspark.operators import semdedup
    from grokspark.operators.ivf import seeded_centroids

    centroids = seeded_centroids(64, 16, seed=42)
    out = semdedup(emb, centroids, threshold=0.3)
    firsts = (
        out.groupBy("cell")
        .agg(F.min_by("kept", "vec_id").alias("first_kept"))
        .collect()
    )
    assert firsts and all(r["first_kept"] == 1 for r in firsts)


def test_semdedup_lsh_matches_oracle(spark, emb, sf_dir, oracles):
    """The LSH-cell variant (fold bucket expression + matmul prune)
    equals DuckDB running the gate oracle, which recomputes both the
    buckets and the drop rule."""
    import __spark_entry__ as entry
    from grokspark.operators import semdedup_lsh

    fast = semdedup_lsh(
        emb, n_planes=entry.SEMDEDUP_LSH_PLANES, threshold=entry.SEMDEDUP_THRESHOLD
    ).orderBy("vec_id").collect()
    _, want = _oracle_rows(
        sf_dir, f"SELECT * FROM ({oracles['semdedup_lsh']}) ORDER BY vec_id"
    )
    assert [tuple(r) for r in fast] == want
    kept = sum(r["kept"] for r in fast)
    assert 0 < kept < len(fast)


def test_semdedup_lsh_empty_input(emb):
    """An empty input returns the empty, typed decision table."""
    from grokspark.operators import semdedup_lsh

    out = semdedup_lsh(emb.limit(0), n_planes=4, threshold=0.3)
    assert out.schema.simpleString() == "struct<vec_id:bigint,cell:int,kept:int>"
    assert out.collect() == []


def test_knn_join_and_embedding_lsh_pairs_empty_input(emb):
    """An empty input returns the empty, typed result: the dim probe
    finds no first row, and no vector is ever bucketed."""
    from grokspark.operators import embedding_lsh_pairs, knn_join

    empty = emb.limit(0)
    knn = knn_join(empty, k=3, n_planes=None)
    assert knn.schema.simpleString() == (
        "struct<vec_id:bigint,neighbor_id:bigint,score:double,rank:int>"
    )
    assert knn.collect() == []
    pairs = embedding_lsh_pairs(empty, threshold=0.5, n_planes=4)
    assert pairs.schema.simpleString() == "struct<id_a:bigint,id_b:bigint,cos:double>"
    assert pairs.collect() == []


def _build_and_probe_lsh(spark, df, index):
    from grokspark.operators import build_lsh_index, lsh_index_topk

    planes = build_lsh_index(df, index, n_planes=8, seed=42)
    assert len(planes) == 8
    return lsh_index_topk(spark, index, [1.0] * len(planes[0]), k=10, n_planes=8)


def _build_and_probe_ivf(spark, df, index):
    from grokspark.operators import build_ivf_index, ivf_topk, seeded_centroids

    centroids = seeded_centroids(64, 16, seed=42)
    build_ivf_index(df, index, centroids)
    return ivf_topk(spark, index, [1.0] * 64, centroids, k=10, nprobe=4)


@pytest.mark.parametrize(
    "build_and_probe", [_build_and_probe_lsh, _build_and_probe_ivf], ids=["lsh", "ivf"]
)
def test_cell_index_empty_input(spark, emb, tmp_path, build_and_probe):
    """A zero-row input builds a cell index (for LSH the planes come
    back, no TypeError from the dim probe) that probes to zero rows
    instead of failing schema inference on a directory with no data
    file — both index kinds share the one writer."""
    top = build_and_probe(spark, emb.limit(0), str(tmp_path / "index"))
    assert top.columns == ["vec_id", "score"]
    assert top.collect() == []


EMBEDDING_GATE_QUERIES = (
    "knn_join",
    "knn_join_blocked",
    "dedup_embedding_pairs",
    "dedup_embedding_lsh",
    "semdedup",
    "semdedup_lsh",
    "ann_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_trained",
)


def test_embedding_gate_queries_match_oracles_with_zero_vectors(
    spark, sf_dir, oracles, tmp_path
):
    """All-zero embeddings are legal input. With two of them added to
    the table, every embedding gate query still equals its DuckDB
    oracle, whose ``list_cosine_similarity`` scores a zero vector -1.0
    against every row (the rule ``cosine`` and both numpy kernels
    follow). The base is the oracle sweep's sf0.01 table (500 rows,
    like sf0.001's): ann_ivf_trained pins recall@10 >= 8 for every
    query, which sf0.001's table misses even without zero rows (one
    query finds 6-7 of 10)."""
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from tools.check_oracles import normalize

    base = Path(sf_dir).parent / "sf0.01"
    if not base.exists():
        pytest.skip("sf0.01 testdata absent")
    table = pq.read_table(base / "embeddings.parquet")
    dim = len(table.column("embedding")[0])
    next_id = max(table.column("vec_id").to_pylist()) + 1
    zeros = pa.Table.from_pydict(
        {
            "vec_id": [next_id, next_id + 1],
            "embedding": [[0.0] * dim] * 2,
            "label": [0, 1],
        },
        schema=table.schema,
    )
    pq.write_table(pa.concat_tables([table, zeros]), tmp_path / "embeddings.parquet")

    qs = entry.queries()
    failures = []
    for name in EMBEDDING_GATE_QUERIES:
        df = qs[name](spark, str(tmp_path))
        got = (sorted(df.columns), normalize([tuple(r) for r in df.collect()], df.columns))
        cols, rows = _oracle_rows(tmp_path, oracles[name])
        want = (sorted(cols), normalize(rows, cols))
        if got != want:
            failures.append((name, f"{len(got[1])} rows vs oracle {len(want[1])}"))
    assert not failures, failures


def test_dsir_weights_match_python_twin(spark, docs):
    """Distributed DSIR weights equal the single-process twin exactly
    (integer micro-nat sums — the per-bucket quantization makes the
    per-doc weight an exact integer, immune to sum order), and the
    top-k selection is the twin's ranking."""
    from grokspark.operators import dsir_select, dsir_weights
    from grokspark.operators.dsir import dsir_weights_py

    target = docs.filter(F.col("doc_id") % 11 == 0)
    raw = docs.filter(F.col("doc_id") % 11 != 0)
    got = {
        r["doc_id"]: (r["n_grams"], r["weight_micro"])
        for r in dsir_weights(raw, target, n_buckets=512).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    want = dsir_weights_py(
        [t for t in rows if t[0] % 11 != 0],
        [t for t in rows if t[0] % 11 == 0],
        n_buckets=512,
    )
    assert got == want
    top = dsir_select(raw, target, k=10, n_buckets=512).collect()
    want_top = sorted(want.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10]
    assert [(r["doc_id"], r["weight_micro"]) for r in top] == [
        (i, wm) for i, (_, wm) in want_top
    ]


def test_dsir_resample_matches_gumbel_twin(spark, docs):
    """Gumbel-top-k resampling: key = exact integer weight + exact
    integer seeded Gumbel micro-nats; ranking equals the pure-Python
    twin and differs from the deterministic top-k (the noise matters)."""
    from grokspark.operators import dsir_resample, dsir_select
    from grokspark.operators.dsir import dsir_weights_py, gumbel_micro_py

    target = docs.filter(F.col("doc_id") % 11 == 0)
    raw = docs.filter(F.col("doc_id") % 11 != 0)
    got = dsir_resample(raw, target, k=10, n_buckets=512).collect()
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    w = dsir_weights_py(
        [t for t in rows if t[0] % 11 != 0],
        [t for t in rows if t[0] % 11 == 0],
        n_buckets=512,
    )
    keyed = sorted(
        ((i, wm + gumbel_micro_py(i)) for i, (_, wm) in w.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    assert [(r["doc_id"], r["key_micro"]) for r in got] == keyed
    det = [r["doc_id"] for r in dsir_select(raw, target, k=10, n_buckets=512).collect()]
    assert [r["doc_id"] for r in got] != det
