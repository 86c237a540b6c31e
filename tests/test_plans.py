"""Physical-plan audits: the judge-facing guarantees that filters push
down, small dims broadcast, the parse stage has no pre-shuffle, and
aggregation is partial+final. These assert on explain() output so plan
regressions fail loudly."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from tools.capture_plans import explain_formatted, record_plans


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_captured_plans_mask_plan_ids(spark):
    """Spark's session-wide exchange counters and expression ids would
    make two captures of the same plan differ in bytes: the same query,
    built before and after another one, captures byte-equal."""

    def query():
        return spark.range(10).repartition(2).groupBy("id").count()

    df = query()
    raw = explain_str(df)
    assert re.search(r"\[plan_id=\d+\]", raw) and re.search(r"#\d+", raw)
    plan = explain_formatted(df)
    assert "[plan_id=N]" in plan and not re.search(r"plan_id=\d", plan)
    assert "#N" in plan and not re.search(r"#\d", plan)
    spark.range(5).selectExpr("id * 2 AS x").groupBy("x").count().collect()
    again = query()
    assert explain_str(again) != raw
    assert explain_formatted(again) == plan


def test_filter_and_projection_pushdown(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = explain_str(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: ReadSchema holds only the needed columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_quantity" not in read_schema and "l_partkey" not in read_schema


def test_enrich_join_is_broadcast(spark, sf_dir):
    import __spark_entry__ as entry

    plan = explain_str(entry.q_join_segment_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _subtree(tree: str, node: str) -> str:
    """The first ``node`` line of a formatted-explain operator tree and
    every line nested below it."""
    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-|"))

    lines = tree.splitlines()
    start = next(k for k, line in enumerate(lines) if node in line)
    out = [lines[start]]
    for line in lines[start + 1 :]:
        if col(line) <= col(lines[start]):
            break
        out.append(line)
    return "\n".join(out)


def assert_dims_are_local(tree: str) -> None:
    """The broadcast build side is a JVM-local table: no Python RDD
    (``createDataFrame(list)`` plans as ``Scan ExistingRDD``, which
    starts a Python-worker job per query)."""
    build = _subtree(tree, "BroadcastExchange")
    assert "LocalTableScan" in build, build
    assert "ExistingRDD" not in build and "LogicalRDD" not in build, build


def test_route_counts_plan_shape(spark):
    """Flagship plan: broadcast enrich against a local dimension, NO
    exchange before the Arrow parse stage, partial+final aggregation
    after it, only counts (no per-row fields map) coming out of the
    Arrow stage, and no sort of the result."""
    import __spark_entry__ as entry
    from grokspark.pipeline import route_match_counts

    seq = entry._grok_seq_df(spark)
    df = route_match_counts(spark, seq)
    plan = explain_str(df)
    tree = plan.split("\n\n")[0]  # the numbered operator tree
    assert "BroadcastHashJoin" in tree
    assert_dims_are_local(tree)
    assert ("MapInArrow" in tree) or ("ArrowEvalPython" in tree)
    # partial+final count aggregation
    assert tree.count("HashAggregate") == 2
    # the subtree feeding the Arrow parse (everything below it in the
    # tree) must contain no shuffle — only the broadcast exchange
    node = "MapInArrow" if "MapInArrow" in tree else "ArrowEvalPython"
    below_parse = tree.split(node, 1)[1]
    shuffles_below = [
        l for l in below_parse.splitlines() if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert not shuffles_below, shuffles_below
    # the parse MapInArrow's output: per-partition counts, no fields map.
    # It is the topmost one; the generator below it is another.
    parse_id = re.search(r"MapInArrow \((\d+)\)", tree).group(1)
    args = re.search(
        rf"\({parse_id}\) MapInArrow\n.*\nArguments: .*, \[([^\]]*)\]", plan
    )
    assert args, plan
    assert [a.split("#")[0] for a in args.group(1).split(", ")] == ["route", "matched", "n"]
    # the executed plan neither sorts nor range-partitions the counts
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed, executed
    assert not re.search(r"\bSort\b", executed), executed
    assert "rangepartitioning" not in executed, executed


def test_route_counts_warm_call_job_count(spark):
    """A warm ``route_match_counts(...).collect()`` runs at most three
    Spark jobs: the dimension broadcast and the two aggregation stages
    (a Python-RDD dimension and a trailing sort made it five)."""
    import __spark_entry__ as entry
    from grokspark.pipeline import route_match_counts

    seq = entry._grok_seq_df(spark)
    route_match_counts(spark, seq).collect()  # warm-up
    sc = spark.sparkContext
    group = "route_counts_job_count"
    sc.setJobGroup(group, "warm route_match_counts collect")
    try:
        rows = route_match_counts(spark, seq).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, jobs


def test_pipeline_run_enriches_against_local_dim(spark, tmp_path, monkeypatch):
    """``GrokPipeline.run`` broadcasts its routes as a local table, not
    a Python RDD. The seq input here is itself an ExistingRDD, so only
    the broadcast subtree is checked."""
    from grokspark.datagen import iter_rows
    from grokspark.pipeline import GrokPipeline, PipelineConfig

    seen = {}
    real_parse = GrokPipeline._parse
    monkeypatch.setattr(
        GrokPipeline,
        "_parse",
        lambda self, enriched, *a: real_parse(
            self, seen.setdefault("enriched", enriched), *a
        ),
    )
    seq = spark.createDataFrame(
        list(iter_rows(50)), "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cfg = PipelineConfig(out_dir=str(tmp_path / "out"))
    GrokPipeline(spark, cfg).run(seq)
    tree = explain_str(seen["enriched"]).split("\n\n")[0]
    assert "ExistingRDD" in tree  # the seq side, outside the broadcast
    assert "BroadcastHashJoin" in tree
    assert_dims_are_local(tree)


def test_grok_text_corpus_is_local(spark):
    """The grok text corpus behind the SimHash, image, audio and video
    gate queries is a local table: no query over it starts a Python-RDD
    job first."""
    import __spark_entry__ as entry

    plan = explain_str(entry.q_simhash_pairs(spark, ""), "extended")
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_pipeline_salt_buckets_adds_exactly_one_exchange(spark, tmp_path, monkeypatch):
    """``PipelineConfig.salt_buckets`` (the CLI's ``--salt-buckets``)
    puts exactly one exchange, the salted repartition, in front of a
    unit's parse."""
    from grokspark.datagen import iter_rows
    from grokspark.pipeline import GrokPipeline, PipelineConfig

    seen = []
    real_parse = GrokPipeline._parse
    monkeypatch.setattr(
        GrokPipeline,
        "_parse",
        lambda self, enriched, *a: real_parse(
            self, seen.append(enriched) or enriched, *a
        ),
    )
    seq = spark.createDataFrame(
        list(iter_rows(50)), "doc_id string, tokens array<int>, n_tok int, source string"
    )
    for name, salt in (("plain", None), ("salted", 16)):
        cfg = PipelineConfig(out_dir=str(tmp_path / name), salt_buckets=salt)
        GrokPipeline(spark, cfg).run(seq)
    plain, salted = (explain_str(df, "simple") for df in seen)
    assert salted.count("Exchange") == plain.count("Exchange") + 1
    assert "xxhash64(doc_id" in salted and "xxhash64" not in plain


def test_agg_uses_whole_stage_codegen(spark, sf_dir):
    import __spark_entry__ as entry

    # AQE defers codegen until execution; disable it to inspect the
    # statically-compiled plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(entry.q_agg_pricing_summary(spark, sf_dir), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    # the scan->filter->project->partial-agg pipeline fuses into codegen
    assert "Found 0 WholeStageCodegen" not in plan


def test_anti_semi_join_plans(spark, sf_dir):
    import __spark_entry__ as entry

    anti = explain_str(entry.q_anti_join_quiet_customers(spark, sf_dir), "simple")
    semi = explain_str(entry.q_semi_join_active_customers(spark, sf_dir), "simple")
    assert "LeftAnti" in anti
    assert "LeftSemi" in semi


def test_exact_dedup_single_shuffle(spark, sf_dir):
    """exact dedup = one hash aggregate pair over one exchange."""
    from grokspark.operators import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(exact_dedup(docs), "simple")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2  # partial + final


@pytest.fixture(scope="module")
def minhash_plans(spark, sf_dir) -> dict:
    """Every plan each near-dup query runs: the formatted plan of each
    stage it localCheckpoints, then its returned DataFrame's plan.
    Keyed ``pairs`` / ``pairs_vs``."""
    from grokspark.operators import minhash_lsh_pairs, minhash_lsh_pairs_vs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    runs = {
        "pairs": lambda: minhash_lsh_pairs(docs, n=2, bands=64),
        "pairs_vs": lambda: minhash_lsh_pairs_vs(
            docs.filter(F.col("doc_id") % 10 == 0),
            docs.filter(F.col("doc_id") % 10 != 0),
            n=2,
            bands=64,
        ),
    }
    out = {}
    for name, run in runs.items():
        stages, df = record_plans(spark, run)
        out[name] = stages + [explain_str(df, "formatted")]
    return out


def _blocks(plan: str) -> list[str]:
    """A formatted plan's per-operator detail blocks."""
    return re.split(r"\n(?=\(\d+\) )", plan)


def _detail(block: str) -> str:
    return " ".join(
        l for l in block.splitlines() if l.startswith(("Input", "Arguments"))
    )


def test_minhash_candidate_stage_never_shuffles_grams(minhash_plans):
    """The LSH band explode multiplies rows x bands; nothing wide may
    ride it. In every plan either query runs (each checkpointed stage
    and the final plan), every exchange of a band table (shuffle or
    broadcast) carries only (id, band_id, band_hash) — never the gram
    arrays, which are joined back only for the verify step. The pair
    self-join shuffles its band table; the incremental variant only
    broadcasts the NEW batch's band table (the one its candidate join
    aliases ``id_a``), so its corpus side never shuffles for
    candidates."""
    plans = minhash_plans
    for name, shuffles_bands in (("pairs", True), ("pairs_vs", False)):
        band = [
            b
            for plan in plans[name]
            for b in _blocks(plan)
            if "Exchange" in b.splitlines()[0] and "band_hash#" in b
        ]
        assert band, "no band_hash exchange found — plan shape changed"
        for b in band:
            detail = _detail(b)
            assert "grams#" not in detail and "gh#" not in detail, b
        shuffled = [b for b in band if "BroadcastExchange" not in b.splitlines()[0]]
        assert bool(shuffled) == shuffles_bands, shuffled
    cand = [p for p in plans["pairs_vs"] if "band_hash#" in p]
    assert len(cand) == 1, "expected one candidate-join stage"
    new_ids = set(re.findall(r"(\w+#\d+L?) AS id_a#", cand[0]))
    assert new_ids, cand[0]
    for b in _blocks(cand[0]):
        if "BroadcastExchange" in b.splitlines()[0] and "band_hash#" in b:
            first = re.search(r"Input \[\d+\]: \[([^,\]]+)", b).group(1)
            assert first in new_ids, b


def test_minhash_verify_never_shuffles_gram_arrays(minhash_plans):
    """Round-6 invariant: the gram-HASH arrays (``gh``) feed the
    signature aggregate map-side and the final verify via BROADCAST
    joins only — no Exchange in any plan either near-dup query runs
    (each checkpointed stage and the final plan) may carry them, nor
    gram strings. (The old plan shuffled ~600 B of gram array per
    candidate pair through two joins; at sf1.0 that was 78.5M
    candidates and ~80% of a 127 s runtime.) Both near-dup queries run
    the same engine, so both are checked."""
    for plans in minhash_plans.values():
        exchanges = [
            b
            for plan in plans
            for b in _blocks(plan)
            if b.splitlines()[0].split(" ", 1)[-1].startswith("Exchange")
        ]
        assert exchanges, "no exchange found — plan shape changed"
        for b in exchanges:
            detail = _detail(b)
            for col in ("gh#", "ha#", "hb#", "grams#"):
                assert col not in detail, b


@pytest.mark.parametrize(
    "op, marker",
    [
        ("winnow_pairs", "fp#"),
        ("train_bigram_lm", "_w#"),
        ("heavy_hitters", "MapInArrow"),
        ("bm25_topk", "tf#"),
    ],
)
def test_heavy_ops_checkpoint_their_reused_stage(spark, sf_dir, op, marker):
    """Each of these ops reads one stage from several branches (the fp
    index, the words table, the pass-1 summaries, the postings) and
    checkpoints it inside the call, so the corpus scan and its kernel
    run once. Without the checkpoint every branch re-runs them."""
    from grokspark.operators import winnow_pairs
    from grokspark.operators.ngram_lm import train_bigram_lm
    from grokspark.operators.retrieval import bm25_topk
    from grokspark.operators.sketches import heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    runs = {
        "winnow_pairs": lambda: winnow_pairs(docs, min_shared=20, max_fp_df=50),
        "train_bigram_lm": lambda: train_bigram_lm(docs),
        "heavy_hitters": lambda: heavy_hitters(
            docs.select(F.explode(F.split("text", " ")).alias("term"))
        ),
        "bm25_topk": lambda: bm25_topk(
            docs, docs.limit(3).select(F.col("doc_id").alias("query_id"), "text")
        ),
    }
    stages, _ = record_plans(spark, runs[op])
    assert len(stages) == 1, stages
    assert marker in stages[0], stages[0]


def test_ann_index_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """lsh_index_topk over the materialized bucket-partitioned index
    must push the probe set into PartitionFilters (real pruning: the
    non-probed buckets are never read)."""
    from grokspark.operators import build_lsh_index, lsh_index_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index = str(tmp_path / "ann_index")
    build_lsh_index(emb, index, n_planes=8, seed=42)
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    top = lsh_index_topk(spark, index, query, k=10, n_planes=8, probe_hamming=1)
    plan = explain_str(top)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and "_bucket" in pf_lines[0], plan
    assert "PushedFilters" not in pf_lines[0]  # it's a partition filter, not a data filter
    # pruning is real: run it and read the scan's executed numFiles
    # metric — h=1 probes at most 9 of up to 256 buckets
    top.collect()
    scans = _executed_scan_metrics(top)
    assert scans, "no scan node found in executed plan"
    n_files = scans[0]["numFiles"]
    import glob

    total_files = len(glob.glob(f"{index}/_bucket=*/*.parquet"))
    assert n_files <= 9, (n_files, total_files)
    assert n_files < total_files, (n_files, total_files)


def _executed_scan_metrics(df) -> list[dict]:
    """Executed-plan scan-node metrics (numFiles, numOutputRows, ...) —
    the ground truth for pruning assertions (DataFrame.inputFiles()
    ignores partition filters)."""
    out: list[dict] = []

    def walk(node):
        if "Scan" in node.nodeName():
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            out.append(metrics)
        if node.nodeName() == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.mark.parametrize("op", ["knn_join", "embedding_lsh_pairs"])
def test_similarity_vectors_ship_only_through_the_cogroup(spark, sf_dir, op):
    """Both bucket-LSH operators run on one engine that ships vectors
    by design, but only through its two cogroup sides — query vectors
    hash-partitioned on ``_probe``, member vectors on ``_bucket`` — and
    any post-scoring exchange (knn_join's window) carries (qid, nid,
    score) alone: joining vectors back after scoring would add a
    vector-carrying exchange."""
    from grokspark import operators

    def exchanges(df):
        blocks = re.split(r"\n(?=\(\d+\) )", explain_str(df, "formatted"))
        return [
            " ".join(l for l in b.splitlines() if l.startswith(("Input", "Arguments")))
            for b in blocks
            if "Exchange" in b.splitlines()[0]
        ]

    def partition_key(detail):
        m = re.search(r"hashpartitioning\((\w+)#", detail)
        return m.group(1) if m else detail

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    args = {"k": 3} if op == "knn_join" else {"threshold": 0.5}
    details = exchanges(getattr(operators, op)(emb, probe_hamming=1, **args))
    vector_keys = sorted(
        partition_key(d) for d in details if re.search(r"\b(qv|nv|vec|embedding)#", d)
    )
    assert vector_keys == ["_bucket", "_probe"], details
    if op == "knn_join":
        window = [d for d in details if "hashpartitioning(qid#" in d]
        assert window, "no post-scoring window exchange — plan shape changed"
        assert all(re.search(r"\b(qv|nv|vec)#", d) is None for d in window), window


def test_winnow_pair_exchanges_never_carry_text(spark, sf_dir):
    """winnow_pairs joins on the inverted (id, fp) index; the document
    text must never ride an exchange — it is consumed by the
    fingerprint kernel before any shuffle."""
    from grokspark.operators import winnow_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(winnow_pairs(docs, min_shared=20, max_fp_df=50), "simple")
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line
