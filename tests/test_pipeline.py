"""End-to-end pipeline tests: per-sink counts vs the pure-Python
reference semantics, routed-row token-array equality, resume, lineage."""

from __future__ import annotations

import collections
import os

import pytest
from pyspark.sql import functions as F

from grokspark import GrokRegistry
from grokspark.datagen import SOURCES, iter_rows, line_for, routes_rows
from grokspark.pipeline import GrokPipeline, PipelineConfig, route_match_counts

N_ROWS = 600


@pytest.fixture(scope="module")
def corpus():
    return list(iter_rows(N_ROWS))


@pytest.fixture(scope="module")
def seq_df(spark, corpus):
    return spark.createDataFrame(
        corpus, schema="doc_id string, tokens array<int>, n_tok int, source string"
    ).cache()


@pytest.fixture(scope="module")
def oracle(corpus):
    """Pure-Python single-process reference run over the same rows —
    the stand-in for the Rust reference's semantics (FIXTURES.md §5)."""
    registry = GrokRegistry.with_default_patterns()
    compiled = {
        s: registry.compile(e, with_alias_only=True)
        for s, (_w, r, e) in SOURCES.items()
        if r
    }
    route_of = {s: r for s, (_w, r, _e) in SOURCES.items() if r}
    sink_counts: dict[str, dict[str, int]] = collections.defaultdict(
        lambda: {"matched": 0, "unmatched": 0}
    )
    unroutable = 0
    for row in corpus:
        src = row["source"]
        if src not in route_of:
            unroutable += 1
            continue
        line = bytes(row["tokens"]).decode("utf-8")
        m = compiled[src].match_against(line)
        sink_counts[route_of[src]]["matched" if m is not None else "unmatched"] += 1
    return {"sink_counts": dict(sink_counts), "unroutable": unroutable}


def test_route_match_counts_vs_oracle(spark, seq_df, oracle):
    got = {
        (r["route"], r["matched"]): r["n"]
        for r in route_match_counts(spark, seq_df).collect()
    }
    for route, counts in oracle["sink_counts"].items():
        assert got.get((route, True), 0) == counts["matched"], route
        assert got.get((route, False), 0) == counts["unmatched"], route


def test_route_match_counts_across_batches_and_partitions(spark, corpus, oracle):
    """The kernel counts per partition across many small Arrow batches;
    the summed counts must equal the oracle's, with one partition
    empty. An empty input gives an empty result."""
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    sc = spark.sparkContext
    rdd = (
        sc.parallelize(corpus[:250], 2)
        .union(sc.parallelize([], 1))
        .union(sc.parallelize(corpus[250:], 3))
    )
    df = spark.createDataFrame(rdd, schema)
    assert df.rdd.glom().map(len).collect()[2] == 0
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = {
            (r["route"], r["matched"]): r["n"]
            for r in route_match_counts(spark, df).collect()
        }
        empty = route_match_counts(spark, spark.createDataFrame([], schema)).collect()
    finally:
        spark.conf.set(key, old)
    want = {
        (route, matched): n
        for route, counts in oracle["sink_counts"].items()
        for matched, n in ((True, counts["matched"]), (False, counts["unmatched"]))
        if n
    }
    assert got == want
    assert empty == []


def test_full_pipeline_counts_and_invariants(spark, seq_df, corpus, oracle, tmp_path):
    out_dir = str(tmp_path / "out")
    pipe = GrokPipeline(spark, PipelineConfig(out_dir=out_dir, parse_partitions=8))
    result = pipe.run(seq_df)

    # per-sink aggregate counts == pure-Python reference
    assert result.sink_counts == oracle["sink_counts"]
    assert result.unroutable_count == oracle["unroutable"]
    assert result.rows_in == N_ROWS

    # routed-row token-array equality: every sink row's tokens must be
    # byte-identical to the input row with the same doc_id
    input_tokens = {row["doc_id"]: row["tokens"] for row in corpus}
    for route in result.sink_counts:
        sink = spark.read.parquet(f"{out_dir}/sinks/{route}/*/input")
        rows = sink.select("doc_id", "tokens", "n_tok", "matched").collect()
        assert len(rows) == sum(result.sink_counts[route].values())
        for r in rows:
            assert r["tokens"] == input_tokens[r["doc_id"]], r["doc_id"]
            assert r["n_tok"] == len(r["tokens"])

    # lineage covers every routed row exactly once, one row per
    # (pattern, unit) of the single whole-input unit
    assert sum(li["rows_in"] for li in result.lineage) == N_ROWS - oracle["unroutable"]
    assert sum(li["rows_matched"] for li in result.lineage) == sum(
        c["matched"] for c in result.sink_counts.values()
    )
    assert sorted(li["pattern_name"] for li in result.lineage) == sorted(
        p for _r, p in result.unit_counts
    )
    assert {li["part_id"] for li in result.lineage} == {0}

    # parsed fields present for matched rows on at least one sink
    web = spark.read.parquet(f"{out_dir}/sinks/web/*/*")
    sample = web.filter(F.col("matched")).select("fields").limit(5).collect()
    assert sample and all(r["fields"] for r in sample)


def test_sink_fields_match_pure_python(spark, seq_df, tmp_path):
    """Every sink row's fields map equals the single-row reference
    surface on its line, key order included: ``match_against`` with the
    row's pattern, NULL exactly when the row is unmatched, and no row
    timed out."""
    out_dir = str(tmp_path / "out")
    pipe = GrokPipeline(spark, PipelineConfig(out_dir=out_dir, parse_partitions=8))
    result = pipe.run(seq_df)
    rows = []
    for route in sorted(os.listdir(f"{out_dir}/sinks")):
        for pattern in sorted(os.listdir(f"{out_dir}/sinks/{route}")):
            sink = spark.read.parquet(f"{out_dir}/sinks/{route}/{pattern}/input")
            # collect() turns a map into a dict through an unordered
            # JVM map, so the key order is read from map_keys
            keys = F.map_keys("fields").alias("keys")
            rows += sink.select(
                "pattern_name", "tokens", "fields", keys, "matched", "timed_out"
            ).collect()
    assert len(rows) == sum(sum(c.values()) for c in result.sink_counts.values())
    assert 0 < sum(r["matched"] for r in rows) < len(rows)
    for r in rows:
        line = bytes(r["tokens"]).decode("utf-8")
        want = pipe.compiled(r["pattern_name"]).match_against(line)
        assert r["fields"] == want, line
        assert r["keys"] == (None if want is None else list(want)), line
        assert r["matched"] == (r["fields"] is not None)
        assert r["timed_out"] is False


def test_resume_skips_completed_units(spark, seq_df, oracle, tmp_path):
    out_dir = str(tmp_path / "out")
    cfg = PipelineConfig(out_dir=out_dir, parse_partitions=4)
    first = GrokPipeline(spark, cfg).run(seq_df)
    assert not first.skipped_units

    second = GrokPipeline(spark, cfg).run(seq_df)
    # the whole-input unit is skipped, with identical counts and lineage
    assert second.skipped_units == ["input"]
    assert second.sink_counts == first.sink_counts == oracle["sink_counts"]
    assert second.unroutable_count == first.unroutable_count
    assert second.lineage == first.lineage


def test_unroutable_dead_letter(spark, seq_df, oracle, tmp_path):
    out_dir = str(tmp_path / "out")
    GrokPipeline(spark, PipelineConfig(out_dir=out_dir, parse_partitions=4)).run(seq_df)
    dead = spark.read.parquet(f"{out_dir}/unroutable/input")
    assert dead.count() == oracle["unroutable"]
    assert set(
        r["source"] for r in dead.select("source").distinct().collect()
    ) == {"debug_feed"}
    assert dead.filter(F.col("route").isNotNull() | F.col("matched")).count() == 0


def test_typed_extract_columns_in_elb_sink(spark, seq_df, tmp_path):
    """Sinks keep the raw fields map; the pattern's typed extract casts
    apply on read."""
    from grokspark.udfs import apply_extracts

    out_dir = str(tmp_path / "out")
    GrokPipeline(spark, PipelineConfig(out_dir=out_dir, parse_partitions=4)).run(seq_df)
    compiled = GrokRegistry.with_default_patterns().compile(
        SOURCES["elb"][2], with_alias_only=True
    )
    elb = apply_extracts(
        spark.read.parquet(f"{out_dir}/sinks/web/pat_elb/*"), compiled, "fields"
    )
    schema = {f.name: f.dataType.simpleString() for f in elb.schema.fields}
    assert schema["clientport"] == "bigint"
    assert schema["request_processing_time"] == "double"
    ok = elb.filter(F.col("matched"))
    assert ok.count() > 0
    assert ok.filter(F.col("clientport").isNull()).count() == 0


def test_single_pass_mode_counts_match(spark, seq_df, corpus, oracle, tmp_path):
    """single_pass=True (the only mode; False named the removed
    per-pattern mode and is refused): one scan + one partitioned write
    gives the reference's per-sink counts, token equality, per-route
    sink dirs and resume."""
    with pytest.raises(ValueError, match="per-pattern"):
        PipelineConfig(out_dir=str(tmp_path / "pp"), single_pass=False)

    out_dir = str(tmp_path / "sp")
    cfg = PipelineConfig(out_dir=out_dir, parse_partitions=8, single_pass=True)
    result = GrokPipeline(spark, cfg).run(seq_df)
    assert result.sink_counts == oracle["sink_counts"]
    assert result.unroutable_count == oracle["unroutable"]

    input_tokens = {row["doc_id"]: row["tokens"] for row in corpus}
    sinks = spark.read.parquet(f"{out_dir}/sinks/*/*/*")
    rows = sinks.select("doc_id", "tokens").collect()
    assert len(rows) == N_ROWS - oracle["unroutable"]
    for r in rows:
        assert r["tokens"] == input_tokens[r["doc_id"]]

    # reading one route dir only touches that route
    web = spark.read.parquet(f"{out_dir}/sinks/web/*/*")
    assert web.count() == sum(oracle["sink_counts"]["web"].values())

    second = GrokPipeline(spark, cfg).run(seq_df)
    assert second.skipped_units == ["input"]
    assert second.sink_counts == result.sink_counts


def test_whole_input_unit_republishes_after_mark_crash(
    spark, seq_df, corpus, oracle, tmp_path, monkeypatch
):
    """A crash after the whole-input unit published but before its
    manifest mark: the resumed run republishes over the same unit dirs,
    so the committed sinks hold every routed row exactly once, and a
    third run skips the unit."""
    import os

    from grokspark import pipeline

    out_dir = str(tmp_path / "out")
    cfg = PipelineConfig(out_dir=out_dir, parse_partitions=4)
    real_mark = pipeline._Manifest.mark
    crashed: list[str] = []

    def crash_once(self, unit, **record):
        if not crashed:
            crashed.append(unit)
            assert os.listdir(os.path.join(out_dir, "sinks"))  # published
            raise RuntimeError("injected crash after publish")
        real_mark(self, unit, **record)

    monkeypatch.setattr(pipeline._Manifest, "mark", crash_once)
    with pytest.raises(RuntimeError, match="injected"):
        GrokPipeline(spark, cfg).run(seq_df)
    assert crashed == ["input"]
    assert not os.path.exists(os.path.join(out_dir, "manifest.json"))

    resumed = GrokPipeline(spark, cfg).run(seq_df)
    assert resumed.skipped_units == []
    assert resumed.sink_counts == oracle["sink_counts"]
    assert resumed.unroutable_count == oracle["unroutable"]
    routed = sorted(
        r["doc_id"] for r in corpus if r["source"] != "debug_feed"
    )
    ids = [r["doc_id"] for r in spark.read.parquet(f"{out_dir}/sinks/*/*/*").collect()]
    assert sorted(ids) == routed
    dead = spark.read.parquet(f"{out_dir}/unroutable/*")
    assert dead.count() == oracle["unroutable"]

    third = GrokPipeline(spark, cfg).run(seq_df)
    assert third.skipped_units == ["input"]
    assert third.sink_counts == oracle["sink_counts"]


@pytest.mark.parametrize("unit", ["singlepass", "unroutable", "web/pat_elb"])
def test_resume_refuses_manifest_of_removed_mode(spark, seq_df, tmp_path, unit):
    """An out_dir whose manifest holds a unit of a removed mode has
    sinks in another layout: resuming over it is refused before any
    write, like a changed input file set."""
    import json

    out_dir = tmp_path / "old"
    out_dir.mkdir()
    (out_dir / "manifest.json").write_text(
        json.dumps({unit: {"status": "done", "rows": 6}}), encoding="utf-8"
    )
    with pytest.raises(ValueError, match="does not make"):
        GrokPipeline(spark, PipelineConfig(out_dir=str(out_dir))).run(seq_df)
    assert sorted(p.name for p in out_dir.iterdir()) == ["manifest.json"]


@pytest.fixture(scope="module")
def seq_parquet(spark, seq_df, tmp_path_factory):
    """File-backed input for ranged mode (6 parquet files)."""
    path = str(tmp_path_factory.mktemp("seq") / "sequences")
    seq_df.repartition(6).write.mode("overwrite").parquet(path)
    return path


def test_ranged_mode_counts_and_single_scan(spark, seq_parquet, corpus, oracle, tmp_path):
    """range_units=K: per-sink counts match the reference, every input
    file is scanned by exactly one range (disjoint cover — the
    scans-input-once evidence), counts come from write-side observe
    metrics, and the token invariant holds in the committed sinks."""
    out_dir = str(tmp_path / "ranged")
    src = spark.read.parquet(seq_parquet)
    cfg = PipelineConfig(out_dir=out_dir, range_units=3)
    result = GrokPipeline(spark, cfg).run(src)

    assert result.sink_counts == oracle["sink_counts"]
    assert result.unroutable_count == oracle["unroutable"]
    assert result.rows_in == N_ROWS

    # disjoint cover of the input files
    all_files = set(src.inputFiles())
    seen: set[str] = set()
    for unit, files in result.unit_files.items():
        fs = set(files)
        assert not (fs & seen), f"{unit} rescans files"
        seen |= fs
    assert seen == all_files
    assert len(result.unit_files) == 3

    # committed sinks: token pass-through invariant
    input_tokens = {row["doc_id"]: row["tokens"] for row in corpus}
    web = spark.read.option("mergeSchema", "true").parquet(f"{out_dir}/sinks/web/*/*")
    rows = web.select("doc_id", "tokens", "matched").collect()
    assert len(rows) == sum(oracle["sink_counts"]["web"].values())
    for r in rows:
        assert r["tokens"] == input_tokens[r["doc_id"]]

    # lineage covers every routed row exactly once, keyed by range
    assert sum(li["rows_in"] for li in result.lineage) == N_ROWS - oracle["unroutable"]
    assert {li["part_id"] for li in result.lineage} <= {0, 1, 2}
    assert all(li["rows_timeout"] == 0 for li in result.lineage)

    # dead-letter rows live under unroutable/<range_unit>
    dead = spark.read.parquet(f"{out_dir}/unroutable/*")
    assert dead.count() == oracle["unroutable"]


def test_ranged_mode_resume_per_range(spark, seq_parquet, oracle, tmp_path):
    import json
    import os

    out_dir = str(tmp_path / "ranged")
    src = spark.read.parquet(seq_parquet)
    cfg = PipelineConfig(out_dir=out_dir, range_units=3)
    first = GrokPipeline(spark, cfg).run(src)
    assert not first.skipped_units

    second = GrokPipeline(spark, cfg).run(src)
    assert sorted(second.skipped_units) == ["range_0000", "range_0001", "range_0002"]
    assert second.sink_counts == first.sink_counts == oracle["sink_counts"]
    assert second.unroutable_count == first.unroutable_count
    assert second.lineage == first.lineage

    # invalidate ONE range -> only that range recomputes
    manifest_path = os.path.join(out_dir, "manifest.json")
    with open(manifest_path) as f:
        state = json.load(f)
    del state["range_0001"]
    with open(manifest_path, "w") as f:
        json.dump(state, f)
    third = GrokPipeline(spark, cfg).run(src)
    assert sorted(third.skipped_units) == ["range_0000", "range_0002"]
    assert third.sink_counts == first.sink_counts


def test_ranged_mode_marks_published_range_when_another_fails(
    spark, seq_parquet, oracle, tmp_path, monkeypatch
):
    """A range that published is marked done even when an earlier
    range's job then fails: the resumed run skips it and re-runs only
    the failed range."""
    import threading

    out_dir = str(tmp_path / "ranged")
    src = spark.read.parquet(seq_parquet)
    cfg = PipelineConfig(out_dir=out_dir, range_units=2)
    real_publish = GrokPipeline._publish_range
    published: list[str] = []
    range1_published = threading.Event()

    def failing_publish(self, unit):
        if unit == "range_0000":
            assert range1_published.wait(120)
            raise RuntimeError("injected range_0000 failure")
        real_publish(self, unit)
        published.append(unit)
        range1_published.set()

    monkeypatch.setattr(GrokPipeline, "_publish_range", failing_publish)
    with pytest.raises(RuntimeError, match="injected"):
        GrokPipeline(spark, cfg).run(src)
    assert published == ["range_0001"]

    def recording_publish(self, unit):
        real_publish(self, unit)
        published.append(unit)

    monkeypatch.setattr(GrokPipeline, "_publish_range", recording_publish)
    resumed = GrokPipeline(spark, cfg).run(src)
    assert resumed.skipped_units == ["range_0001"]
    assert published == ["range_0001", "range_0000"]
    assert resumed.sink_counts == oracle["sink_counts"]
    assert resumed.unroutable_count == oracle["unroutable"]


def test_routes_dim_schema_matches_inferred(spark, seq_df, tmp_path, monkeypatch):
    """The local routes dimension has exactly the columns (names, order,
    types) and rows that ``spark.createDataFrame(rows)`` gives, for the
    default routes and for a caller's list whose second row alone has
    extra keys (one not a string) — so join outputs, sink files and
    ``unroutable/`` keep their layout."""
    from grokspark.datagen import routes_df, routes_dim

    assert routes_df(spark).schema == spark.createDataFrame(routes_rows()).schema

    custom = [
        {"source": "elb", "route": "lb", "pattern_name": "pat_elb",
         "sink_path": "sinks/lb"},
        {"source": "syslog", "route": "infra", "pattern_name": "pat_syslog",
         "sink_path": "sinks/infra", "priority": 2, "owner": "team-b"},
    ]
    inferred_dim = spark.createDataFrame(custom)
    assert inferred_dim.columns[-2:] == ["owner", "priority"]
    dim = routes_dim(spark, custom)
    assert dim.schema == inferred_dim.schema
    assert dim.collect() == inferred_dim.collect()
    seen = {}
    real_parse = GrokPipeline._parse
    monkeypatch.setattr(
        GrokPipeline,
        "_parse",
        lambda self, enriched, *a: real_parse(
            self, seen.setdefault("enriched", enriched), *a
        ),
    )
    cfg = PipelineConfig(out_dir=str(tmp_path / "out"))
    exprs = {"pat_elb": SOURCES["elb"][2], "pat_syslog": SOURCES["syslog"][2]}
    GrokPipeline(spark, cfg, routes=custom, pattern_exprs=exprs).run(seq_df)
    inferred = seq_df.join(inferred_dim, "source", "left")
    assert seen["enriched"].schema == inferred.schema
    dead = spark.read.parquet(str(tmp_path / "out" / "unroutable" / "input"))
    assert dead.columns == [
        "source", "doc_id", "tokens", "n_tok", "pattern_name", "route",
        "sink_path", "owner", "priority", "fields", "timed_out", "matched",
        "_range_id",
    ]


def test_ranged_mode_timeout_lineage(spark, tmp_path):
    """A hostile line under a per-row timeout is reported as
    rows_timeout in lineage — distinct from genuine no-matches — and
    never fails the task."""
    hostile_expr = (
        "%{GREEDYDATA:a} %{GREEDYDATA:b} %{GREEDYDATA:c} "
        "%{GREEDYDATA:d} %{GREEDYDATA:e}=%{GREEDYDATA:f}"
    )
    rows = []
    for i in range(20):
        line = "k v x y w=ok" if i % 2 else "nomatch line without equals"
        rows.append((f"d{i:03d}", list(line.encode()), len(line), "evil"))
    hostile_line = "a " * 10000
    rows.append(("dhostile", list(hostile_line.encode()), len(hostile_line), "evil"))
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).repartition(2).write.parquet(src_path)

    routes = [
        {"source": "evil", "route": "r1", "pattern_name": "pat_evil", "sink_path": "sinks/r1"}
    ]
    cfg = PipelineConfig(out_dir=str(tmp_path / "out"), range_units=2, timeout=0.05)
    pipe = GrokPipeline(
        spark, cfg, routes=routes, pattern_exprs={"pat_evil": hostile_expr}
    )
    result = pipe.run(spark.read.parquet(src_path))
    counts = result.unit_counts[("r1", "pat_evil")]
    assert counts["matched"] == 10
    assert counts["unmatched"] == 11  # 10 no-match + 1 timeout
    assert sum(li["rows_timeout"] for li in result.lineage) == 1
    assert sum(li["rows_in"] for li in result.lineage) == 21


def test_ranged_mode_rejects_transformed_or_nonparquet_input(spark, seq_parquet, tmp_path):
    """Ranged mode re-plans the scan per file-range, so it must REFUSE
    inputs whose plan it would silently alter: filtered scans (filter
    would be dropped) and non-parquet ingests (leaf re-read would
    fail or corrupt)."""
    cfg = PipelineConfig(out_dir=str(tmp_path / "o"), range_units=2)
    filtered = spark.read.parquet(seq_parquet).filter(F.col("source") == "elb")
    with pytest.raises(ValueError, match="untransformed parquet"):
        GrokPipeline(spark, cfg).run(filtered)

    from grokspark.sources import read_raw_lines

    (tmp_path / "x.log").write_text("a line\n", encoding="utf-8")
    raw = read_raw_lines(spark, str(tmp_path / "*.log"), source="apache_access")
    with pytest.raises(ValueError, match="untransformed parquet"):
        GrokPipeline(spark, cfg).run(raw)

    # a computed column would be silently dropped by the re-read
    computed = spark.read.parquet(seq_parquet).withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="computed"):
        GrokPipeline(spark, cfg).run(computed)

    # same-name same-type REPLACEMENT is the sneaky case: the schema
    # round-trip can't see it, the plan walk must (Alias in the Project)
    shadowed = spark.read.parquet(seq_parquet).withColumn("n_tok", F.lit(0))
    with pytest.raises(ValueError, match="computed"):
        GrokPipeline(spark, cfg).run(shadowed)


def test_ranged_mode_accepts_pruning_projection(spark, seq_parquet, oracle, tmp_path):
    """A column-pruning select over the bare scan is harmless for
    ranged mode (the re-read restores a superset) and must be allowed."""
    cfg = PipelineConfig(out_dir=str(tmp_path / "o"), range_units=2)
    pruned = spark.read.parquet(seq_parquet).select(
        "doc_id", "tokens", "n_tok", "source"
    )
    result = GrokPipeline(spark, cfg).run(pruned)
    assert result.sink_counts == oracle["sink_counts"]


def test_ranged_mode_refuses_resume_after_input_change(spark, seq_df, tmp_path):
    """A changed input file set invalidates committed range units —
    resuming must fail loudly, not silently skip/duplicate files."""
    src = str(tmp_path / "src")
    seq_df.limit(200).repartition(4).write.parquet(src)
    cfg = PipelineConfig(out_dir=str(tmp_path / "out"), range_units=2)
    GrokPipeline(spark, cfg).run(spark.read.parquet(src))

    # grow the input: append two more files
    seq_df.limit(300).repartition(2).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="file set changed"):
        GrokPipeline(spark, cfg).run(spark.read.parquet(src))


def test_cli_pipeline_subcommand(spark, seq_parquet, oracle, tmp_path, capsys):
    """``python -m grokspark pipeline`` in-process over a parquet input:
    its JSON counts equal the reference's; the removed ``--per-pattern``
    flag is a usage error."""
    import json

    from grokspark.__main__ import main

    rc = main(["pipeline", "--input", seq_parquet, "--out", str(tmp_path / "out")])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["sink_counts"] == oracle["sink_counts"]
    assert out["unroutable"] == oracle["unroutable"]
    assert out["rows_in"] == N_ROWS

    with pytest.raises(SystemExit) as exc:
        main(["pipeline", "--input", seq_parquet, "--out", str(tmp_path / "o2"),
              "--per-pattern"])
    assert exc.value.code == 2


def test_get_spark_returns_live_session_unchanged(spark):
    """``get_spark`` on a process with an active session hands it back
    as is: its SQL settings survive, whatever the call asks for."""
    from grokspark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        again = get_spark(cores=2, shuffle_partitions=3)
        assert again._jsparkSession.equals(spark._jsparkSession)
        assert spark.conf.get(key) == "7"
        get_spark()
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, old)
