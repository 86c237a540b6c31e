"""One workload in one fresh process: set up, warm up, time, check.

Run by ``run.py`` as ``python3 perfbench/worker.py <config.json>``; it
writes its measurements to ``config["result"]`` and prints nothing the
launcher reads. The loop is closed with one client: each public call
starts when the previous one (and its output check) has returned.

With ``trace`` on, the Spark event log is enabled, a span is recorded
around set-up and every public call, two ``GrokPipeline.run`` calls (a
cold one and a measured one) follow the timed calls so that the sink
path's layers are measured too, and after Spark has stopped the
in-process layer probes run on one core over a fixed sample of the
input rows.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time

import corpus
import layers


class Tracer:
    """In-memory spans (id, name, parent, run id, start, end), written
    out once at the end. Disabled, it keeps none."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self._open: list[int] = []  # ids of the spans enclosing the next one

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        if self.enabled:
            self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# ---------------------------------------------------------------------------
# public calls and their checks
# ---------------------------------------------------------------------------


def _counts_call(spark, df, registry, labels, cfg):
    from grokspark.pipeline import route_match_counts

    def call(_k):
        return route_match_counts(spark, df, registry=registry).collect()

    def check(rows) -> bool:
        got = {f"{r['route']}|{r['matched']}": r["n"] for r in rows}
        return got == labels["counts"]

    return call, check


def _sinks_call(spark, df, registry, labels, cfg):
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from grokspark.pipeline import GrokPipeline, PipelineConfig

    cores = cfg["cores"]
    sample = set(labels["sample_ids"])
    want_tokens = _tokens_of(ds.dataset(cfg["input"], format="parquet"), sample)
    want_sinks: dict = {}
    for key, n in labels["counts"].items():
        route, matched = key.split("|")
        sink = want_sinks.setdefault(route, {"matched": 0, "unmatched": 0})
        sink["matched" if matched == "True" else "unmatched"] += n

    def call(k):
        out_dir = os.path.join(cfg["work"], f"sink-{k}")
        config = PipelineConfig(out_dir=out_dir, resume=False, parse_partitions=cores)
        return out_dir, GrokPipeline(spark, config, registry=registry).run(df)

    def check(out) -> bool:
        out_dir, result = out
        try:
            sinks = os.path.join(out_dir, "sinks")
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(sinks)
                for f in fs
                if f.endswith(".parquet")
            ]
            committed = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            got_tokens = _tokens_of(ds.dataset(sinks, format="parquet", partitioning="hive"), sample)
            return (
                result.sink_counts == want_sinks
                and result.unroutable_count == labels["unroutable"]
                and committed == labels["routed"]
                and got_tokens == want_tokens
            )
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    return call, check


def _tokens_of(dataset, ids: set) -> dict:
    import pyarrow.compute as pc

    table = dataset.to_table(
        columns=["doc_id", "tokens"], filter=pc.field("doc_id").isin(sorted(ids))
    )
    return dict(zip(table.column("doc_id").to_pylist(), table.column("tokens").to_pylist()))


# ---------------------------------------------------------------------------
# in-process layer probes (traced run only, after Spark has stopped)
# ---------------------------------------------------------------------------


def _probe_batch(cfg):
    """The first ``probe_rows`` routed rows of the first input file, in
    the column layout ``route_match_counts`` hands its kernel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grokspark import datagen

    first = sorted(f for f in os.listdir(cfg["input"]) if f.endswith(".parquet"))[0]
    table = pq.read_table(os.path.join(cfg["input"], first), columns=["tokens", "source"])
    route_of = {r["source"]: r for r in datagen.routes_rows()}
    keep = [i for i, s in enumerate(table.column("source").to_pylist()) if s in route_of]
    table = table.take(keep[: cfg["probe_rows"]])
    sources = table.column("source").to_pylist()
    return pa.record_batch(
        [
            pa.array([route_of[s]["route"] for s in sources], pa.string()),
            pa.array([route_of[s]["pattern_name"] for s in sources], pa.string()),
            table.column("tokens").combine_chunks(),
        ],
        names=["route", "pattern_name", "tokens"],
    )


def _us_per_row(fn, rows: int, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / rows * 1e6


def layer_probes(cfg, compiled) -> dict:
    from grokspark.udfs import grok_parse_arrow_kernel, grok_parse_router_udf

    batch = _probe_batch(cfg)
    n = batch.num_rows
    names = batch.column(1).to_pylist()
    texts = [bytes(t).decode("utf-8") for t in batch.column(2).to_pylist()]
    patterns = [compiled[name] for name in names]

    def search():
        return sum(p.search(t) is not None for p, t in zip(patterns, texts))

    kernel, _ddl = grok_parse_arrow_kernel(compiled)
    router = grok_parse_router_udf(compiled, from_tokens=True).func
    frame = batch.to_pandas()  # tokens become numpy arrays, as Spark hands them
    return {
        "compiler.search_us_per_row": _us_per_row(search, n),
        "compiler.match_ratio": search() / n,
        "udfs.arrow_kernel_us_per_row": _us_per_row(lambda: list(kernel(iter([batch]))), n),
        "udfs.router_us_per_row": _us_per_row(
            lambda: router(frame["pattern_name"], frame["tokens"]), n
        ),
    }


# ---------------------------------------------------------------------------


def _spark_conf(cfg) -> dict:
    # a heap of fixed size (-Xms as large as the -Xmx the session sets):
    # the JVM's resident memory then does not depend on when the
    # collector grows the heap
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.local.dir": cfg["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(cfg["work"], "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={cfg['tmp_dir']} -XX:-UsePerfData -Xms{heap}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if cfg["trace"]:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + cfg["event_dir"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Calls:
    """Runs public calls one at a time and keeps a record of each: its
    phase, wall window, process-tree CPU and whether its output checked."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.records: list[dict] = []
        self.me = os.getpid()

    def run(self, phase: str, call, check, span_name="pipeline.call") -> dict:
        cpu0 = layers.tree_cpu_s(self.me)
        rec = {"phase": phase, "error": None}
        try:
            with self.tracer.span(span_name) as span:
                out = call(len(self.records))
            rec.update(t0=span["start"], t1=span["end"])
        except Exception as exc:  # a failed call is a failed op
            rec["error"] = repr(exc)
        rec["cpu_s"] = layers.tree_cpu_s(self.me) - cpu0
        try:
            rec["ok"] = rec["error"] is None and bool(check(out))
        except Exception as exc:  # an output the check cannot read
            rec["ok"], rec["error"] = False, repr(exc)
        self.records.append(rec)
        return rec

    def phase(self, name: str) -> list[dict]:
        return [r for r in self.records if r["phase"] == name]


def main(cfg_path: str) -> None:
    with open(cfg_path, encoding="utf-8") as fh:
        cfg = json.load(fh)
    tracer = Tracer(cfg["run_id"], cfg["trace"])
    cores = cfg["cores"]

    with tracer.span("run"):
        from grokspark import datagen
        from grokspark.compiler import GrokRegistry
        from grokspark.session import get_spark

        with tracer.span("session.start"):
            spark = get_spark(
                app_name="perfbench",
                cores=cores,
                shuffle_partitions=cores,
                extra_conf=_spark_conf(cfg),
            )
        with tracer.span("compiler.compile"):
            registry = GrokRegistry.with_default_patterns()
            compiled = {
                name: registry.compile(expr, with_alias_only=True)
                for name, expr in datagen.pattern_exprs().items()
            }
        ready = time.time()

        labels = corpus.load_labels(cfg["input"])
        df = spark.read.parquet(cfg["input"])
        call, check = _counts_call(spark, df, registry, labels, cfg)
        calls = Calls(tracer)
        calls.run("first", call, check)
        for _ in range(cfg["warm_calls"]):
            calls.run("warm", call, check)
        t_timed = time.time()
        while (
            len(calls.phase("timed")) < cfg["min_calls"]
            or time.time() - t_timed < cfg["seconds"]
        ):
            calls.run("timed", call, check)
        if cfg["trace"]:
            # the sink path over the same rows: one cold call, one measured
            sink_call, sink_check = _sinks_call(spark, df, registry, labels, cfg)
            calls.run("sink_first", sink_call, sink_check, "pipeline.sink_call")
            calls.run("sink", sink_call, sink_check, "pipeline.sink_call")
        peak_rss = layers.tree_peak_rss_mb(calls.me)
        spark.stop()

    result = {
        "ready": ready,
        "calls": calls.records,
        "peak_rss_mb": sum(peak_rss.values()),
        "peak_rss_mb_by_process": peak_rss,
    }
    if cfg["trace"]:
        result["layers"] = _layers(cfg, tracer, calls, labels["rows"], compiled)
        _write(cfg["spans"], tracer.spans)
    _write(cfg["result"], result)


def _layers(cfg, tracer: Tracer, calls: Calls, rows: int, compiled) -> dict:
    done = lambda phase: [r for r in calls.phase(phase) if "t0" in r]  # noqa: E731
    timed, sink = done("timed"), done("sink")
    logs = os.listdir(cfg["event_dir"])
    log = layers.read_event_log(os.path.join(cfg["event_dir"], logs[0]))
    out = layers.run_layers(log, timed, rows, cfg["cores"])
    sink_layers = layers.run_layers(log, sink, rows, cfg["cores"])
    for name in layers.SINK_LAYERS:
        out[name] = sink_layers[name]
    out.update(layer_probes(cfg, compiled))
    first = calls.phase("first")[0]
    # warm calls reuse the Python workers, so they boot in the cold call
    boot = layers.call_layers(log, first, rows, cfg["cores"])["udfs.worker_boot_s"]
    out["udfs.worker_boot_s"] = boot
    out.update(
        {
            "session.start_s": tracer.seconds("session.start")[0],
            "compiler.compile_s": tracer.seconds("compiler.compile")[0],
            "pipeline.call_s": statistics.median(r["t1"] - r["t0"] for r in timed),
            "pipeline.first_call_s": first["t1"] - first["t0"],
            "pipeline.sink_call_s": statistics.median(r["t1"] - r["t0"] for r in sink),
        }
    )
    return out


def _write(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)


if __name__ == "__main__":
    main(sys.argv[1])
