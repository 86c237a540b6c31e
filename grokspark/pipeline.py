"""The north-rule job: scan → detokenize+parse → enrich → route →
fan-out sinks → per-sink aggregate counts, with lineage metrics and
checkpoint/resume.

Dataflow (all Catalyst-planned except the fused parse kernel):

1. **Scan** the tokenized-sequence table (parquet here; Iceberg on a
   real cluster — the reader only needs ``doc_id, tokens, n_tok,
   source``, and Catalyst prunes columns + pushes the source filter
   into the scan).
2. **Enrich**: broadcast hash-join against the small ``routes`` dim
   (source → route, pattern_name, sink_path), built as a JVM-local
   ``LocalRelation`` (``datagen.routes_dim``) so no Python job feeds
   the broadcast. Rows with no dim entry are unroutable and land in a
   dead-letter sink.
3. **Skew**: the corpus is deliberately skewed (one hot source ~70%).
   The *primary* skew control is the scan splitter: size-balanced input
   splits (spark.sql.files.maxPartitionBytes / Iceberg split planning)
   give every parse task the same byte volume regardless of how hot
   keys cluster in files. An explicit salted repartition
   (``repartition(N, source, pmod(xxhash64(doc_id), salt_buckets))``)
   is available via ``salt_buckets`` but OFF by default: a row shuffle
   immediately before an Arrow/Python stage forces row-by-row
   UnsafeRow->Arrow conversion instead of the columnar scan->Arrow fast
   path — measured 10-15x slower end-to-end on this corpus (4M rows,
   local[16]: 6.8s unshuffled vs 67-102s shuffled, tmpfs shuffle dirs,
   so not disk). Reach for salting only when per-row parse cost varies
   wildly by key AND keys are file-clustered; prefer re-splitting the
   input otherwise. AQE skew-join splitting stays on for the join side.
4. **Parse**: one multi-pattern router ``arrow_udf``
   (``grok_parse_router_udf``) — one JVM↔Python Arrow round trip per
   batch, the tokens decoded from one flat buffer, regex compiled once
   per worker, the pattern picked per row from the enriched
   ``pattern_name``, and the fields map built in bulk. ``matched =
   fields IS NOT NULL`` reproduces the reference's Option<Matches>
   exactly. The original ``tokens`` column passes through untouched
   (per-row token-array equality invariant — never re-encoded from
   text). Fields stay in the raw string map; consumers apply typed
   extract casts (``udfs.apply_extracts``) on read. The counts-only
   query (``route_match_counts``) instead runs the mapInArrow counting
   kernel: it returns per-partition ``(route, matched, n)`` counts, so
   no per-row output crosses Python → JVM.
5. **Fan-out sinks**: each unit writes once — one
   ``partitionBy(_route_dir, _pattern_dir)`` write into a staging
   directory — and then publishes by rename into
   ``sinks/<route>/<pattern>/<unit>/`` and ``unroutable/<unit>/`` (the
   dead-letter rows keep the enriched schema with a NULL route). A
   crashed unit never leaves half-committed rows (the
   Iceberg-snapshot-commit analogue; with an Iceberg catalog configured
   the same unit maps to one append commit).
6. **Counts & lineage** come from ``DataFrame.observe`` metrics
   collected by the unit's write action itself, so no second pass
   reads the data. They are recorded in the manifest only after the
   unit's publish succeeds, so a crashed or retried unit never
   double-counts. Lineage is one row per (pattern, unit); a per-row
   regex ``timeout`` surfaces as ``rows_timeout``, distinct from
   no-matches.
7. **Resume**: a JSON manifest under the output dir records completed
   units; a rerun skips them (idempotent), and a published-but-unmarked
   unit simply republishes.

One unit model (``PipelineConfig.range_units``):

- unset (default): one unit, ``input``, over the caller's DataFrame as
  given — any plan works (``read_raw_lines``, cached or filtered
  inputs).
- ``range_units=K``: **unit = input file-range** — the 10^12-scale
  design. The parquet input's file set is split into K size-balanced
  contiguous ranges, each scanned once and committed independently;
  total input IO is one scan regardless of pattern count, resume
  granularity is K. Units overlap in a small driver thread pool. On a
  real cluster each unit maps to one Iceberg append commit and counts
  come from the snapshot summary — same keying, same discipline.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grokspark import datagen
from grokspark.compiler import CompiledPattern, GrokRegistry
from grokspark.udfs import grok_parse_router_udf

__all__ = ["PipelineConfig", "PipelineResult", "GrokPipeline", "route_match_counts"]


@dataclass
class PipelineConfig:
    out_dir: str
    # None (default) = no pre-parse shuffle; see module docstring
    salt_buckets: Optional[int] = None
    # partitions of the salted repartition inside each unit; default =
    # one task wave (parse is a Python-UDF stage: partitions beyond the
    # worker pool cause worker churn — measured 3.4x slower at 2x cores)
    parse_partitions: Optional[int] = None
    # per-row regex timeout in seconds (None = reference-parity: unbounded)
    timeout: Optional[float] = None
    resume: bool = True
    # True is the only mode; False selected the removed per-pattern mode
    single_pass: bool = True
    # range_units=K: unit = input file-range (K size-balanced contiguous
    # ranges, each scanned once and committed independently). Requires a
    # bare parquet input. None = one unit over the input as given.
    range_units: Optional[int] = None

    def __post_init__(self) -> None:
        if not self.single_pass:
            raise ValueError(
                "single_pass=False selected the per-pattern mode, which was "
                "removed: every run scans each unit once and writes every "
                "pattern's sink from that scan"
            )


@dataclass
class PipelineResult:
    # route -> {"matched": n, "unmatched": n}
    sink_counts: dict[str, dict[str, int]] = field(default_factory=dict)
    # (route, pattern_name) -> {"matched": n, "unmatched": n}
    unit_counts: dict[tuple[str, str], dict[str, int]] = field(default_factory=dict)
    unroutable_count: int = 0
    rows_in: int = 0
    # one {pattern_name, part_id, rows_in, rows_matched, rows_timeout}
    # per (pattern, unit); part_id is the unit's index
    lineage: list[dict] = field(default_factory=list)
    skipped_units: list[str] = field(default_factory=list)
    # range_units: unit -> input files it scanned (disjoint; union = all
    # input files — the scans-input-once evidence, asserted in tests)
    unit_files: dict[str, list[str]] = field(default_factory=dict)
    elapsed_sec: float = 0.0


def _split_files_by_size(files: list[str], k: int) -> list[list[str]]:
    """Split a sorted file list into <=k contiguous, size-balanced
    ranges (the local analogue of Iceberg's split planning over data
    files). Files whose size can't be stat'd count as 1 byte."""
    from urllib.parse import urlparse

    k = max(1, min(k, len(files)))
    sized = []
    for f in files:
        path = urlparse(f).path or f
        try:
            size = max(1, os.path.getsize(path))
        except OSError:
            size = 1
        sized.append((f, size))
    total = sum(s for _, s in sized)
    units: list[list[str]] = [[]]
    acc = 0
    for f, size in sized:
        if units[-1] and len(units) < k and acc >= total * len(units) / k:
            units.append([])
        units[-1].append(f)
        acc += size
    return units


class _Manifest:
    """Tiny JSON checkpoint: unit -> completion record. Atomic writes."""

    def __init__(self, path: str) -> None:
        import threading

        self.path = path
        self.state: dict[str, dict] = {}
        # concurrent units mark from driver threads; serialize the
        # read-modify-dump
        self._lock = threading.Lock()
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                self.state = json.load(f)

    def done(self, unit: str) -> Optional[dict]:
        rec = self.state.get(unit)
        return rec if rec and rec.get("status") == "done" else None

    def mark(self, unit: str, **record) -> None:
        with self._lock:
            self.state[unit] = {"status": "done", **record}
            tmp = self.path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(self.state, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)


def route_match_counts(
    spark: SparkSession,
    seq_df: DataFrame,
    registry: Optional[GrokRegistry] = None,
) -> DataFrame:
    """Transform-only composition of the pipeline: enrich + parse all
    routed sources and return per-(route, matched) counts, in no
    particular order (callers fold the rows into a dict or sort them
    themselves). No sinks, no actions — callers trigger execution. This
    is the flagship query.

    Single-pass plan: one scan, one broadcast join, one multi-pattern
    counting kernel, one partial+final sum aggregation. The routes
    dimension is a ``LocalRelation`` (``datagen.local_dim``), so its
    broadcast starts no Python job and the only Python work is the
    parse kernel; with no sort, a warm ``collect()`` runs three Spark
    jobs: the JVM-only broadcast build, the scan→parse→partial-sum
    stage and the final sum. Per-pattern
    dispatch happens inside the kernel (dict lookup) instead of as N
    filtered plan branches (N scans). The kernel runs via mapInArrow:
    the token lists cross the JVM->Python boundary as one flat Arrow
    buffer + offsets, decoded with a single slice per row (the pandas
    bridge would materialize a numpy array per row, which costs more
    than the regex match itself — measured +20% end-to-end). Only
    per-partition ``(route, matched, n)`` counts come back; no per-row
    output crosses Python->JVM. No pre-parse shuffle — the scan
    splitter balances bytes per task (``PipelineConfig.salt_buckets``
    is the salted repartition for file-clustered skew, see module
    docstring)."""
    from grokspark.udfs import grok_parse_arrow_kernel

    registry = registry or GrokRegistry.with_default_patterns()
    routes = datagen.routes_df(spark)
    enriched = seq_df.join(routes, "source", "left").filter(
        F.col("route").isNotNull()
    )

    compiled_by_name = {
        name: registry.compile(expr, with_alias_only=True)
        for name, expr in datagen.pattern_exprs().items()
    }
    kernel, ddl = grok_parse_arrow_kernel(compiled_by_name)
    return (
        enriched.select("route", "pattern_name", "tokens")
        .mapInArrow(kernel, ddl)
        .groupBy("route", "matched")
        .agg(F.sum("n").alias("n"))
    )


class GrokPipeline:
    """Executable parse→enrich→route→aggregate job with sinks+resume."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        registry: Optional[GrokRegistry] = None,
        routes: Optional[list[dict]] = None,
        pattern_exprs: Optional[dict[str, str]] = None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.registry = registry or GrokRegistry.with_default_patterns()
        self.routes = routes if routes is not None else datagen.routes_rows()
        self.pattern_exprs = (
            pattern_exprs if pattern_exprs is not None else datagen.pattern_exprs()
        )
        self._compiled: dict[str, CompiledPattern] = {}

    def compiled(self, pattern_name: str) -> CompiledPattern:
        if pattern_name not in self._compiled:
            self._compiled[pattern_name] = self.registry.compile(
                self.pattern_exprs[pattern_name], with_alias_only=True
            )
        return self._compiled[pattern_name]

    def _staging_dir(self, unit: str) -> str:
        return os.path.join(self.config.out_dir, "_staging", unit)

    # -- run --------------------------------------------------------------

    def run(self, seq_df: DataFrame) -> PipelineResult:
        """Run every unit not yet in the manifest: each scans its input
        once, parses every pattern, writes once, publishes, and is
        marked with the observe metrics of that write."""
        from pyspark.sql import Observation

        cfg = self.config
        t0 = time.monotonic()
        os.makedirs(cfg.out_dir, exist_ok=True)
        manifest = _Manifest(os.path.join(cfg.out_dir, "manifest.json"))
        result = PipelineResult()

        # unit -> its input files (None: the caller's DataFrame as given)
        units: dict[str, Optional[list[str]]] = {"input": None}
        if cfg.range_units:
            ranges = _split_files_by_size(
                self._validate_ranged_input(seq_df), cfg.range_units
            )
            units = {f"range_{i:04d}": files for i, files in enumerate(ranges)}
            result.unit_files = dict(units)
        stale = sorted(set(manifest.state) - set(units)) if cfg.resume else []
        if stale:
            # e.g. a removed mode's `singlepass`, `unroutable` or
            # `<route>/<pattern>` units, or another range split: their
            # sinks use another layout or file assignment, and resuming
            # would publish this run's units next to them
            raise ValueError(
                f"manifest records units this run does not make {stale[:4]} "
                f"(written by another pipeline mode or range split) — rerun "
                f"with a fresh out_dir or resume=False"
            )

        patterns = sorted(self.pattern_exprs)
        route_of = {r["pattern_name"]: r["route"] for r in self.routes}
        routes_df = datagen.routes_dim(self.spark, self.routes)
        parse = grok_parse_router_udf(
            {p: self.compiled(p) for p in patterns}, from_tokens=True,
            timeout=cfg.timeout,
        )
        nparts = cfg.parse_partitions or self.spark.sparkContext.defaultParallelism

        def accumulate(metrics: dict, lineage: list[dict]) -> None:
            result.unroutable_count += metrics.get("unroutable", 0)
            # .get defaults: a resumed manifest may predate a pattern
            # added since (its rows weren't parsed with it either)
            for p in patterns:
                m = metrics.get(f"m__{p}", 0)
                u = metrics.get(f"u__{p}", 0)
                if m or u:
                    counts = result.unit_counts.setdefault(
                        (route_of[p], p), {"matched": 0, "unmatched": 0}
                    )
                    counts["matched"] += m
                    counts["unmatched"] += u
            result.lineage.extend(lineage)

        pending: list[tuple[int, str, Optional[list[str]], Optional[str]]] = []
        for i, (unit, unit_files) in enumerate(units.items()):
            files_sig = None if unit_files is None else hashlib.sha1(
                "\n".join(unit_files).encode("utf-8")
            ).hexdigest()
            rec = manifest.done(unit) if cfg.resume else None
            if rec and rec.get("files_sig") != files_sig:
                # the input file set (or its range assignment) changed:
                # committed range dirs no longer correspond to the new
                # assignment — resuming would silently skip/duplicate
                # files. Refuse; the caller picks a fresh out_dir or
                # resume=False.
                raise ValueError(
                    f"input file set changed since {unit!r} was committed "
                    f"(manifest signature mismatch) — rerun with a fresh "
                    f"out_dir or resume=False"
                )
            if rec:
                accumulate(rec["metrics"], rec.get("lineage", []))
                result.skipped_units.append(unit)
                continue
            pending.append((i, unit, unit_files, files_sig))

        def run_unit(
            i: int, unit: str, unit_files: Optional[list[str]],
            files_sig: Optional[str],
        ) -> tuple[dict, list]:
            """Scan, parse, stage-write, PUBLISH and mark one unit;
            returns its observe metrics and lineage. Touches only
            unit-local paths, so units can run concurrently (staging
            dirs and publish destinations are keyed by unit; parent
            makedirs are exist_ok; marking is lock-serialized)."""
            df = seq_df if unit_files is None else self.spark.read.parquet(*unit_files)
            enriched = df.join(routes_df, "source", "left")
            if cfg.salt_buckets:
                enriched = enriched.repartition(
                    nparts,
                    F.col("source"),
                    F.pmod(F.xxhash64("doc_id"), F.lit(cfg.salt_buckets)),
                )
            obs = Observation(f"grokspark_{unit}")
            exprs = [
                F.sum(F.when(F.col("route").isNull(), 1).otherwise(0)).alias(
                    "unroutable"
                )
            ]
            for p in patterns:
                is_p = F.col("pattern_name") == p
                exprs += [
                    F.sum(F.when(is_p & F.col("matched"), 1).otherwise(0)).alias(
                        f"m__{p}"
                    ),
                    F.sum(F.when(is_p & ~F.col("matched"), 1).otherwise(0)).alias(
                        f"u__{p}"
                    ),
                    F.sum(F.when(is_p & F.col("timed_out"), 1).otherwise(0)).alias(
                        f"t__{p}"
                    ),
                ]
            observed = self._parse(enriched, parse, i).observe(obs, *exprs)

            staging = self._staging_dir(unit)
            if os.path.exists(staging):
                shutil.rmtree(staging)
            (
                observed.write.mode("overwrite")
                .partitionBy("_route_dir", "_pattern_dir")
                .parquet(staging)
            )
            metrics = {k: int(v or 0) for k, v in obs.get.items()}

            self._publish_range(unit)
            lineage = []
            for p in patterns:
                rows_in = metrics[f"m__{p}"] + metrics[f"u__{p}"]
                if rows_in:
                    lineage.append(
                        {
                            "pattern_name": p,
                            "part_id": i,
                            "rows_in": rows_in,
                            "rows_matched": metrics[f"m__{p}"],
                            "rows_timeout": metrics[f"t__{p}"],
                        }
                    )
            manifest.mark(
                unit, metrics=metrics, lineage=lineage, files_sig=files_sig
            )
            return metrics, lineage

        # Overlap the independent unit jobs from a small driver thread
        # pool (each range's scan covers only its file slice, so a
        # single range cannot fill the executor pool; sequential units
        # left most cores idle — measured 5.7 s -> ~2.5 s for 4 ranges
        # of a 100k-row input at local[32]). Spark's scheduler runs
        # concurrent jobs FIFO, which is exactly the tail back-fill
        # behavior wanted here. Each unit is marked done from its
        # worker right after its publish succeeds, so a failure in one
        # unit never costs the others their manifest record (a
        # published-but-unmarked unit just republishes on resume,
        # which _publish_range makes idempotent). Result accumulation
        # happens AFTER the pool, in unit order, so lineage output
        # order stays deterministic.
        if pending:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(4, len(pending))) as pool:
                futs = [pool.submit(run_unit, *args) for args in pending]
            for fut in futs:
                accumulate(*fut.result())

        for (route, _pat), counts in result.unit_counts.items():
            sink = result.sink_counts.setdefault(route, {"matched": 0, "unmatched": 0})
            sink["matched"] += counts["matched"]
            sink["unmatched"] += counts["unmatched"]
        result.rows_in = result.unroutable_count + sum(
            c["matched"] + c["unmatched"] for c in result.unit_counts.values()
        )
        result.elapsed_sec = time.monotonic() - t0
        return result

    def _parse(self, enriched: DataFrame, parse, unit_index: int) -> DataFrame:
        """The parse step of a unit: router-parse every row of the
        enriched input (unroutable rows get NULL fields) and add the
        publish keys ``_route_dir``/``_pattern_dir``."""
        return (
            enriched.withColumn("st", parse(F.col("pattern_name"), F.col("tokens")))
            .withColumn("fields", F.col("st.fields"))
            .withColumn("timed_out", F.col("st.timed_out"))
            .drop("st")
            .withColumn("matched", F.col("fields").isNotNull())
            .withColumn("_range_id", F.lit(unit_index))
            .withColumn("_route_dir", F.coalesce(F.col("route"), F.lit("_unroutable")))
            .withColumn(
                "_pattern_dir", F.coalesce(F.col("pattern_name"), F.lit("_none"))
            )
        )

    def _validate_ranged_input(self, seq_df: DataFrame) -> list[str]:
        """Ranged mode re-plans the scan per file-range, so the input
        must be (at most a column-pruning projection over) a bare
        parquet relation — a filter, computed column, mapInArrow
        ingest (read_raw_lines), or other format would be silently
        dropped by the per-range re-read. Fail loudly instead:
        materialize such inputs to parquet first, or leave range_units
        unset, which runs one unit over the caller's plan.

        Detection walks the analyzed plan (pruning-only Project nodes
        are fine: the re-read restores a column superset; a Project
        ADDING columns is caught by the schema-subset check below).
        The plan walk uses JVM internals, so if a Spark upgrade breaks
        it we fall back to the schema check alone and WARN that
        dropped-filter detection is off rather than bricking the mode."""
        import warnings

        node_ok: Optional[bool]
        try:
            node = seq_df._jdf.queryExecution().analyzed()
            node_name = node.nodeName()
            while node.nodeName() == "Project":
                # only PRUNING projections may pass: a Project whose
                # list contains anything but bare attribute references
                # (an Alias = computed/renamed column, possibly
                # shadowing an existing name+type) would be silently
                # dropped by the per-range re-read
                plist = node.projectList()
                for i in range(plist.size()):
                    cls = plist.apply(i).getClass().getSimpleName()
                    if cls != "AttributeReference":
                        raise ValueError(
                            "range_units input has a computed/renamed "
                            f"column (plan expression {cls}); the "
                            "per-range re-read would silently drop it — "
                            "materialize the transformed input to "
                            "parquet first"
                        )
                node = node.children().apply(0)
            node_ok = (
                node.nodeName() == "LogicalRelation"
                and "parquet" in node.toString().splitlines()[0].lower()
            )
            node_name = node.nodeName()
        except ValueError:
            raise
        except Exception:  # pragma: no cover - Spark-version drift
            node_ok, node_name = None, "<plan introspection unavailable>"
            warnings.warn(
                "range_units could not inspect the logical plan on this "
                "Spark version; a filtered input would NOT be detected "
                "(its filter would be dropped by the per-range re-read). "
                "Only schema validation is in effect.",
                stacklevel=2,
            )
        if node_ok is False:
            raise ValueError(
                "range_units requires the input to be an untransformed "
                f"parquet scan (got plan node {node_name!r}); "
                "write transformed/ingested inputs to parquet first, or "
                "leave range_units unset, which keeps the caller's plan"
            )
        files = sorted(seq_df.inputFiles())
        if not files:
            raise ValueError(
                "range_units requires a file-backed input "
                "(DataFrame.inputFiles() is empty for this plan)"
            )
        # schema round-trip: every input column must exist with the same
        # type in the files themselves, else the re-read would drop or
        # retype it (catches computed/renamed columns; a same-name
        # same-type replacement is inherently undetectable here)
        file_fields = {
            (f.name, f.dataType.simpleString())
            for f in self.spark.read.parquet(*files).schema.fields
        }
        missing = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in seq_df.schema.fields
            if (f.name, f.dataType.simpleString()) not in file_fields
        ]
        if missing:
            raise ValueError(
                f"range_units input has columns not present in its "
                f"parquet files (computed or retyped: {missing}); the "
                f"per-range re-read would drop them — materialize the "
                f"transformed input to parquet first"
            )
        return files

    def _publish_range(self, unit: str) -> None:
        """Move each (route, pattern) subtree of the unit's staging dir
        into sinks/<route>/<pattern>/<unit> (and _unroutable/_none into
        unroutable/<unit>). Renames are idempotent per unit: a rerun
        clears its own target dirs first, so a crash mid-publish just
        re-runs the unit."""
        cfg = self.config
        staging = self._staging_dir(unit)
        for route_ent in sorted(os.listdir(staging)):
            if not route_ent.startswith("_route_dir="):
                continue  # _SUCCESS etc.
            route = route_ent.split("=", 1)[1]
            route_dir = os.path.join(staging, route_ent)
            for pat_ent in sorted(os.listdir(route_dir)):
                if not pat_ent.startswith("_pattern_dir="):
                    continue
                pattern = pat_ent.split("=", 1)[1]
                if route == "_unroutable":
                    dest = os.path.join(cfg.out_dir, "unroutable", unit)
                else:
                    dest = os.path.join(cfg.out_dir, "sinks", route, pattern, unit)
                if os.path.exists(dest):
                    shutil.rmtree(dest)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.replace(os.path.join(route_dir, pat_ent), dest)
        shutil.rmtree(staging)
