"""The north-rule job: scan → detokenize+parse → enrich → route →
fan-out sinks → per-sink aggregate counts, with skew salting, lineage
metrics, and checkpoint/resume.

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
4. **Parse**: per route-pattern, the fused tokens→map pandas UDF
   (grokspark.udfs) — one JVM↔Python Arrow round trip per batch,
   regex compiled once per worker. ``matched = fields IS NOT NULL``
   reproduces the reference's Option<Matches> exactly. The original
   ``tokens`` column passes through untouched (per-row token-array
   equality invariant — never re-encoded from text). The counts-only
   query (``route_match_counts``) instead runs the mapInArrow counting
   kernel: it returns per-partition ``(route, matched, n)`` counts, so
   no per-row output crosses Python → JVM.
5. **Fan-out sinks**: per (route, pattern) parquet sink, written via a
   staging directory + atomic rename so a crashed unit never leaves
   half-committed rows (the Iceberg-snapshot-commit analogue; with an
   Iceberg catalog configured the same unit maps to one append commit).
6. **Counts & lineage**: per-sink (matched/unmatched) counts are
   computed from the *committed* sink files — not the in-flight
   DataFrame — so retries can't double-count; a ``_part_id`` column
   stamped at parse time gives per-partition lineage (rows in/matched
   per parse partition) without recomputing the parse.
7. **Resume**: a JSON manifest under the output dir records completed
   units; a rerun skips them (idempotent).

Three execution modes (PipelineConfig):

- ``single_pass`` (DEFAULT): one scan, one multi-pattern router parse,
  one dynamic-partition write. Fastest, one commit, coarse resume —
  the scale-safe default for multi-pattern runs.
- ``per_pattern=True`` (opt-in): one unit per (route, pattern) with
  independent staged commits. Finest-grained resume, but each unit
  filters the root scan — N patterns = N input scans. Keep for small
  pattern sets / selective re-runs.
- ``range_units=K``: **unit = input partition-range** — the 10^12-scale
  design. The input file set is split into K size-balanced contiguous
  ranges; each range is scanned ONCE, router-parsed for all patterns,
  and committed independently (staging + rename per range). Total input
  IO = one scan regardless of pattern count, resume granularity = K.
  Counts and lineage come from ``DataFrame.observe`` metrics collected
  by the write action itself (no committed re-read, no second pass);
  they are recorded in the manifest only after the range's rename
  commit succeeds, so a crashed/retried range never double-counts. A
  per-row regex ``timeout`` surfaces as ``rows_timeout`` in lineage,
  distinct from no-matches. On a real cluster the same unit maps to one
  Iceberg append commit per range and counts come from the snapshot
  summary — same keying, same discipline.
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
from grokspark.udfs import (
    apply_extracts,
    grok_parse_map_udf,
    grok_parse_router_status_udf,
    grok_parse_router_udf,
)

__all__ = ["PipelineConfig", "PipelineResult", "GrokPipeline", "route_match_counts"]

SALT_BUCKETS = 64


@dataclass
class PipelineConfig:
    out_dir: str
    alias_only: bool = True
    # None (default) = no pre-parse shuffle; see module docstring
    salt_buckets: Optional[int] = None
    # partitions for the parse stage; default = one task wave
    # (parse is a Python-UDF stage: partitions beyond the worker pool
    # cause worker churn — measured 3.4x slower at 2x cores locally)
    parse_partitions: Optional[int] = None
    # per-row regex timeout in seconds (None = reference-parity: unbounded)
    timeout: Optional[float] = None
    resume: bool = True
    # write sinks at all (False = counts-only dry run for benches)
    write_sinks: bool = True
    # Mode selection, most specific wins: range_units > per_pattern >
    # single_pass. The DEFAULT is single-pass (one scan, one
    # multi-pattern router parse, one dynamic-partition write) — the
    # scale-safe choice for multi-pattern runs, since the per-pattern
    # mode re-scans the input once PER pattern. For 10^12-row inputs
    # prefer range_units, which adds per-range resume and observe-based
    # counts on top of the one total scan.
    single_pass: bool = True
    # per_pattern=True: one unit per (route, pattern) with independent
    # staging commits and per-unit resume (finest-grained durability /
    # selective re-runs; costs one input scan per pattern — opt-in).
    per_pattern: bool = False
    # range_units=K: unit = input file-range (K size-balanced contiguous
    # ranges, each scanned once and committed independently) — one total
    # input scan AND per-unit resume. Requires a file-backed input.
    range_units: Optional[int] = None


@dataclass
class PipelineResult:
    # route -> {"matched": n, "unmatched": n}
    sink_counts: dict[str, dict[str, int]] = field(default_factory=dict)
    # (route, pattern_name) -> {"matched": n, "unmatched": n}
    unit_counts: dict[tuple[str, str], dict[str, int]] = field(default_factory=dict)
    unroutable_count: int = 0
    rows_in: int = 0
    # list of {pattern_name, part_id, rows_in, rows_matched}
    # (+ rows_timeout in ranged mode when a timeout is configured)
    lineage: list[dict] = field(default_factory=list)
    skipped_units: list[str] = field(default_factory=list)
    # ranged mode: unit -> input files it scanned (disjoint; union = all
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
        # concurrent units (ranged overlap, dead-letter back-fill) may
        # mark from driver threads; serialize the read-modify-dump
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
    alias_only: bool = True,
    salt_buckets: Optional[int] = None,
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
    output crosses Python->JVM. No pre-parse shuffle by default — the
    scan splitter balances bytes per task; pass ``salt_buckets`` to
    force a salted repartition (into ``defaultParallelism`` partitions)
    for file-clustered pathological skew (costs a row->Arrow
    conversion, see module docstring)."""
    from grokspark.udfs import grok_parse_arrow_kernel

    registry = registry or GrokRegistry.with_default_patterns()
    routes = F.broadcast(datagen.routes_df(spark))
    enriched = seq_df.join(routes, "source", "left").filter(
        F.col("route").isNotNull()
    )

    compiled_by_name = {
        name: registry.compile(expr, with_alias_only=alias_only)
        for name, expr in datagen.pattern_exprs().items()
    }
    if salt_buckets:
        enriched = enriched.repartition(
            spark.sparkContext.defaultParallelism,
            F.col("source"),
            F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)),
        )
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
            expr = self.pattern_exprs[pattern_name]
            self._compiled[pattern_name] = self.registry.compile(
                expr, with_alias_only=self.config.alias_only
            )
        return self._compiled[pattern_name]

    # -- paths ----------------------------------------------------------

    def _sink_dir(self, route: str, pattern_name: str) -> str:
        return os.path.join(self.config.out_dir, "sinks", route, pattern_name)

    def _staging_dir(self, unit: str) -> str:
        return os.path.join(self.config.out_dir, "_staging", unit)

    # -- run --------------------------------------------------------------

    def run(self, seq_df: DataFrame) -> PipelineResult:
        cfg = self.config
        t0 = time.monotonic()
        os.makedirs(cfg.out_dir, exist_ok=True)
        manifest = _Manifest(os.path.join(cfg.out_dir, "manifest.json"))
        result = PipelineResult()

        routes_df = F.broadcast(datagen.routes_dim(self.spark, self.routes))
        enriched = seq_df.join(routes_df, "source", "left")

        if cfg.range_units:
            self._run_ranged(seq_df, routes_df, manifest, result)
            return self._finish(result, t0)

        # --- dead-letter: rows whose source has no route -----------------
        unit = "unroutable"
        rec = manifest.done(unit) if cfg.resume else None
        dead_letter_job = None
        if rec:
            result.unroutable_count = rec["rows"]
            result.skipped_units.append(unit)
        else:
            unroutable = enriched.filter(F.col("route").isNull()).select(
                "doc_id", "tokens", "n_tok", "source"
            )

            def dead_letter_job() -> int:
                if cfg.write_sinks:
                    n = self._commit(
                        unroutable, unit, os.path.join(cfg.out_dir, "unroutable")
                    )
                else:
                    n = unroutable.count()
                manifest.mark(unit, rows=n)
                return n

        # --- per-pattern parse + route + sink -----------------------------
        nparts = cfg.parse_partitions or self.spark.sparkContext.defaultParallelism
        route_of = {r["pattern_name"]: r["route"] for r in self.routes}

        if cfg.single_pass and not cfg.per_pattern:
            # the dead-letter unit is an independent scan+filter job —
            # overlap it with the main single-pass write from a driver
            # thread (guide-style back-fill; manifest marking is
            # lock-serialized). Its paths (unroutable/) and result
            # field are disjoint from the main unit's.
            if dead_letter_job is not None:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=1) as pool:
                    fut = pool.submit(dead_letter_job)
                    self._run_single_pass(
                        enriched, nparts, manifest, result, route_of
                    )
                result.unroutable_count = fut.result()
            else:
                self._run_single_pass(enriched, nparts, manifest, result, route_of)
            return self._finish(result, t0)

        if dead_letter_job is not None:
            result.unroutable_count = dead_letter_job()

        for pattern_name in sorted(self.pattern_exprs):
            route = route_of[pattern_name]
            unit = f"{route}/{pattern_name}"
            rec = manifest.done(unit) if cfg.resume else None
            if rec:
                result.unit_counts[(route, pattern_name)] = rec["counts"]
                result.lineage.extend(rec.get("lineage", []))
                result.skipped_units.append(unit)
                continue

            compiled = self.compiled(pattern_name)
            parse = grok_parse_map_udf(
                compiled, from_tokens=True, timeout=cfg.timeout
            )
            slice_df = enriched.filter(F.col("pattern_name") == pattern_name)
            if cfg.salt_buckets:
                slice_df = slice_df.repartition(
                    nparts,
                    F.col("source"),
                    F.pmod(F.xxhash64("doc_id"), F.lit(cfg.salt_buckets)),
                )
            slice_df = (
                slice_df.withColumn("fields", parse(F.col("tokens")))
                .withColumn("matched", F.col("fields").isNotNull())
                .withColumn("_part_id", F.spark_partition_id())
            )
            slice_df = apply_extracts(slice_df, compiled, "fields")

            sink_dir = self._sink_dir(route, pattern_name)
            if cfg.write_sinks:
                self._commit(slice_df, unit, sink_dir, count=False)
                committed = self.spark.read.parquet(sink_dir)
            else:
                committed = slice_df

            # counts + lineage from the committed data (retry-safe)
            agg = (
                committed.groupBy("matched", "_part_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            counts = {"matched": 0, "unmatched": 0}
            lineage_map: dict[int, dict] = {}
            for row in agg:
                counts["matched" if row["matched"] else "unmatched"] += row["n"]
                li = lineage_map.setdefault(
                    row["_part_id"],
                    {
                        "pattern_name": pattern_name,
                        "part_id": row["_part_id"],
                        "rows_in": 0,
                        "rows_matched": 0,
                    },
                )
                li["rows_in"] += row["n"]
                if row["matched"]:
                    li["rows_matched"] += row["n"]
            lineage = sorted(lineage_map.values(), key=lambda d: d["part_id"])
            result.unit_counts[(route, pattern_name)] = counts
            result.lineage.extend(lineage)
            manifest.mark(unit, counts=counts, lineage=lineage)

        return self._finish(result, t0)

    def _finish(self, result: PipelineResult, t0: float) -> PipelineResult:
        """Roll up per-sink counts from unit counts."""
        for (route, _pat), counts in result.unit_counts.items():
            sink = result.sink_counts.setdefault(route, {"matched": 0, "unmatched": 0})
            sink["matched"] += counts["matched"]
            sink["unmatched"] += counts["unmatched"]
        result.rows_in = result.unroutable_count + sum(
            c["matched"] + c["unmatched"] for c in result.unit_counts.values()
        )
        result.elapsed_sec = time.monotonic() - t0
        return result

    def _run_single_pass(
        self,
        enriched: DataFrame,
        nparts: int,
        manifest: "_Manifest",
        result: PipelineResult,
        route_of: dict[str, str],
    ) -> None:
        """One scan, one multi-pattern parse, one dynamic-partition
        write into sinks/route=<r>/pattern_name=<p>/. Fields stay in the
        raw string map (typed extract casts are per-pattern and belong
        to per-sink consumers in this mode)."""
        cfg = self.config
        unit = "singlepass"
        rec = manifest.done(unit) if cfg.resume else None
        if rec:
            for key, counts in rec["counts"].items():
                route, pattern_name = key.split("|", 1)
                result.unit_counts[(route, pattern_name)] = counts
            result.lineage.extend(rec.get("lineage", []))
            result.skipped_units.append(unit)
            return

        compiled = {
            name: self.compiled(name) for name in sorted(self.pattern_exprs)
        }
        parse = grok_parse_router_udf(compiled, from_tokens=True, timeout=cfg.timeout)
        parsed = enriched.filter(F.col("route").isNotNull())
        if cfg.salt_buckets:
            parsed = parsed.repartition(
                nparts,
                F.col("source"),
                F.pmod(F.xxhash64("doc_id"), F.lit(cfg.salt_buckets)),
            )
        parsed = (
            parsed.withColumn("fields", parse(F.col("pattern_name"), F.col("tokens")))
            .withColumn("matched", F.col("fields").isNotNull())
            .withColumn("_part_id", F.spark_partition_id())
        )

        # NOTE on the committed re-read below: it scans ONLY (route,
        # pattern_name, matched, _part_id) — parquet column pruning
        # skips the wide tokens/fields columns entirely, so the "second
        # pass" reads a few % of written bytes, and it buys exact
        # per-partition lineage. Ranged mode avoids even that via
        # write-action observe metrics (pattern-granularity lineage).
        sink_root = os.path.join(cfg.out_dir, "sinks")
        if cfg.write_sinks:
            staging = self._staging_dir(unit)
            if os.path.exists(staging):
                shutil.rmtree(staging)
            (
                parsed.write.mode("overwrite")
                .partitionBy("route", "pattern_name")
                .parquet(staging)
            )
            if os.path.exists(sink_root):
                shutil.rmtree(sink_root)
            os.makedirs(os.path.dirname(sink_root), exist_ok=True)
            os.replace(staging, sink_root)
            committed = self.spark.read.parquet(sink_root)
        else:
            committed = parsed

        agg = (
            committed.groupBy("route", "pattern_name", "matched", "_part_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        lineage_map: dict[tuple, dict] = {}
        for row in agg:
            key = (row["route"], row["pattern_name"])
            counts = result.unit_counts.setdefault(key, {"matched": 0, "unmatched": 0})
            counts["matched" if row["matched"] else "unmatched"] += row["n"]
            li = lineage_map.setdefault(
                (row["pattern_name"], row["_part_id"]),
                {
                    "pattern_name": row["pattern_name"],
                    "part_id": row["_part_id"],
                    "rows_in": 0,
                    "rows_matched": 0,
                },
            )
            li["rows_in"] += row["n"]
            if row["matched"]:
                li["rows_matched"] += row["n"]
        lineage = sorted(
            lineage_map.values(), key=lambda d: (d["pattern_name"], d["part_id"])
        )
        result.lineage.extend(lineage)
        manifest.mark(
            unit,
            counts={f"{r}|{p}": c for (r, p), c in result.unit_counts.items()},
            lineage=lineage,
        )

    # -- ranged mode ---------------------------------------------------------

    def _run_ranged(
        self,
        seq_df: DataFrame,
        routes_df: DataFrame,
        manifest: "_Manifest",
        result: PipelineResult,
    ) -> None:
        """Unit = input file-range: each range scanned once, router-
        parsed for every pattern, committed independently. Counts come
        from write-action observe metrics — never a committed re-read —
        and land in the manifest only after the rename commit, so a
        retried range cannot double-count."""
        from pyspark.sql import Observation

        cfg = self.config
        files = self._validate_ranged_input(seq_df)
        ranges = _split_files_by_size(files, cfg.range_units)
        patterns = sorted(self.pattern_exprs)
        route_of = {r["pattern_name"]: r["route"] for r in self.routes}
        compiled = {name: self.compiled(name) for name in patterns}
        parse = grok_parse_router_status_udf(
            compiled, from_tokens=True, timeout=cfg.timeout
        )

        def accumulate(unit: str, metrics: dict, lineage: list[dict]) -> None:
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

        pending: list[tuple[int, str, list, str]] = []
        for i, unit_files in enumerate(ranges):
            unit = f"range_{i:04d}"
            result.unit_files[unit] = unit_files
            files_sig = hashlib.sha1(
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
                accumulate(unit, rec["metrics"], rec.get("lineage", []))
                result.skipped_units.append(unit)
                continue
            pending.append((i, unit, unit_files, files_sig))

        def run_unit(
            i: int, unit: str, unit_files: list, files_sig: str
        ) -> tuple[dict, list]:
            """Scan, parse, stage-write, PUBLISH and mark one range;
            returns its observe metrics and lineage. Touches only
            unit-local paths, so units can run concurrently (staging
            dirs and publish destinations are keyed by unit; parent
            makedirs are exist_ok; marking is lock-serialized)."""
            df = self.spark.read.parquet(*unit_files)
            parsed = (
                df.join(routes_df, "source", "left")
                .withColumn("st", parse(F.col("pattern_name"), F.col("tokens")))
                .withColumn("fields", F.col("st.fields"))
                .withColumn("timed_out", F.col("st.timed_out"))
                .drop("st")
                .withColumn("matched", F.col("fields").isNotNull())
                .withColumn("_range_id", F.lit(i))
                .withColumn(
                    "_route_dir", F.coalesce(F.col("route"), F.lit("_unroutable"))
                )
                .withColumn(
                    "_pattern_dir",
                    F.coalesce(F.col("pattern_name"), F.lit("_none")),
                )
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
            observed = parsed.observe(obs, *exprs)

            if cfg.write_sinks:
                staging = self._staging_dir(unit)
                if os.path.exists(staging):
                    shutil.rmtree(staging)
                (
                    observed.write.mode("overwrite")
                    .partitionBy("_route_dir", "_pattern_dir")
                    .parquet(staging)
                )
            else:
                observed.count()  # counts-only dry run still one scan
            metrics = {k: int(v or 0) for k, v in obs.get.items()}

            if cfg.write_sinks:
                self._publish_range(unit, i)
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

        # Overlap the independent range jobs from a small driver thread
        # pool (each range's scan covers only its file slice, so a
        # single range cannot fill the executor pool; sequential units
        # left most cores idle — measured 5.7 s -> ~2.5 s for 4 ranges
        # of a 100k-row input at local[32]). Spark's scheduler runs
        # concurrent jobs FIFO, which is exactly the tail back-fill
        # behavior wanted here. Each unit is marked done from its
        # worker right after its publish succeeds, so a failure in one
        # range never costs the others their manifest record (a
        # published-but-unmarked range just republishes on resume,
        # which _publish_range makes idempotent). Result accumulation
        # happens AFTER the pool, in range order, so lineage output
        # order stays deterministic.
        if pending:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(4, len(pending))
            ) as pool:
                futs = {
                    unit: pool.submit(run_unit, i, unit, unit_files, files_sig)
                    for i, unit, unit_files, files_sig in pending
                }
            for unit, fut in futs.items():
                accumulate(unit, *fut.result())

    def _validate_ranged_input(self, seq_df: DataFrame) -> list[str]:
        """Ranged mode re-plans the scan per file-range, so the input
        must be (at most a column-pruning projection over) a bare
        parquet relation — a filter, computed column, mapInPandas
        ingest (read_raw_lines), or other format would be silently
        dropped by the per-range re-read. Fail loudly instead:
        materialize such inputs to parquet first, or use
        single_pass=True which preserves the caller's plan.

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
                "use single_pass=True which preserves the caller's plan"
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

    def _publish_range(self, unit: str, range_id: int) -> None:
        """Move each (route, pattern) subtree of the range's staging dir
        into sinks/<route>/<pattern>/<unit> (and _unroutable/_none into
        unroutable/<unit>). Renames are idempotent per unit: a rerun
        clears its own target dirs first, so a crash mid-publish just
        re-runs the range."""
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

    def _commit(
        self, df: DataFrame, unit: str, final_dir: str, count: bool = True
    ) -> int:
        """Write df to a staging dir, then atomically publish to
        final_dir. Local-FS analogue of an Iceberg snapshot commit: a
        crashed run leaves only staging garbage, never a partial sink."""
        staging = self._staging_dir(unit)
        if os.path.exists(staging):
            shutil.rmtree(staging)
        df.write.mode("overwrite").parquet(staging)
        if os.path.exists(final_dir):
            shutil.rmtree(final_dir)
        os.makedirs(os.path.dirname(final_dir), exist_ok=True)
        os.replace(staging, final_dir)
        if count:
            return self.spark.read.parquet(final_dir).count()
        return -1
