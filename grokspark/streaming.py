"""Structured Streaming face of the pipeline.

The batch north-rule job is transform-compatible with streaming: the
same broadcast enrich + router-parse UDF runs under ``readStream``.
What streaming adds and this module covers:

- **event time + watermark**: sequences carry no timestamp, so event
  time derives deterministically from the row index embedded in
  ``doc_id`` (``{source}-{i:08d}`` -> t0 + i seconds). Windowed
  per-route counts tolerate late rows up to the watermark.
- **custom stateful operator**: streaming first-seen dedup via
  ``applyInPandasWithState`` — state = seen doc_id set per key group,
  drops replayed rows across micro-batches (the at-least-once sink
  guard a real ingest needs).

Tests drive both with ``trigger(availableNow=True)`` over file sources
and a memory sink, then check exact equality with the batch pipeline /
pure-Python oracle.
"""

from __future__ import annotations

from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from grokspark import datagen
from grokspark.compiler import GrokRegistry
from grokspark.udfs import grok_parse_router_udf

__all__ = [
    "read_sequence_stream",
    "stream_windowed_route_counts",
    "stream_sessionize",
    "stream_first_seen",
    "first_seen_filter",
    "stream_route_sinks",
    "recover_batch_publish",
    "publish_batch",
]

SEQUENCES_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
EVENT_T0 = "2024-01-01 00:00:00"


def recover_batch_publish(staging: str, final: str, tombstone: str) -> None:
    """Replay-time cleanup for ``publish_batch``'s rename discipline.

    Any leftover staging dir is garbage from a crashed write — drop it.
    A leftover tombstone means the last publish crashed mid-swap: if
    ``final`` exists too, the crash was after the fresh rename and the
    tombstone is a stale copy (drop it); if ``final`` is MISSING, the
    crash landed between ``replace(final, tombstone)`` and
    ``replace(staging, final)`` and the tombstone is the ONLY surviving
    copy of the published batch — restore it so concurrent readers keep
    seeing old data for the whole recompute window.
    """
    import os
    import shutil

    if os.path.exists(staging):
        shutil.rmtree(staging)
    if os.path.exists(tombstone):
        if not os.path.exists(final):
            os.makedirs(os.path.dirname(final), exist_ok=True)
            os.replace(tombstone, final)
        else:
            shutil.rmtree(tombstone)


def publish_batch(staging: str, final: str, tombstone: str) -> None:
    """Atomic-visibility publish of a fully-written ``staging`` dir:
    move any current ``final`` ASIDE (to the tombstone path, outside
    the readers' sink root), rename staging into place, then drop the
    tombstone. A concurrent reader of ``final``'s parent sees old data
    or new data, never a missing or partially-written batch dir; a
    crash at any point is repaired by ``recover_batch_publish``."""
    import os
    import shutil

    os.makedirs(os.path.dirname(final), exist_ok=True)
    if os.path.exists(final):
        os.makedirs(os.path.dirname(tombstone), exist_ok=True)
        os.replace(final, tombstone)
    os.replace(staging, final)
    if os.path.exists(tombstone):
        shutil.rmtree(tombstone)


def read_sequence_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    """File-source stream of sequence parquet files."""
    reader = spark.readStream.schema(SEQUENCES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def with_event_time(df: DataFrame) -> DataFrame:
    """Deterministic event time: t0 + row-index seconds (index parsed
    from the doc_id suffix)."""
    idx = F.substring_index("doc_id", "-", -1).cast("long")
    return df.withColumn(
        "event_ts",
        F.to_timestamp(F.lit(EVENT_T0)) + F.make_dt_interval(secs=idx.cast("double")),
    )


def _router(spark: SparkSession, registry: Optional[GrokRegistry]):
    """The routes dimension and the router parse UDF (over tokens) for
    the generator's patterns, compiled from ``registry`` (the default
    patterns when None)."""
    registry = registry or GrokRegistry.with_default_patterns()
    compiled = {
        name: registry.compile(expr, with_alias_only=True)
        for name, expr in datagen.pattern_exprs().items()
    }
    return datagen.routes_df(spark), grok_parse_router_udf(compiled, from_tokens=True)


def stream_windowed_route_counts(
    stream_df: DataFrame,
    registry: Optional[GrokRegistry] = None,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window per-(route, matched) counts — the
    streaming twin of pipeline.route_match_counts."""
    routes, parse = _router(stream_df.sparkSession, registry)
    enriched = (
        with_event_time(stream_df)
        .join(routes, "source", "left")
        .filter(F.col("route").isNotNull())
        .withColumn(
            "fields", parse(F.col("pattern_name"), F.col("tokens"))["fields"]
        )
        .withColumn("matched", F.col("fields").isNotNull())
    )
    return (
        enriched.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("win"), "route", "matched")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            "route",
            "matched",
            "n",
        )
    )


def stream_sessionize(
    stream_df: DataFrame,
    gap: str = "2 minutes",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Streaming sessionization via native session windows: per-source
    sessions close after ``gap`` of event-time silence — the streaming
    twin of the batch lag+cumsum sessionizer (``events_sessionize``).
    ``F.session_window`` keeps per-key open-session state and merges
    windows as late-but-within-watermark rows arrive; append mode emits
    each session exactly once, after the watermark passes its close.
    Output: (source, sess_start, sess_end, n_rows)."""
    withts = with_event_time(stream_df)
    return (
        withts.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("win"), "source")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "source",
            F.col("win.start").alias("sess_start"),
            F.col("win.end").alias("sess_end"),
            "n_rows",
        )
    )


def stream_route_sinks(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    registry: Optional[GrokRegistry] = None,
):
    """Streaming fan-out sinks: the foreachBatch twin of the batch
    pipeline's dynamic-partition write. Each micro-batch is broadcast-
    enriched, router-parsed, and written to
    ``out_dir/sinks/batch_id=<n>/route=<r>/pattern_name=<p>/``.

    Exactly-once story: the file source + checkpoint give at-least-once
    micro-batch delivery; writes are made idempotent by keying each
    batch's output on its batch_id and OVERWRITING that directory — a
    replayed batch rewrites its own output instead of appending
    duplicates (the standard foreachBatch idempotence pattern; on a
    real cluster the same batch maps to one Iceberg
    overwrite-by-filter/append with a batch-id snapshot property).

    Returns a started StreamingQuery; callers await termination. Read
    results back with ``spark.read.parquet(f"{out_dir}/sinks")`` —
    partition discovery exposes batch_id/route/pattern_name columns."""
    routes, parse = _router(stream_df.sparkSession, registry)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os
        import shutil

        # unroutable rows are dead-lettered under route=_unroutable —
        # never silently dropped (parity with the batch pipeline)
        parsed = (
            batch_df.join(routes, "source", "left")
            .withColumn(
                "fields", parse(F.col("pattern_name"), F.col("tokens"))["fields"]
            )
            .withColumn("matched", F.col("fields").isNotNull())
            .withColumn("route", F.coalesce(F.col("route"), F.lit("_unroutable")))
            .withColumn(
                "pattern_name", F.coalesce(F.col("pattern_name"), F.lit("_none"))
            )
        )
        # staged write + rename publish (the batch pipeline's unit
        # publish discipline): parquet overwrite is not atomic on a
        # local FS, so a replay writing in place could expose a partial
        # batch to concurrent readers of out_dir/sinks. On replay the stale
        # batch dir is first renamed ASIDE (to a _tombstone path
        # outside sinks/), then the staged dir renamed into place — a
        # concurrent reader sees old-or-new, never missing-or-partial;
        # the tombstone is deleted only after publish.
        staging = f"{out_dir}/_staging/batch_id={batch_id}"
        final = f"{out_dir}/sinks/batch_id={batch_id}"
        tombstone = f"{out_dir}/_tombstone/batch_id={batch_id}"
        recover_batch_publish(staging, final, tombstone)
        (
            parsed.write.mode("overwrite")
            .partitionBy("route", "pattern_name")
            .parquet(staging)
        )
        publish_batch(staging, final, tombstone)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_FIRST_SEEN_STATE = T.StructType([T.StructField("seen", T.ArrayType(T.LongType()))])
_FIRST_SEEN_OUT = "doc_id string, source string, n_tok int"
FIRST_SEEN_BUCKETS = 64


def first_seen_filter(seen: set, pdf: pd.DataFrame) -> pd.DataFrame:
    """Pure per-group step of ``stream_first_seen``: keep rows whose
    ``_digest`` is not in ``seen``, mutate ``seen`` to include them.
    Split out so the state-growth contract is unit-testable without a
    state store: after any replay sequence, ``len(seen)`` equals the
    number of DISTINCT digests routed to this group — O(new ids per
    bucket), never O(batches) or O(corpus)."""
    fresh = pdf[~pdf["_digest"].isin(seen)].drop_duplicates(subset=["_digest"])
    seen.update(int(d) for d in fresh["_digest"])
    return fresh


def stream_first_seen(
    stream_df: DataFrame, n_buckets: int = FIRST_SEEN_BUCKETS
) -> DataFrame:
    """Custom stateful operator: emit each (source, doc_id) only the
    first time it is ever seen (exactly-once projection over an
    at-least-once stream).

    State design for scale: the group key is ``(source, hash-bucket)``
    — the corpus's id space is sharded over ``n_buckets`` groups per
    source, so no single group's state grows with the corpus, and a
    micro-batch round-trips only the buckets its rows actually touch
    (1/n_buckets of the id space each, not one giant per-source list).
    The state itself stores fixed-width 8-byte xxhash64 digests of the
    doc_id, not variable-length id strings. A digest collision within
    one (source, bucket) group would drop a genuinely-new id; the
    probability is ~n^2/2^64 over the ids of one source — negligible
    against at-least-once duplication rates, and the trade is what
    bounds state width. Raise ``n_buckets`` with corpus size (state
    per group ~ 8 bytes x ids_per_source / n_buckets); a Bloom filter
    in the same keying drops the constant further if needed."""
    keyed = stream_df.withColumn("_digest", F.xxhash64("doc_id")).withColumn(
        "_bucket", F.pmod(F.col("_digest"), F.lit(n_buckets)).cast("int")
    )

    def dedup(
        key, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        seen = set(state.get[0]) if state.exists else set()
        for pdf in batches:
            fresh = first_seen_filter(seen, pdf)
            if len(fresh):
                yield fresh[["doc_id", "source", "n_tok"]]
        state.update((list(seen),))

    return keyed.groupBy("source", "_bucket").applyInPandasWithState(
        dedup,
        outputStructType=_FIRST_SEEN_OUT,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
