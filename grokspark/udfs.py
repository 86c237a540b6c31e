"""Vectorized executor-side parse kernels: one Arrow-native family.

The reference matches row-at-a-time in native code
(/root/reference/src/lib.rs:100-105). Our scale lever is batching: the
JVM ships Arrow record batches to a Python worker, the worker runs the
compiled regex per row inside the batch, and one Arrow batch comes
back. The compiled pattern travels as a small picklable spec inside the
kernel closure and is engine-compiled once per worker process
(see grokspark.compiler._ENGINE_CACHE).

Every kernel decodes a batch the same way (``_decode_batch``): the
``list<int32>`` byte-level tokens arrive as ONE flat values buffer plus
offsets, so each line costs one buffer slice and one UTF-8 decode — no
per-row numpy array, no pandas bridge. Two kernels share that decode:

- ``grok_parse_router_udf`` (an ``arrow_udf``) -> ``struct<fields:
  map<string,string>, timed_out: boolean>`` per row: the participating
  captures (the reference's ``Option<Matches>``), built in bulk with
  ``pa.MapArray.from_arrays``. Passthrough columns stay on the JVM.
  ``grok_parse_map_udf`` is its one-pattern case and returns ``fields``.
- ``grok_parse_arrow_kernel`` (mapInArrow) counts ``(route, matched)``
  inside the kernel and returns one small ``(route, matched, n)`` batch
  per partition, so no per-row output crosses Python -> JVM. It needs
  only match/no-match, so without a timeout it searches each pattern's
  capture-free twin (``_EnginePattern.match_only_pattern``: every
  capture group rewritten to ``(?:``, refused for backreferences and
  conditionals), which skips the engine's per-group bookkeeping.
"""

from __future__ import annotations

from functools import partial
from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from grokspark.compiler import CompiledPattern, _validate_timeout

__all__ = [
    "grok_parse_map_udf",
    "grok_parse_router_udf",
    "grok_parse_arrow_kernel",
    "apply_extracts",
    "EXTRACT_CASTS",
]

# Reference extract tags observed in the pattern corpus (`int`, `float`,
# e.g. /root/reference/patterns/aws.pattern:11) mapped to Spark types.
# Unknown tags (e.g. `text`) stay strings.
EXTRACT_CASTS: dict[str, T.DataType] = {
    "int": T.LongType(),
    "float": T.DoubleType(),
}

_FIELDS_TYPE = T.MapType(T.StringType(), T.StringType())
_STATUS_TYPE = T.StructType(
    [
        T.StructField("fields", _FIELDS_TYPE, nullable=True),
        T.StructField("timed_out", T.BooleanType(), nullable=False),
    ]
)
# the Arrow twin of _STATUS_TYPE: Spark rejects a batch whose
# non-nullable child is declared nullable
_STATUS_FIELDS = [
    pa.field("fields", pa.map_(pa.string(), pa.string())),
    pa.field("timed_out", pa.bool_(), nullable=False),
]


def _require_tokens(from_tokens: bool) -> None:
    if not from_tokens:
        raise ValueError(
            "from_tokens=False selected the line-input mode, which was "
            "removed: the parse kernels take array<int> byte tokens only"
        )


def _rt_factory(specs: dict, timeout: Optional[float], match_only: bool = False):
    """Per-worker lazy engine compile: pattern name -> hot entry, or
    False for unknown/NULL pattern names (unroutable rows). The search
    fn is bound once per pattern, with the timeout when there is one,
    so a row costs one call. The router's entry is the tuple (search
    fn, group indices, sorted keys); with ``match_only`` (the counts
    kernel) it is the search fn alone, over the engine's capture-free
    twin, or over ``timeout_pattern()`` under a timeout, as for the
    router. Shared by both kernels so timeout/no-match semantics cannot
    drift between them."""
    runtime: dict = {}

    def rt_for(name):
        rt = runtime.get(name)
        if rt is None:
            spec = specs.get(name)
            if spec is None:
                runtime[name] = False
                return False
            eng = spec.engine
            if timeout:
                search = partial(eng.timeout_pattern().search, timeout=timeout)
            elif match_only:
                search = eng.match_only_pattern().search
            else:
                search = eng.pattern.search
            rt = search if match_only else (search, eng.indices, eng.sorted_names)
            runtime[name] = rt
        return rt

    return rt_for


def _decode_batch(names: pa.Array, tokens: pa.Array):
    """One batch's ``(pattern_name, tokens)`` -> ``(flat, offsets,
    names)``: the UTF-8 bytes of every line in one buffer, row i being
    ``flat[offsets[i]:offsets[i + 1]]``, and the pattern names as an
    object array. A NULL tokens row gets pattern name None, so it routes
    like an unknown pattern (its buffer slice is empty, and patterns
    like bare GREEDYDATA match empty text)."""
    offsets = tokens.offsets.to_numpy(zero_copy_only=False).tolist()
    flat = (
        tokens.values.to_numpy(zero_copy_only=False)
        .astype(np.uint8, copy=False)
        .tobytes()
    )
    # object arrays of str: ~20x cheaper than to_pylist()
    names = names.to_numpy(zero_copy_only=False)
    if tokens.null_count:
        valid = tokens.is_valid().to_numpy(zero_copy_only=False)
        names = np.where(valid, names, None)
    return flat, offsets, names


def _parse_batch(
    specs: dict, names: pa.Array, tokens: pa.Array, timeout: Optional[float]
) -> pa.StructArray:
    """Parse one batch into ``struct<fields, timed_out>``. ``fields``
    holds the participating captures in sorted-key order; it is NULL on
    no-match, an unknown/NULL pattern name, NULL tokens or a timeout,
    and ``{}`` for a match of a pattern without captures."""
    rt_for = _rt_factory(specs, timeout)
    flat, offsets, names = _decode_batch(names, tokens)
    # every capture of every matched row, None where the group did not
    # participate: one extend per row; the filter below keeps the
    # participating ones
    keys: list = []
    values: list = []
    ends = [0]  # row i's captures are values[ends[i]:ends[i + 1]]
    null_map = []
    timed_out = []
    for name, lo, hi in zip(names, offsets, offsets[1:]):
        rt = rt_for(name)
        m = None
        timed = False
        if rt is not False:
            search, indices, sorted_names = rt
            text = flat[lo:hi].decode("utf-8", errors="replace")
            try:
                m = search(text)
            except TimeoutError:
                timed = True
        timed_out.append(timed)
        null_map.append(m is None)
        if m is not None and indices:
            vals = m.group(*indices)
            values.extend((vals,) if len(indices) == 1 else vals)
            keys.extend(sorted_names)
        ends.append(len(values))
    null_map.append(False)  # the closing offset
    values = pa.array(values, pa.string())
    participating = values.is_valid()
    # row ends counted in participating captures; a NULL map is a
    # masked offset (MapArray.from_arrays takes no mask)
    kept = np.cumsum(participating.to_numpy(zero_copy_only=False), dtype=np.int32)
    kept = np.concatenate([np.zeros(1, np.int32), kept])[ends]
    fields = pa.MapArray.from_arrays(
        pa.array(kept, pa.int32(), mask=np.array(null_map)),
        pa.array(keys, pa.string()).filter(participating),
        values.filter(participating),
    )
    return pa.StructArray.from_arrays(
        [fields, pa.array(timed_out, pa.bool_())], fields=_STATUS_FIELDS
    )


def grok_parse_router_udf(
    compiled_by_name: dict[str, CompiledPattern],
    from_tokens: bool = True,
    timeout: Optional[float] = None,
):
    """Single-pass multi-pattern parse: ``(pattern_name, tokens) ->
    struct<fields: map<string,string>, timed_out: boolean>``. Each row
    is parsed with the pattern its route dim entry names. ``fields`` is
    NULL on no-match and for unroutable rows (NULL/unknown
    pattern_name) or NULL tokens; a row whose regex timed out has
    ``fields = NULL`` AND ``timed_out = true``, so pipelines report
    timeouts distinctly from genuine no-matches. ``timeout`` (seconds)
    bounds catastrophic backtracking per row; off by default for
    reference parity.

    ``.func`` also takes pandas Series (converted with ``pa.array``),
    the shape a pandas-bridge caller hands in."""
    _require_tokens(from_tokens)
    timeout = _validate_timeout(timeout)
    specs = compiled_by_name  # picklable as-is (engine state dropped)

    @arrow_udf(_STATUS_TYPE)
    def parse(pattern_names: pa.Array, tokens: pa.Array) -> pa.Array:
        return _parse_batch(specs, pa.array(pattern_names), pa.array(tokens), timeout)

    return parse


def grok_parse_map_udf(compiled: CompiledPattern, from_tokens: bool = True):
    """One-pattern parse: ``tokens -> map<string,string>`` of
    participating captures (NULL = whole-line no-match, the reference's
    None). The router's batch function with every row naming the one
    pattern."""
    _require_tokens(from_tokens)
    specs = {"": compiled}

    @arrow_udf(_FIELDS_TYPE)
    def parse(tokens: pa.Array) -> pa.Array:
        tokens = pa.array(tokens)
        names = pa.repeat("", len(tokens))
        return _parse_batch(specs, names, tokens, None).field("fields")

    return parse


def grok_parse_arrow_kernel(
    compiled_by_name: dict[str, CompiledPattern],
    timeout: Optional[float] = None,
):
    """mapInArrow counting kernel: the parse specialized to the counts
    query. Decodes like the router (``_decode_batch``), but nothing per
    row goes back: each row adds 1 to a ``(route, matched)`` counter,
    and once the partition's batches run out the kernel yields one
    small batch of per-partition counts. NULL tokens, unknown pattern
    names and regex timeouts count as unmatched. Without a timeout,
    rows are searched with the capture-free twin of each pattern, which
    matches the same texts as the router's full pattern without
    recording any group; under a timeout, with the router's
    ``timeout_pattern()``.

    Input batch columns:  route, pattern_name, tokens (list<int32>)
    Output batch columns: route string, matched boolean, n bigint

    Returns ``(kernel, ddl_schema_string)`` for
    ``DataFrame.mapInArrow(kernel, ddl)``; sum ``n`` per (route, matched)
    downstream.
    """
    timeout = _validate_timeout(timeout)
    specs = compiled_by_name
    out_schema = pa.schema(
        [
            pa.field("route", pa.string()),
            pa.field("matched", pa.bool_()),
            pa.field("n", pa.int64()),
        ]
    )

    def kernel(batches):
        rt_for = _rt_factory(specs, timeout, match_only=True)
        counts: dict = {}

        for batch in batches:
            flat, offsets, names = _decode_batch(
                batch.column("pattern_name"), batch.column("tokens")
            )
            routes = batch.column("route").to_numpy(zero_copy_only=False)
            for route, name, lo, hi in zip(routes, names, offsets, offsets[1:]):
                search = rt_for(name)
                matched = False
                if search is not False:
                    text = flat[lo:hi].decode("utf-8", errors="replace")
                    try:
                        matched = search(text) is not None
                    except TimeoutError:
                        pass
                key = (route, matched)
                counts[key] = counts.get(key, 0) + 1

        yield pa.RecordBatch.from_arrays(
            [
                pa.array([route for route, _ in counts], pa.string()),
                pa.array([matched for _, matched in counts], pa.bool_()),
                pa.array(list(counts.values()), pa.int64()),
            ],
            schema=out_schema,
        )

    return kernel, "route string, matched boolean, n bigint"


def apply_extracts(
    df: DataFrame,
    compiled: CompiledPattern,
    fields_col: str = "fields",
) -> DataFrame:
    """Materialize typed columns for the pattern's extract tags
    (reference: the caller-side cast driven by Pattern::get_extract,
    /root/reference/src/lib.rs:115-117) from the ``map<string,string>``
    fields column. JVM-side columnar casts — no Python involved."""
    col = F.col(fields_col)
    out = df
    for key, tag in sorted(compiled.extracts.items()):
        dtype = EXTRACT_CASTS.get(tag)
        if dtype is not None:
            out = out.withColumn(key, F.element_at(col, key).cast(dtype))
    return out
