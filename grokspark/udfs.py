"""Vectorized executor-side kernels: detokenize + grok parse as
Arrow-batched pandas UDFs.

The reference matches row-at-a-time in native code
(/root/reference/src/lib.rs:100-105). Our scale lever is batching: the
JVM ships Arrow record batches to a Python worker, the worker runs the
compiled regex per row inside the batch, and one Arrow batch comes
back. The compiled pattern travels as a small picklable spec inside the
UDF closure and is engine-compiled once per worker process
(see grokspark.compiler._ENGINE_CACHE).

Two parse representations:

- ``grok_parse_map_udf``  -> ``map<string,string>`` of *participating*
  captures only, NULL on whole-line no-match. This mirrors the
  reference API exactly (``match_against`` returning ``Option<Matches>``,
  ``Matches::iter()`` yielding participating groups) and is the scale
  path: a 163-capture pattern with 9 participating groups ships 9 map
  entries, not 163 mostly-null struct fields.

- ``grok_parse_struct_udf`` -> one nullable StringType field per capture
  key plus a ``_matched`` boolean. Schema-on-parse for downstream SQL.

Both have fused token-array variants that decode ``array<int32>``
(byte-level vocab) to text inside the same kernel, so detokenize+parse
costs a single JVM<->Python round trip and the rendered line never
materializes in the JVM.

The counts query needs neither: ``grok_parse_arrow_kernel`` (mapInArrow)
counts ``(route, matched)`` inside the kernel and returns one small
``(route, matched, n)`` batch per partition, so no per-row output
crosses Python -> JVM. The router UDFs serve the sink path, where the
parsed fields are written out.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from grokspark.compiler import CompiledPattern

__all__ = [
    "detokenize_udf",
    "grok_parse_map_udf",
    "grok_parse_struct_udf",
    "grok_parse_router_udf",
    "grok_parse_router_status_udf",
    "grok_parse_arrow_kernel",
    "grok_match_udf",
    "parse_struct_type",
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

MATCHED_FIELD = "_matched"


def _validate_timeout(timeout: Optional[float]) -> Optional[float]:
    """Every kernel factory funnels through this so ``timeout=0`` cannot
    mean 'no timeout' on one path and 'instant TimeoutError' on another
    — positive seconds or None, no third meaning."""
    if timeout is not None and timeout <= 0:
        raise ValueError(f"timeout must be positive seconds or None, got {timeout}")
    return timeout


def _tokens_to_text(tokens) -> Optional[str]:
    """array<int32> byte-level token ids -> str (UTF-8)."""
    if tokens is None:
        return None
    return (
        np.asarray(tokens)
        .astype(np.uint8, copy=False)
        .tobytes()
        .decode("utf-8", errors="replace")
    )


def detokenize_udf() -> "pandas_udf":
    """``array<int32> -> string`` render UDF (byte-level vocab)."""

    @pandas_udf(T.StringType())
    def detokenize(tokens: pd.Series) -> pd.Series:
        return tokens.map(_tokens_to_text)

    return detokenize


def _match_dict(compiled: CompiledPattern, text: Optional[str], timeout: Optional[float]):
    """One row: participating-captures dict, or None on no-match.
    Delegates to the documented parity API (CompiledPattern.
    match_against — timeout expiry is no-match there too) so the Spark
    kernels cannot drift from the single-row reference surface."""
    return None if text is None else compiled.match_against(text, timeout=timeout)


def grok_parse_map_udf(
    compiled: CompiledPattern,
    from_tokens: bool = False,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Parse UDF returning ``map<string,string>`` of participating
    captures (NULL = whole-line no-match, the reference's None).

    ``from_tokens=True`` makes the input ``array<int32>`` and fuses the
    detokenize step into the same kernel (one Arrow round trip).
    ``timeout`` (seconds) bounds catastrophic backtracking per row; a
    timeout is treated as no-match (documented deviation, off by
    default for reference parity).
    """
    timeout = _validate_timeout(timeout)

    if from_tokens:

        @pandas_udf(T.MapType(T.StringType(), T.StringType()))
        def parse(tokens: pd.Series) -> pd.Series:
            return tokens.map(
                lambda t: _match_dict(compiled, _tokens_to_text(t), timeout)
            )

        return parse

    @pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def parse(lines: pd.Series) -> pd.Series:
        return lines.map(lambda s: _match_dict(compiled, s, timeout))

    return parse


def parse_struct_type(compiled: CompiledPattern) -> T.StructType:
    """Output schema of the struct parse UDF: one nullable string field
    per capture key (sorted, reference BTreeMap order) + ``_matched``."""
    fields = [
        T.StructField(name, T.StringType(), nullable=True)
        for name in compiled.capture_names
    ]
    fields.append(T.StructField(MATCHED_FIELD, T.BooleanType(), nullable=False))
    return T.StructType(fields)


def grok_parse_struct_udf(
    compiled: CompiledPattern,
    from_tokens: bool = False,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Parse UDF returning a struct column: every capture key as a
    nullable string field (NULL = group did not participate or line did
    not match) plus ``_matched`` boolean."""
    timeout = _validate_timeout(timeout)
    spec = compiled  # picklable as-is: __getstate__ drops engine state
    schema = parse_struct_type(compiled)
    names = list(compiled.capture_names)
    none_row = tuple([None] * len(names)) + (False,)

    def _batch(texts: Iterable[Optional[str]]) -> pd.DataFrame:
        eng = spec.engine
        indices = eng.indices
        single = len(indices) == 1
        rows = []
        for s in texts:
            try:
                m = spec.search(s, timeout=timeout) if s is not None else None
            except TimeoutError:
                m = None
            if m is None:
                rows.append(none_row)
            elif not indices:
                rows.append((True,))
            else:
                vals = m.group(*indices)
                rows.append(((vals,) if single else vals) + (True,))
        return pd.DataFrame(rows, columns=names + [MATCHED_FIELD])

    if from_tokens:

        @pandas_udf(schema)
        def parse(tokens: pd.Series) -> pd.DataFrame:
            return _batch(_tokens_to_text(t) for t in tokens)

        return parse

    @pandas_udf(schema)
    def parse(lines: pd.Series) -> pd.DataFrame:
        return _batch(lines)

    return parse


def _router_rt_factory(specs: dict, timeout: Optional[float]):
    """Per-worker lazy engine compile: pattern name -> hot tuple
    (search fn, group indices, sorted keys), or False for unknown/NULL
    pattern names (unroutable rows). Shared by both router UDFs so
    timeout/no-match semantics cannot drift between them."""
    runtime: dict = {}

    def rt_for(name):
        rt = runtime.get(name)
        if rt is None:
            spec = specs.get(name)
            if spec is None:
                runtime[name] = False
                return False
            eng = spec.engine
            pat = eng.timeout_pattern() if timeout else eng.pattern
            rt = (pat.search, eng.indices, eng.sorted_names)
            runtime[name] = rt
        return rt

    return rt_for


def _route_one(rt, text: Optional[str], timeout: Optional[float]):
    """One routed row -> (participating-captures dict | None, timed_out).
    None fields = unroutable, NULL text, no-match, or timeout."""
    if rt is False or text is None:
        return None, False
    search, indices, keys = rt
    try:
        m = search(text, timeout=timeout) if timeout else search(text)
    except TimeoutError:
        return None, True
    if m is None:
        return None, False
    if not indices:
        return {}, False
    values = m.group(*indices)
    if len(indices) == 1:
        values = (values,)
    return {k: v for k, v in zip(keys, values) if v is not None}, False


def grok_parse_router_udf(
    compiled_by_name: dict[str, CompiledPattern],
    from_tokens: bool = True,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Single-pass multi-pattern parse: ``(pattern_name, tokens|line) ->
    map<string,string>``. One scan + one shuffle for the whole corpus
    instead of one per pattern — each row is parsed with the pattern its
    route dim entry names. Rows whose pattern_name is NULL/unknown get a
    NULL map (unroutable); a per-row timeout is a NULL map too (use the
    status variant to count timeouts distinctly)."""
    timeout = _validate_timeout(timeout)
    specs = compiled_by_name  # picklable as-is (engine state dropped)

    @pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def parse(pattern_names: pd.Series, payload: pd.Series) -> pd.Series:
        rt_for = _router_rt_factory(specs, timeout)
        decode = _tokens_to_text
        out = []
        for name, data in zip(pattern_names, payload):
            rt = rt_for(name)
            text = (decode(data) if from_tokens else data) if rt is not False else None
            fields, _timed = _route_one(rt, text, timeout)
            out.append(fields)
        return pd.Series(out, dtype=object)

    return parse


def grok_parse_router_status_udf(
    compiled_by_name: dict[str, CompiledPattern],
    from_tokens: bool = True,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Router parse with timeout observability: returns
    ``struct<fields: map<string,string>, timed_out: boolean>``. A row
    whose regex timed out has ``fields = NULL`` (counts as unmatched,
    same as the plain router) AND ``timed_out = true``, so pipelines can
    report timeouts distinctly from genuine no-matches in lineage."""
    timeout = _validate_timeout(timeout)
    specs = compiled_by_name
    schema = T.StructType(
        [
            T.StructField(
                "fields", T.MapType(T.StringType(), T.StringType()), nullable=True
            ),
            T.StructField("timed_out", T.BooleanType(), nullable=False),
        ]
    )

    @pandas_udf(schema)
    def parse(pattern_names: pd.Series, payload: pd.Series) -> pd.DataFrame:
        rt_for = _router_rt_factory(specs, timeout)
        decode = _tokens_to_text
        fields_out: list = []
        timed_out: list = []
        for name, data in zip(pattern_names, payload):
            rt = rt_for(name)
            text = (decode(data) if from_tokens else data) if rt is not False else None
            fields, timed = _route_one(rt, text, timeout)
            fields_out.append(fields)
            timed_out.append(timed)
        return pd.DataFrame({"fields": fields_out, "timed_out": timed_out})

    return parse


def grok_parse_arrow_kernel(
    compiled_by_name: dict[str, CompiledPattern],
    timeout: Optional[float] = None,
):
    """mapInArrow counting kernel: the fastest parse path, specialized to
    the counts query.

    The pandas bridge materializes one numpy array per row for the
    ``tokens`` column (list<int32>), which costs more than the regex
    match itself. Arrow batches expose the same data as ONE flat values
    buffer + offsets, so this kernel decodes every line with a single
    buffer slice per row and never builds per-row arrays. Nothing per
    row goes back either: each row adds 1 to a ``(route, matched)``
    counter, and once the partition's batches run out the kernel yields
    one small batch of per-partition counts. NULL tokens, unknown
    pattern names and regex timeouts count as unmatched.

    Input batch columns:  route, pattern_name, tokens (list<int32>)
    Output batch columns: route string, matched boolean, n bigint

    Returns ``(kernel, ddl_schema_string)`` for
    ``DataFrame.mapInArrow(kernel, ddl)``; sum ``n`` per (route, matched)
    downstream.
    """
    import pyarrow as pa

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
        rt_for = _router_rt_factory(specs, timeout)
        counts: dict = {}

        for batch in batches:
            tokens = batch.column("tokens")
            # flatten list<int32> -> one contiguous byte buffer + offsets
            offsets = tokens.offsets.to_numpy(zero_copy_only=False).tolist()
            flat = (
                tokens.values.to_numpy(zero_copy_only=False)
                .astype(np.uint8, copy=False)
                .tobytes()
            )
            # object arrays of str: ~20x cheaper than to_pylist()
            names = batch.column("pattern_name").to_numpy(zero_copy_only=False)
            routes = batch.column("route").to_numpy(zero_copy_only=False)
            # NULL tokens entries must count as no-match, not as '' (the
            # flat buffer slice of a null list element is empty, and
            # patterns like bare GREEDYDATA match empty text): route
            # them like an unknown pattern name
            if tokens.null_count:
                valid = tokens.is_valid().to_numpy(zero_copy_only=False)
                names = np.where(valid, names, None)
            for route, name, lo, hi in zip(routes, names, offsets, offsets[1:]):
                rt = rt_for(name)
                matched = False
                if rt is not False:
                    search = rt[0]
                    text = flat[lo:hi].decode("utf-8", errors="replace")
                    try:
                        m = search(text, timeout=timeout) if timeout else search(text)
                        matched = m is not None
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


def grok_match_udf(
    compiled: CompiledPattern,
    from_tokens: bool = False,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Boolean match test (no capture extraction) — cheapest kernel for
    pure routing/filtering."""
    timeout = _validate_timeout(timeout)
    spec = compiled

    def _one(s: Optional[str]) -> bool:
        if s is None:
            return False
        try:
            return spec.search(s, timeout=timeout) is not None
        except TimeoutError:
            return False

    if from_tokens:

        @pandas_udf(T.BooleanType())
        def matches(tokens: pd.Series) -> pd.Series:
            return pd.Series([_one(_tokens_to_text(t)) for t in tokens])

        return matches

    @pandas_udf(T.BooleanType())
    def matches(lines: pd.Series) -> pd.Series:
        return lines.map(_one)

    return matches


def apply_extracts(
    df: DataFrame,
    compiled: CompiledPattern,
    fields_col: str = "fields",
) -> DataFrame:
    """Materialize typed columns for the pattern's extract tags
    (reference: the caller-side cast driven by Pattern::get_extract,
    /root/reference/src/lib.rs:115-117). JVM-side columnar casts —
    no Python involved.

    For a map fields column: ``element_at(fields, key)``; for a struct
    fields column: ``fields.getField(key)``.
    """
    is_map = isinstance(df.schema[fields_col].dataType, T.MapType)
    col = F.col(fields_col)
    out = df
    for key, tag in sorted(compiled.extracts.items()):
        dtype = EXTRACT_CASTS.get(tag)
        if dtype is None:
            continue
        raw: Column = F.element_at(col, key) if is_map else col.getField(key)
        out = out.withColumn(key, raw.cast(dtype))
    return out
