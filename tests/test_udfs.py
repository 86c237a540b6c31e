"""Spark UDF kernels must agree exactly with the pure-Python matcher
(which itself is reference-parity-tested in test_compiler.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from grokspark import GrokRegistry
from grokspark.datagen import SOURCES, iter_rows, pattern_exprs, routes_dim, routes_rows
from grokspark.udfs import apply_extracts, grok_parse_map_udf, grok_parse_router_udf

N_ROWS = 400


@pytest.fixture(scope="module")
def corpus():
    return list(iter_rows(N_ROWS))


@pytest.fixture(scope="module")
def seq_df(spark, corpus):
    return spark.createDataFrame(
        corpus, schema="doc_id string, tokens array<int>, n_tok int, source string"
    ).cache()


@pytest.fixture(scope="module")
def registry():
    return GrokRegistry.with_default_patterns()


@pytest.mark.parametrize("source", [s for s, (_w, r, _e) in SOURCES.items() if r])
def test_parse_map_matches_pure_python(spark, seq_df, corpus, registry, source):
    expr = SOURCES[source][2]
    compiled = registry.compile(expr, with_alias_only=True)
    parse = grok_parse_map_udf(compiled, from_tokens=True)
    src = seq_df.filter(F.col("source") == source)
    first = src.first()
    assert first is not None, f"no test rows for {source}"
    # one row of invalid UTF-8: a source line with a stray lead byte
    # mid-line and a truncated sequence at the end
    good = first["tokens"]
    bad = good[: len(good) // 2] + [0xFF] + good[len(good) // 2 :] + [0xE2, 0x82]
    bad_df = spark.createDataFrame([("bad-utf8", bad, len(bad), source)], seq_df.schema)
    rows = (
        src.unionByName(bad_df)
        .withColumn("fields", parse(F.col("tokens")))
        # collect() turns a map into a dict through an unordered JVM
        # map, so the key order is read from map_keys
        .select("doc_id", "tokens", "fields", F.map_keys("fields").alias("keys"))
        .collect()
    )
    assert any(r["doc_id"] == "bad-utf8" for r in rows)
    for r in rows:
        line = bytes(r["tokens"]).decode("utf-8", errors="replace")
        expected = compiled.match_against(line)
        assert r["fields"] == expected, f"{source}: {line!r}"
        assert r["keys"] == (None if expected is None else list(expected)), line


def test_typed_extract_casts(spark, registry):
    """ELB extract tags :int/:float must become long/double columns
    (/root/reference/patterns/aws.pattern:11)."""
    compiled = registry.compile("%{ELB_ACCESS_LOG}", with_alias_only=True)
    assert compiled.extracts["clientport"] == "int"
    line = (
        "2015-05-13T23:39:43.945958Z my-loadbalancer 192.168.131.39:2817 "
        "10.0.0.1:80 0.000073 0.001048 0.000057 200 200 0 29 "
        '"GET https://example.com:443/ HTTP/1.1"'
    )
    df = spark.createDataFrame([(list(line.encode()),)], "tokens array<int>")
    parse = grok_parse_map_udf(compiled, from_tokens=True)
    out = apply_extracts(df.withColumn("fields", parse("tokens")), compiled, "fields")
    schema = dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)
    assert schema["clientport"] == "bigint"
    assert schema["request_processing_time"] == "double"
    row = out.collect()[0]
    assert row["clientport"] == 2817
    assert row["backendport"] == 80
    assert abs(row["request_processing_time"] - 0.000073) < 1e-12


def test_router_func_on_pandas_input_matches_spark(spark, seq_df, registry):
    """The router's ``.func`` called with pandas Series — pattern names
    and one int32 numpy token array per row, the shape a pandas-bridge
    caller (the traced benchmark's probe) hands in — returns the same
    fields, key order included, as the Spark path on the same rows.
    Unroutable names and a NULL tokens row give NULL maps on both."""
    compiled = {
        name: registry.compile(expr, with_alias_only=True)
        for name, expr in pattern_exprs().items()
    }
    parse = grok_parse_router_udf(compiled, from_tokens=True)
    enriched = seq_df.join(routes_dim(spark, routes_rows()), "source", "left")
    null_row = spark.createDataFrame(
        [("pat_apache_access", None)], "pattern_name string, tokens array<int>"
    )
    rows = (
        enriched.select("pattern_name", "tokens")
        .unionByName(null_row)
        .withColumn("fields", parse("pattern_name", "tokens")["fields"])
        .select("pattern_name", "tokens", "fields", F.map_keys("fields").alias("keys"))
        .collect()
    )
    names = pd.Series([r["pattern_name"] for r in rows])
    tokens = pd.Series(
        [None if r["tokens"] is None else np.array(r["tokens"], np.int32) for r in rows]
    )
    out = parse.func(names, tokens)
    assert out.field("timed_out").to_pylist() == [False] * len(rows)
    got = out.field("fields").to_pylist()
    want = [
        None if r["fields"] is None else [(k, r["fields"][k]) for k in r["keys"]]
        for r in rows
    ]
    assert got == want
    assert None in got and any(got)
    assert rows[-1]["fields"] is None
