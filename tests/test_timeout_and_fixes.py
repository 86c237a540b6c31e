"""Round-2 fixes: per-row regex timeout observability (a pathological
row must never fail a Spark task), context-aware sre dialect
translation, NULL-tokens handling in the arrow kernel, pattern
provenance, and the compile/match API."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import grokspark.compiler as C
from grokspark import GrokRegistry

# A GREEDYDATA stack that backtracks polynomially on a long line with
# no '=': the classic hostile log line for grok pipelines.
HOSTILE_EXPR = (
    "%{GREEDYDATA:a} %{GREEDYDATA:b} %{GREEDYDATA:c} "
    "%{GREEDYDATA:d} %{GREEDYDATA:e}=%{GREEDYDATA:f}"
)
HOSTILE_LINE = "a " * 10000
OK_LINE = "x y z w v=ok"
TIMEOUT = 0.05


@pytest.fixture(scope="module")
def registry():
    return GrokRegistry.with_default_patterns()


@pytest.fixture(scope="module")
def hostile(registry):
    return registry.compile(HOSTILE_EXPR, with_alias_only=True)


# -- timeout semantics --------------------------------------------------------


def test_search_raises_timeout_raw(hostile):
    with pytest.raises(TimeoutError):
        hostile.search(HOSTILE_LINE, timeout=TIMEOUT)


def test_match_against_timeout_is_no_match(hostile):
    assert hostile.match_against(HOSTILE_LINE, timeout=TIMEOUT) is None
    m = hostile.match_against(OK_LINE, timeout=TIMEOUT)
    assert m is not None and m["f"] == "ok"


def test_timeout_on_sre_engine(registry):
    """A timeout on an sre-engine pattern must route through a lazily
    compiled regex-module pattern, not TypeError on sre's search()."""
    C._ENGINE_CACHE.clear()
    compiled = registry.compile(HOSTILE_EXPR, with_alias_only=True)
    assert compiled.engine.flavor == "sre"
    assert compiled.engine.ref_pattern is None  # not compiled eagerly
    assert compiled.match_against(HOSTILE_LINE, timeout=TIMEOUT) is None
    assert compiled.match_against(OK_LINE, timeout=TIMEOUT)["f"] == "ok"
    C._ENGINE_CACHE.clear()


def test_router_timeout_does_not_fail_task(spark, hostile):
    """A pathological row over token input times out as a NULL map; the
    task still succeeds and the other rows parse."""
    from grokspark.udfs import grok_parse_router_udf

    parse = grok_parse_router_udf({"pat": hostile}, timeout=TIMEOUT)
    df = spark.createDataFrame(
        [("hostile", list(HOSTILE_LINE.encode())), ("ok", list(OK_LINE.encode()))],
        schema="key string, tokens array<int>",
    ).withColumn("st", parse(F.lit("pat"), F.col("tokens")))
    rows = {r["key"]: r for r in df.select("key", "st.*").collect()}
    assert rows["hostile"]["fields"] is None and rows["hostile"]["timed_out"] is True
    assert rows["ok"]["fields"] == hostile.match_against(OK_LINE)
    assert rows["ok"]["fields"]["f"] == "ok" and rows["ok"]["timed_out"] is False


def test_router_status_udf_reports_timeouts(spark, hostile):
    from grokspark.udfs import grok_parse_router_udf

    parse = grok_parse_router_udf({"pat": hostile}, timeout=TIMEOUT)
    data = [
        ("pat", list(HOSTILE_LINE.encode())),
        ("pat", list(OK_LINE.encode())),
        ("pat", list(b"no equals sign here")),
        ("unknown", list(OK_LINE.encode())),
        ("pat", None),
    ]
    df = spark.createDataFrame(
        data, schema="pattern_name string, tokens array<int>"
    ).withColumn("st", parse(F.col("pattern_name"), F.col("tokens")))
    rows = df.select("pattern_name", "tokens", "st.*").collect()
    by_idx = {i: r for i, r in enumerate(rows)}
    # re-order safety: collect preserves input order for a local df
    assert by_idx[0]["fields"] is None and by_idx[0]["timed_out"] is True
    assert by_idx[1]["fields"]["f"] == "ok" and by_idx[1]["timed_out"] is False
    assert by_idx[2]["fields"] is None and by_idx[2]["timed_out"] is False
    assert by_idx[3]["fields"] is None and by_idx[3]["timed_out"] is False
    assert by_idx[4]["fields"] is None and by_idx[4]["timed_out"] is False


def _kernel_counts(spark, kernel, ddl, data) -> dict:
    """Run the counting kernel over ``(route, pattern_name, tokens)``
    rows and fold its per-partition counts into {(route, matched): n}."""
    df = spark.createDataFrame(
        data, schema="route string, pattern_name string, tokens array<int>"
    )
    counts: dict = {}
    for r in df.mapInArrow(kernel, ddl).collect():
        key = (r["route"], r["matched"])
        counts[key] = counts.get(key, 0) + r["n"]
    return counts


def test_arrow_kernel_null_tokens_and_timeouts(spark, hostile):
    from grokspark.udfs import grok_parse_arrow_kernel

    kernel, ddl = grok_parse_arrow_kernel({"pat": hostile}, timeout=TIMEOUT)
    data = [
        ("null", "pat", None),  # NULL tokens: no-match, NOT empty-string match
        ("ok", "pat", list(OK_LINE.encode())),
        ("hostile", "pat", list(HOSTILE_LINE.encode())),  # timeout: no-match
    ]
    assert _kernel_counts(spark, kernel, ddl, data) == {
        ("null", False): 1,
        ("ok", True): 1,
        ("hostile", False): 1,
    }


def test_arrow_kernel_null_tokens_without_status(spark, registry):
    """Bare GREEDYDATA matches empty text — a NULL tokens row must still
    count as no-match (the round-1 validity-mask bug)."""
    from grokspark.udfs import grok_parse_arrow_kernel

    greedy = registry.compile("%{GREEDYDATA:all}", with_alias_only=True)
    kernel, ddl = grok_parse_arrow_kernel({"pat": greedy})
    data = [
        ("null", "pat", None),
        ("hello", "pat", list(b"hello")),
        ("empty", "pat", []),  # an empty line is text, and GREEDYDATA matches it
        ("unknown", "nope", list(b"hello")),
    ]
    assert _kernel_counts(spark, kernel, ddl, data) == {
        ("null", False): 1,
        ("hello", True): 1,
        ("empty", True): 1,
        ("unknown", False): 1,
    }


# -- sre dialect translation (context-aware) ----------------------------------


def test_to_sre_source_rewrites():
    assert C._to_sre_source(r"(?<name>x)") == r"(?P<name>x)"
    assert C._to_sre_source(r"(?<=a)(?<!b)") == r"(?<=a)(?<!b)"


def test_posix_classes_force_reference_engine():
    """POSIX bracket classes are Unicode-aware on the reference engine
    ([[:alpha:]] matches 'é'); no ASCII-range sre rewrite reproduces
    that, so such patterns must stay on the regex engine."""
    for src in (r"[[:digit:]]+", r"[^[:space:]]", r"[a[:xdigit:]z]", r"[[:^digit:]]"):
        with pytest.raises(C._NotSreExpressible):
            C._to_sre_source(src)
    reg = GrokRegistry.empty()
    reg.add_pattern("ALPHAS", r"[[:alpha:]]+")
    compiled = reg.compile("v=%{ALPHAS:w}")
    assert compiled.engine.flavor == "regex"
    # Unicode semantics preserved (the round-1 ASCII translation
    # would have stopped at 'caf')
    assert compiled.match_against("v=café!") == {"w": "café"}


def test_timeout_zero_rejected_everywhere():
    """timeout=0 must be one thing on every path: an error (previously
    'no timeout' in router/arrow kernels but instant TimeoutError in
    the scalar paths)."""
    from grokspark.udfs import grok_parse_arrow_kernel, grok_parse_router_udf

    compiled = GrokRegistry.with_default_patterns().compile("%{INT:n}")
    with pytest.raises(ValueError, match="positive"):
        compiled.search("42", timeout=0.0)
    for factory in (grok_parse_router_udf, grok_parse_arrow_kernel):
        with pytest.raises(ValueError, match="positive"):
            factory({"p": compiled}, timeout=0.0)


def test_line_input_mode_rejected():
    """The parse kernels take byte tokens only: from_tokens=False names
    the removed line-input mode instead of parsing tokens as text."""
    from grokspark.udfs import grok_parse_map_udf, grok_parse_router_udf

    compiled = GrokRegistry.with_default_patterns().compile("%{INT:n}")
    with pytest.raises(ValueError, match="line-input mode"):
        grok_parse_map_udf(compiled, from_tokens=False)
    with pytest.raises(ValueError, match="line-input mode"):
        grok_parse_router_udf({"p": compiled}, from_tokens=False)


def test_to_sre_source_preserves_literals():
    # literal sequences that the old blanket replace would corrupt
    assert C._to_sre_source(r"x[(?<]y") == r"x[(?<]y"  # class of literals
    assert C._to_sre_source(r"a[:digit:]b") == r"a[:digit:]b"  # bare set
    assert C._to_sre_source(r"\[:digit:\]") == r"\[:digit:\]"  # escaped
    assert C._to_sre_source(r"[]a]") == r"[]a]"  # leading literal ]
    assert C._to_sre_source(r"[^]a]") == r"[^]a]"


def test_sre_literal_class_semantics_match_reference_engine():
    """A pattern whose source contains '(?<' inside a character class
    must behave identically on the sre fast path and the regex engine."""
    import re as sre

    import regex

    src = r"v[(?<]w"
    translated = C._to_sre_source(src)
    for probe in ["v(w", "v?w", "v<w", "vxw", "v(?<w"]:
        assert bool(sre.compile(translated).search(probe)) == bool(
            regex.compile(src).search(probe)
        ), probe


# -- provenance + compile/match API -----------------------------------------


def test_patterns_by_file_union_equals_merged():
    from grokspark.patterns import default_patterns, patterns_by_file

    by_file = patterns_by_file()
    union: dict[str, str] = {}
    for pats in by_file.values():
        union.update(pats)
    merged = default_patterns()
    assert union == merged
    assert len(merged) == 320
    assert len(by_file) == 21
    assert patterns_by_file("aws") == by_file["aws"]
    assert patterns_by_file("aws.pattern") == by_file["aws"]
    with pytest.raises(KeyError):
        patterns_by_file("nonexistent")


def test_registry_compile_match_api():
    """The reference's user surface: compile once, match in a loop."""
    compiled = GrokRegistry.with_default_patterns().compile("%{INT:n} %{WORD:w}")
    assert compiled.match_against("42 hello") == {"n": "42", "w": "hello"}
    assert compiled.match_against("no digits") is None
