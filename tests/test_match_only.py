"""Match-only twin: the capture-free pattern the counts kernel searches
(``_EnginePattern.match_only_pattern``) must match exactly the texts the
full capture pattern matches, on every builtin in both alias modes; the
rewrite must be refused where a capture is read back and must leave
backtracking verbs alone; and the counts kernel must count what the
router parses."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import grokspark.compiler as C
from grokspark import GrokRegistry, datagen
from grokspark.udfs import grok_parse_arrow_kernel, grok_parse_router_udf

# generous: a timeout here would be a test failure, not a no-match
TIMEOUT = 30.0
N_CLEAN = 500
_STATUS_AT = 'HTTP/1.1" '


def _corrupt_midline(line: str) -> str:
    """The benchmark's ``nomatch`` corruption: the first digit of the
    HTTP status becomes ``x``, so ``HTTPD_COMBINEDLOG`` fails deep."""
    k = line.index(_STATUS_AT) + len(_STATUS_AT)
    return line[:k] + "x" + line[k + 1 :]


def _nomatch_rows(n: int, start: int = 0) -> list[dict]:
    """``datagen`` rows ``[start, start + n)`` with 30% of the intact
    apache lines corrupted mid-line (the benchmark's ``nomatch`` input
    shape); ~5% of all lines are datagen's head truncations."""
    rows = []
    for i in range(start, start + n):
        row = datagen.row_for(i)
        line = bytes(row["tokens"]).decode("utf-8")
        if (
            row["source"] == "apache_access"
            and _STATUS_AT in line
            and random.Random(f"match-only:{i}").random() < 0.3
        ):
            row["tokens"] = list(_corrupt_midline(line).encode("utf-8"))
        rows.append(row)
    return rows


def _lines() -> list[str]:
    """Clean datagen lines, every intact apache line also corrupted
    mid-line, and a head truncation of one line per source."""
    lines = [datagen.line_for(i) for i in range(N_CLEAN)]
    lines += [_corrupt_midline(x) for x in lines if _STATUS_AT in x]
    lines += [datagen.line_for(i, s)[:10] + "~~" for i, s in enumerate(datagen.SOURCES)]
    lines += ["", " ", "-", "x" * 16]
    return lines


LINES = _lines()
BUILTINS = sorted(GrokRegistry.with_default_patterns().patterns)


@pytest.fixture(scope="module")
def compiled():
    """(builtin, with_alias_only) -> CompiledPattern; the engine cache
    entries are dropped afterwards."""
    registry = GrokRegistry.with_default_patterns()
    out = {
        (name, alias_only): registry.compile("%{" + name + "}", with_alias_only=alias_only)
        for name in BUILTINS
        for alias_only in (False, True)
    }
    yield out
    C._ENGINE_CACHE.clear()


def _disagreement(p, text: str):
    """None when the full pattern and the match-only twin agree on
    ``text``; else what each said."""
    want = p.search(text) is not None
    got = p.engine.match_only_pattern().search(text) is not None
    return None if got == want else (text, want, got)


@pytest.mark.parametrize("alias_only", [False, True])
def test_match_only_agrees_on_every_builtin(compiled, alias_only):
    bad = []
    for name in BUILTINS:
        p = compiled[(name, alias_only)]
        eng = p.engine
        if C._capture_free(p.regex_src) is not None:
            assert eng.match_only_pattern().groups == 0, name
        bad += [(name, d) for d in (_disagreement(p, t) for t in LINES) if d]
    assert not bad, bad[:5]


def _spliced(line: str, at: int, junk: str, cut: int) -> str:
    k = at % (len(line) + 1)
    return line[:k] + junk + line[k + cut :]


@settings(max_examples=300, deadline=None)
@given(
    name=st.sampled_from(BUILTINS),
    alias_only=st.booleans(),
    text=st.one_of(
        # short: URIPROTO's nested quantifier is exponential in the
        # length of an alphanumeric run on sre, with or without captures
        st.text(max_size=20),
        st.builds(
            _spliced,
            st.sampled_from(LINES[:N_CLEAN]),
            st.integers(0, 400),
            st.text(alphabet='x0- "[]:./', max_size=3),
            st.integers(0, 3),
        ),
    ),
)
def test_match_only_agrees_on_hypothesis_strings(compiled, name, alias_only, text):
    assert _disagreement(compiled[(name, alias_only)], text) is None


# -- refusal ------------------------------------------------------------------

# custom patterns that read a capture back: the quote that closes a word
# must be the one that opened it, and a closing '>' is required exactly
# when an opening '<' was taken
REFUSED = {
    "GREF": r"""(?<q>['"])\w+\g<q>""",
    "PREF": r"""(?P<q>['"])\w+(?P=q)""",
    "NREF": r"""(['"])\w+\1""",
    "COND": r"""(<)?\w+(?(1)>)""",
}
QUOTES = ["'abc' 1", '"abc" 2', "'abc\" 3", "\"abc' 4"]
REFUSED_LINES = {
    "GREF": QUOTES,
    "PREF": QUOTES,
    "NREF": QUOTES,
    "COND": ["<abc> 1", "abc 2", "<abc 3", "abc> 4"],
}


def test_capture_free_refuses_captures_read_back():
    registry = GrokRegistry.with_default_patterns()
    for name, body in REFUSED.items():
        registry.add_pattern(name, body)
    # \k<name> is refused too, though neither engine here compiles it
    registry.add_pattern("KREF", r"""(?<q>['"])\w+\k<q>""")
    with pytest.raises(C.RegexCompilationFailed):
        registry.compile("^%{KREF} %{INT:n}$", with_alias_only=True)
    assert C._capture_free(registry._compile_regex("%{KREF}", True)[0]) is None
    specs = {}
    for name in REFUSED:
        # unaliased placeholder: the body's groups keep their numbers
        expr = "^%{" + name + "} %{INT:n}$"
        specs[name] = registry.compile(expr, with_alias_only=True)
        assert C._capture_free(specs[name].regex_src) is None, name
        eng = specs[name].engine
        assert eng.match_only_pattern() is eng.pattern

    _assert_kernel_counts_router(specs, REFUSED_LINES)


def _assert_kernel_counts_router(specs: dict, lines_by_name: dict) -> None:
    """The counts kernel, with and without a timeout, counts as matched
    exactly the rows the full pattern matches and the router gives
    non-NULL ``fields``; each pattern's lines tell the two apart."""
    names, tokens, want = [], [], {}
    for name, lines in lines_by_name.items():
        for line in lines:
            names.append(name)
            tokens.append(list(line.encode()))
        matched = sum(specs[name].search(x) is not None for x in lines)
        assert 0 < matched < len(lines), name
        want[name] = matched
    batch = pa.record_batch(
        [pa.array(names), pa.array(names), pa.array(tokens, pa.list_(pa.int32()))],
        names=["route", "pattern_name", "tokens"],
    )
    fields = grok_parse_router_udf(specs).func(batch.column(1), batch.column(2)).field("fields")
    router = {name: 0 for name in lines_by_name}
    for name, f in zip(names, fields.is_valid().to_pylist()):
        router[name] += f
    for timeout in (None, TIMEOUT):
        kernel, _ddl = grok_parse_arrow_kernel(specs, timeout=timeout)
        (out,) = kernel(iter([batch]))
        counts = {
            r: n for r, m, n in zip(*(c.to_pylist() for c in out.columns)) if m
        }
        assert counts == router == want


def test_capture_free_keeps_backtracking_verbs():
    """``(*SKIP)(*F)`` is a verb, not a bare capture ``(``: the rewrite
    keeps it, so the twin compiles (a ``(?:*F)`` would not, and the
    kernel would fail where the router parses) and agrees: a run of
    ``a`` is skipped, any other word matches."""
    registry = GrokRegistry.with_default_patterns()
    registry.add_pattern("VERB", r"(a+)(*SKIP)(*F)|(\w+)")
    spec = registry.compile("^%{VERB} %{INT:n}$", with_alias_only=True)
    src = C._capture_free(spec.regex_src)
    assert src is not None and r"(?:a+)(*SKIP)(*F)|(?:\w+)" in src
    twin = spec.engine.match_only_pattern()
    assert twin is not spec.engine.pattern and twin.groups == 0
    _assert_kernel_counts_router(
        {"VERB": spec}, {"VERB": ["bab 1", "aab 2", "b 3", "a 4"]}
    )


def test_match_only_falls_back_when_the_rewrite_does_not_compile(monkeypatch):
    registry = GrokRegistry.with_default_patterns()
    registry.add_pattern("FALLBACK", r"(x+)-(y+)")
    spec = registry.compile("^%{FALLBACK}$", with_alias_only=True)
    monkeypatch.setattr(C, "_capture_free", lambda src: src + "(")
    assert spec.engine.match_only_pattern() is spec.engine.pattern


# -- kernel vs router on the benchmark's nomatch shape -------------------------


def test_route_match_counts_equals_router_counts_on_nomatch_sample(spark):
    from grokspark.pipeline import route_match_counts

    rows = _nomatch_rows(3000)
    df = spark.createDataFrame(rows, schema=datagen.SEQUENCES_SCHEMA)
    kernel_counts = {
        (r["route"], r["matched"]): r["n"] for r in route_match_counts(spark, df).collect()
    }
    registry = GrokRegistry.with_default_patterns()
    parse = grok_parse_router_udf(
        {
            name: registry.compile(expr, with_alias_only=True)
            for name, expr in datagen.pattern_exprs().items()
        }
    )
    routed = df.join(datagen.routes_df(spark), "source").withColumn(
        "st", parse(F.col("pattern_name"), F.col("tokens"))
    )
    router_counts = {
        (r["route"], r["matched"]): r["count"]
        for r in routed.groupBy("route", F.col("st.fields").isNotNull().alias("matched"))
        .count()
        .collect()
    }
    assert kernel_counts == router_counts
    # the sample exercises the deep failures it is about
    assert router_counts[("web", False)] > 500
