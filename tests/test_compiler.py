"""Compile+match behavior parity — all reference behavior tests
transcribed (/root/reference/src/lib.rs:509-1001) plus golden-IR checks."""

from __future__ import annotations

from pathlib import Path

import pytest

from grokspark import (
    CompiledPatternIsEmpty,
    DefinitionNotFound,
    GrokRegistry,
)

# vendored copies of the reference's golden IR files, so the suite
# runs standalone; when the reference checkout is present the vendored
# bytes are themselves verified against it (test below)
GOLDEN_DIR = Path(__file__).parent / "golden"
REFERENCE_GOLDEN_DIR = Path("/root/reference/testdata")

MAC_PATTERNS = {
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    "CISCOMAC": r"(?:(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4})",
    "WINDOWSMAC": r"(?:(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2})",
    "COMMONMAC": r"(?:(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2})",
}

DATE_PATTERNS = {
    "YEAR": r"(\d\d){1,2}",
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "SPACE": r"\s*",
}


def test_simple_anonymous_pattern():
    g = GrokRegistry()
    g.add_pattern("USERNAME", r"[a-zA-Z0-9._-]+")
    p = g.compile("%{USERNAME}")
    m = p.match_against("root")
    assert m == {"USERNAME": "root"}
    m = p.match_against("john doe")
    assert m == {"USERNAME": "john"}


def test_from_iter_and_dict_construction():
    p = GrokRegistry.from_iter([("USERNAME", r"[a-zA-Z0-9._-]+")]).compile("%{USERNAME}")
    assert p.match_against("root") == {"USERNAME": "root"}
    p = GrokRegistry({"USERNAME": r"[a-zA-Z0-9._-]+"}).compile("%{USERNAME}")
    assert p.match_against("john doe") == {"USERNAME": "john"}


def test_simple_named_pattern():
    g = GrokRegistry({"USERNAME": r"[a-zA-Z0-9._-]+"})
    p = g.compile("%{USERNAME:usr}")
    assert p.match_against("root") == {"usr": "root"}
    assert p.match_against("john doe") == {"usr": "john"}


def test_alias_anonymous_pattern():
    g = GrokRegistry({"USERNAME": r"[a-zA-Z0-9._-]+", "USER": r"%{USERNAME}"})
    p = g.compile("%{USER}")
    assert p.match_against("root")["USER"] == "root"
    assert p.match_against("john doe")["USER"] == "john"


def test_alias_named_pattern():
    g = GrokRegistry({"USERNAME": r"[a-zA-Z0-9._-]+", "USER": r"%{USERNAME}"})
    p = g.compile("%{USER:usr}")
    assert p.match_against("root")["usr"] == "root"
    assert p.match_against("john doe")["usr"] == "john"


def test_composite_or_pattern():
    p = GrokRegistry(MAC_PATTERNS).compile("%{MAC}")
    m = p.match_against("5E:FF:56:A2:AF:15")
    assert m["MAC"] == "5E:FF:56:A2:AF:15"
    assert len(m) == 2  # MAC + COMMONMAC participate
    m = p.match_against("hello! 5E:FF:56:A2:AF:15 what?")
    assert m["MAC"] == "5E:FF:56:A2:AF:15"
    assert p.match_against("5E:FF") is None


def test_multiple_patterns():
    p = GrokRegistry(DATE_PATTERNS).compile("%{DAY} %{MONTH} %{YEAR}")
    assert p.capture_names == ["DAY", "MONTH", "YEAR"]
    m = p.match_against("Monday March 2012")
    assert m == {"DAY": "Monday", "MONTH": "March", "YEAR": "2012"}
    assert m.get("unknown") is None


def test_with_alias_only():
    p = GrokRegistry(MAC_PATTERNS).compile("%{MAC:macaddr}", with_alias_only=True)
    m = p.match_against("5E:FF:56:A2:AF:15")
    assert m == {"macaddr": "5E:FF:56:A2:AF:15"}
    m = p.match_against("hello! 5E:FF:56:A2:AF:15 what?")
    assert m == {"macaddr": "5E:FF:56:A2:AF:15"}
    assert p.match_against("5E:FF") is None


def test_match_iterator_semantics():
    p = GrokRegistry(DATE_PATTERNS).compile(
        "%{DAY:day} %{MONTH:month} %{YEAR:year}%{SPACE}%{USERNAME:user}?",
        with_alias_only=True,
    )
    m = p.match_against("Monday March 2012 user")
    assert m == {"day": "Monday", "month": "March", "year": "2012", "user": "user"}
    m = p.match_against("Monday March 2012 username")
    assert m["user"] == "username"
    # keys come out sorted (BTreeMap iteration order)
    assert list(m) == sorted(m)


def test_loaded_default_patterns():
    g = GrokRegistry.with_default_patterns()
    p = g.compile("%{DAY} %{MONTH} %{YEAR}")
    m = p.match_against("Monday March 2012")
    assert m["DAY"] == "Monday"
    assert m["MONTH"] == "March"
    assert m["YEAR"] == "2012"
    assert m.get("unknown") is None


def test_compilation_of_all_default_patterns():
    g = GrokRegistry.with_default_patterns()
    assert len(g.patterns) > 0
    errors = []
    for name in g.patterns:
        try:
            g.compile("%{" + name + "}")
        except Exception as e:  # noqa: BLE001
            errors.append((name, e))
    assert not errors, f"patterns failed to compile: {errors}"


def test_adhoc_pattern():
    p = GrokRegistry.with_default_patterns().compile(r"\[(?<threadname>[^\]]+)\]")
    m = p.match_against("[thread1]")
    assert m == {"threadname": "thread1"}


def test_adhoc_pattern_conflict_last_wins():
    p = GrokRegistry.with_default_patterns().compile(
        r"(?<capture>\w+) %{GREEDYDATA:capture}", with_alias_only=True
    )
    assert p.capture_names == ["capture"]
    m = p.match_against("word1 word2")
    assert m == {"capture": "word2"}


def test_capture_repeat_takes_last():
    p = GrokRegistry.with_default_patterns().compile(r"%{INT}{1,3}")
    m = p.match_against("+1+2+3")
    assert m["INT"] == "+3"


def test_pattern_with_inline_definition():
    p = GrokRegistry.with_default_patterns().compile(
        r"%{NEW_PATTERN:first=\w+} %{NEW_PATTERN:second}"
    )
    m = p.match_against("word1 word2")
    assert m["first"] == "word1"
    assert m["second"] == "word2"


def test_capture_names_sorted():
    p = GrokRegistry(DATE_PATTERNS).compile("%{YEAR}%{SPACE}%{USERNAME:user}?")
    assert p.capture_names == ["SPACE", "YEAR", "user"]


def test_capture_names_with_extract_type():
    g = GrokRegistry(
        {"USERNAME": r"[a-zA-Z0-9._-]+", "USER": r"%{USERNAME::text}"}
    )
    p = g.compile("%{USER:usr:text}", with_alias_only=True)
    assert p.capture_names == ["usr"]
    assert p.get_extract("usr") == "text"
    assert p.get_extract("USERNAME") is None
    assert p.get_extract("USER") is None
    assert p.get_extract("doesn't exist") is None
    # full mode also compiles
    g.compile("%{USER:usr:text}", with_alias_only=False)


def test_backtracking_blowup_is_no_match():
    p = GrokRegistry.with_default_patterns().compile("Path: %{PATH}$")
    line = "Path: /AAAAA/BBBBB/CCCCC/DDDDDDDDDDDDDD EEEEEEEEEEEEEEEEEEEEEEEE/"
    assert p.match_against(line) is None


def test_match_deep_patterns():
    p = GrokRegistry.with_default_patterns().compile("%{BACULA_LOGLINE}")
    names = p.capture_names
    assert len(names) == 163
    assert not any(n.startswith("name") for n in names)

    line = "03-Jan 11:22 HostName JobId 1234: Begin pruning Files."
    m = p.match_against(line)
    assert m["bts"] == "03-Jan 11:22"
    assert m["hostname"] == "HostName"
    assert m["jobid"] == "1234"
    assert m["BACULA_LOG_BEGIN_PRUNE_FILES"] == "Begin pruning Files."
    assert m["BACULA_LOGLINE"] == line
    assert m["MONTHDAY"] == "03"
    assert m["MONTH"] == "Jan"
    assert "BACULA_LOG_END_VOLUME" not in m
    assert len(m) == 9

    line2 = (
        '03-Feb 11:22 HostName JobId 1234: End of medium on Volume "Volume1" '
        "Bytes=1000000000 Blocks=1000000 at 01-Mar-2026 01:02."
    )
    m2 = p.match_against(line2)
    assert m2 is not None
    assert m2["volume"] == "Volume1"


@pytest.mark.parametrize(
    "expr,alias_only,golden",
    [
        ("%{BACULA_LOGLINE}", False, "BACULA_LOGLINE"),
        ("%{BACULA_LOGLINE}", True, "BACULA_LOGLINE.aliasesonly"),
        ("%{ELB_ACCESS_LOG}", False, "ELB_ACCESS_LOG"),
    ],
)
def test_compile_golden_ir(expr, alias_only, golden):
    """Compiled regex IR must equal the reference goldens byte-for-byte."""
    p = GrokRegistry.with_default_patterns().compile(expr, with_alias_only=alias_only)
    expected = (GOLDEN_DIR / golden).read_text()
    assert p.regex_src == expected


@pytest.mark.parametrize(
    "golden", ["BACULA_LOGLINE", "BACULA_LOGLINE.aliasesonly", "ELB_ACCESS_LOG"]
)
def test_vendored_goldens_match_reference(golden):
    """The vendored golden files must stay byte-equal to the reference
    checkout's (skipped when the reference isn't present)."""
    ref = REFERENCE_GOLDEN_DIR / golden
    if not ref.exists():
        pytest.skip("reference checkout not present")
    assert (GOLDEN_DIR / golden).read_bytes() == ref.read_bytes()


def test_empty_compile_error():
    with pytest.raises(CompiledPatternIsEmpty):
        GrokRegistry().compile("")


def test_unknown_definition_error():
    with pytest.raises(DefinitionNotFound):
        GrokRegistry().compile("%{NOSUCH}")


def test_duplicate_key_suffixing():
    g = GrokRegistry({"WORD": r"\w+"})
    p = g.compile("%{WORD} %{WORD} %{WORD}")
    assert p.capture_names == ["WORD", "WORD[1]", "WORD[2]"]
    m = p.match_against("a b c")
    assert m == {"WORD": "a", "WORD[1]": "b", "WORD[2]": "c"}


def test_extract_tags_drive_casting_metadata():
    g = GrokRegistry.with_default_patterns()
    p = g.compile("%{ELB_ACCESS_LOG}")
    # typed extracts from /root/reference/patterns/aws.pattern:11
    assert p.get_extract("clientport") == "int"
    assert p.get_extract("request_processing_time") == "float"


def test_compiled_pattern_is_picklable():
    import pickle

    p = GrokRegistry.with_default_patterns().compile("%{HTTPD_COMBINEDLOG}")
    p2 = pickle.loads(pickle.dumps(p))
    line = (
        '220.181.108.96 - - [13/Jun/2015:21:14:28 +0000] "GET /blog/ HTTP/1.1" '
        '200 10975 "-" "Mozilla/5.0"'
    )
    assert p2.match_against(line) == p.match_against(line)
    assert p2.match_against(line)["verb"] == "GET"


def test_engine_parity_sre_vs_regex():
    """The auto-selected engine must agree with the reference engine
    (regex module, which every timeout-bounded call runs) on every
    corpus line of every route pattern (match success AND every
    captured field), and number fields as the reference pattern's
    groupindex does (the numbering jvmgrok and the timeout path use)."""
    from grokspark.datagen import SOURCES, iter_rows

    g = GrokRegistry.with_default_patterns()
    compiled = {s: g.compile(e, True) for s, (_w, r, e) in SOURCES.items() if r}
    # bacula expands through UNIXPATH's [[:alnum:]] — POSIX classes are
    # Unicode-aware on the reference engine with NO exact sre
    # equivalent (verified exhaustively over all codepoints), so it
    # must stay on the regex engine
    flavors = {s: p.engine.flavor for s, p in compiled.items()}
    assert flavors.pop("bacula") == "regex"
    assert all(f == "sre" for f in flavors.values()), flavors
    for s, p in compiled.items():
        ref_names: dict[str, int] = {}
        for group_name, idx in p.engine.timeout_pattern().groupindex.items():
            key = p.aliases.get(group_name, group_name)
            ref_names[key] = max(idx, ref_names.get(key, idx))
        assert ref_names == p.engine.names, s

    checked = 0
    for row in iter_rows(1500):
        s = row["source"]
        if s not in compiled:
            continue
        line = bytes(row["tokens"]).decode()
        got = compiled[s].match_against(line)
        assert got == compiled[s].match_against(line, timeout=60.0), (s, line)
        checked += 1
    assert checked > 1000


def test_all_builtins_compile_under_auto_engine():
    """Every builtin compiles under the auto engine (sre fast path or
    regex fallback) and reports a flavor."""
    g = GrokRegistry.with_default_patterns()
    flavors = {"sre": 0, "regex": 0}
    for name in g.patterns:
        p = g.compile("%{" + name + "}")
        flavors[p.engine.flavor] += 1
    assert sum(flavors.values()) == len(g.patterns)
    # the overwhelming majority should take the fast path
    assert flavors["sre"] > 250, flavors


def test_matches_pattern_backreference():
    """match_against returns a Matches view that behaves as a plain
    dict AND carries the reference's Matches::pattern() back-reference
    (/root/reference/src/lib.rs:179)."""
    from grokspark import Matches

    g = GrokRegistry.with_default_patterns()
    p = g.compile("%{WORD:w} %{INT:n}")
    m = p.match_against("hello 42")
    assert isinstance(m, Matches)
    assert m == {"w": "hello", "n": "42"}  # dict equality unchanged
    assert m.pattern is p
    assert dict(m) == {"w": "hello", "n": "42"}
