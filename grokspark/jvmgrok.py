"""JVM-native grok fast path: run eligible compiled patterns entirely
inside Spark's built-in regex expressions — zero Python workers, full
whole-stage codegen (the optional fast path SURVEY.md §2.3/§4 reserves
for patterns that need no reference-engine-only features).

Eligibility
-----------
The compiled IR (``CompiledPattern.regex_src``, byte-equal to the Rust
reference goldens) uses Oniguruma syntax. java.util.regex accepts the
same constructs the log-pattern library actually emits — atomic groups
``(?>...)``, possessive quantifiers, lookaround, ``(?<name>...)``
groups — with two exceptions this module guards:

- POSIX bracket classes ``[[:alpha:]]`` (Java spells them ``\\p{Alpha}``
  and the reference semantics are Unicode-aware — the same reason those
  patterns are pinned to the ``regex`` engine Python-side; see
  CLAUDE.md). Only BACULA/UNIXPATH among the builtins use them.
- group NAMES: Java requires ``[a-zA-Z][a-zA-Z0-9]*`` but the IR's
  synthetic names (``_n_0``) and dedup names (``KEY[1]``) are illegal.
  Names are STRIPPED — every ``(?<name>(`` open becomes a bare capture
  ``(`` — and fields are addressed by GROUP NUMBER instead. Numbering
  is taken from the Python engine's authoritative ``groupindex`` (names
  and bare captures share one positional numbering, so stripping names
  preserves every index).

Semantics deltas vs the Python kernel (documented, test-pinned):

- a named group that does NOT participate in a match extracts as ``''``
  on the JVM (``regexp_extract``'s contract) where the kernel omits the
  key. Project only fields that always participate on match (true for
  the routed queries' fields; the parity test asserts the exact
  behavior on the corpus).
- Java ``\\d \\s \\w \\b`` are ASCII; Python's are Unicode. Identical on
  ASCII log corpora — the cross-engine gate query hashes would scream
  otherwise.
- ``detokenize_col`` renders tokens JVM-side via code points, correct
  for ASCII payloads only (multi-byte UTF-8 needs the Arrow kernel).

Duplicate-name semantics (#16 max-index-wins) carry over for free: the
field->index map reuses the engine's resolution.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from grokspark.compiler import CompiledPattern

__all__ = [
    "java_compatible",
    "java_source",
    "field_index_map",
    "jvm_match_col",
    "jvm_field_col",
    "detokenize_col",
]

# constructs java.util.regex lacks or redefines; conservative rejects
_FORBIDDEN = ("[[:", "(?P", r"\g<", "(?R", "(?0", r"\Z")


def java_compatible(regex_src: str) -> bool:
    """True when the compiled source runs identically on
    java.util.regex (see module doc for the guarded deltas)."""
    return not any(tok in regex_src for tok in _FORBIDDEN)


# (java_source, field->index) per compiled spec, cached per process —
# the same discipline as the compiler's engine cache
_JVM_CACHE: dict[tuple, tuple[str, dict[str, int]]] = {}


def _jvm_info(compiled: CompiledPattern) -> tuple[str, dict[str, int]]:
    """Group numbering comes from the REFERENCE engine's parse of the
    ORIGINAL IR (``regex.compile(...).groupindex``) — never from the
    sre fast path, whose mechanically-translated source is not
    guaranteed to share group positions. Alias resolution and
    duplicate-capture max-index-wins mirror the kernel's rule."""
    key = (compiled.regex_src, tuple(sorted(compiled.aliases.items())))
    hit = _JVM_CACHE.get(key)
    if hit is not None:
        return hit
    if not java_compatible(compiled.regex_src):
        raise ValueError(
            "pattern needs reference-engine features (POSIX classes etc.) "
            "and cannot run on the JVM fast path"
        )
    import regex as _regex

    pat = _regex.compile(compiled.regex_src)
    names: dict[str, int] = {}
    for gname, idx in pat.groupindex.items():
        key2 = compiled.aliases.get(gname, gname)
        prev = names.get(key2)
        if prev is None or idx > prev:
            names[key2] = idx
    src = compiled.regex_src
    for gname in pat.groupindex:
        src = src.replace(f"(?<{gname}>", "(")
    out = (src, names)
    _JVM_CACHE[key] = out
    return out


def java_source(compiled: CompiledPattern) -> str:
    """The IR with every named-group open stripped to a bare capture —
    numbering-preserving, Java-legal."""
    return _jvm_info(compiled)[0]


def field_index_map(compiled: CompiledPattern) -> dict[str, int]:
    """user-visible field -> Java group number (reference-engine
    groupindex, alias-resolved, max-index-wins)."""
    return dict(_jvm_info(compiled)[1])


def jvm_match_col(compiled: CompiledPattern, line: Column) -> Column:
    """Boolean leftmost-unanchored match, JVM-side (``RLIKE``)."""
    return line.rlike(java_source(compiled))


def jvm_field_col(
    compiled: CompiledPattern, line: Column, field: str
) -> Column:
    """One field's extracted value via ``regexp_extract`` (group
    number). ``''`` when the pattern does not match OR the group does
    not participate — pair with ``jvm_match_col`` to distinguish the
    former."""
    src, names = _jvm_info(compiled)
    idx = names.get(field)
    if idx is None:
        raise KeyError(f"field {field!r} not captured by this pattern")
    return F.regexp_extract(line, src, idx)


def detokenize_col(tokens: Column) -> Column:
    """JVM-side detokenize for ASCII token streams: each int is a code
    point (== its UTF-8 byte for ASCII). Keeps the whole plan
    Python-free; non-ASCII corpora must use the Arrow kernels
    (udfs.grok_parse_router_udf)."""
    return F.array_join(F.transform(tokens, lambda t: F.char(t)), "")
