"""Grok → regex compiler and compiled-pattern matching.

Driver-side: :class:`GrokRegistry` holds name → grok-pattern-string
definitions and compiles a grok expression into a single flat regex with
synthetic unique capture-group names plus an alias map — the same
observable IR as the reference compiler (algorithm behavior of
/root/reference/src/lib.rs:307-404, golden-checked byte-for-byte against
/root/reference/testdata/*).

Executor-side: :class:`CompiledPattern` is a small picklable spec
``(regex_src, aliases, extracts)``; the actual third-party ``regex``
pattern object is compiled lazily once per Python worker and cached.

Semantics preserved from the reference (each covered by tests):
- every expanded placeholder becomes a uniquely named group ``_n_<i>``
  with an alias-map entry to its user-visible key (alias if present,
  else pattern name);
- alias-only mode turns unaliased placeholders into ``(?:`` groups;
- duplicate keys get ``KEY[1]``, ``KEY[2]``… suffixes
  (/root/reference/src/lib.rs:361-374);
- when several groups resolve to the same final key, the
  highest-numbered group wins (/root/reference/src/onig.rs:23-32);
- inline definitions ``%{NAME:alias=defn}`` are scoped to the frame that
  declared them (/root/reference/src/lib.rs:334-345);
- expansion depth is capped at 1024 (/root/reference/src/lib.rs:223);
- whole-text match is an unanchored leftmost search; per-field access
  returns None for non-participating groups, and iteration yields only
  participating groups in sorted key order.
"""

from __future__ import annotations

import re as _sre
from dataclasses import dataclass, field
from typing import Iterable, Iterator, Optional

import regex as _regex

from grokspark.pattern_parser import (
    GrokPattern,
    GrokPatternError,
    RegularExpression,
    grok_split,
)
from grokspark.patterns import default_patterns

__all__ = [
    "MAX_RECURSION",
    "GrokError",
    "RecursionTooDeep",
    "CompiledPatternIsEmpty",
    "DefinitionNotFound",
    "RegexCompilationFailed",
    "GenericCompilationFailure",
    "CompiledPattern",
    "Matches",
    "GrokRegistry",
]

MAX_RECURSION = 1024


class GrokError(Exception):
    """Base class for grok compilation errors."""


class RecursionTooDeep(GrokError):
    def __init__(self) -> None:
        super().__init__(f"recursion while compiling reached the limit of {MAX_RECURSION}")


class CompiledPatternIsEmpty(GrokError):
    def __init__(self, pattern: str) -> None:
        super().__init__(f"pattern {pattern!r} compiled into an empty regex")
        self.pattern = pattern


class DefinitionNotFound(GrokError):
    def __init__(self, name: str) -> None:
        super().__init__(f"pattern definition {name!r} not found in the registry")
        self.name = name


class RegexCompilationFailed(GrokError):
    def __init__(self, detail: str) -> None:
        super().__init__(f"regex compilation failed: {detail}")


class GenericCompilationFailure(GrokError):
    pass


# ---------------------------------------------------------------------------
# Compiled pattern (picklable spec + lazy engine compile)
# ---------------------------------------------------------------------------

# Per-process cache of engine-compiled patterns keyed by
# (regex source, alias map) — the same regex source can carry different
# alias maps. On Spark executors each Python worker compiles each
# distinct pattern once and reuses it across all Arrow batches.
_ENGINE_CACHE: dict[tuple, "_EnginePattern"] = {}

# Engine selection. The third-party ``regex`` module is the reference
# engine (full dialect: atomic groups, POSIX classes, lookaround,
# per-call timeout). CPython >= 3.11's built-in ``re`` (sre) supports
# atomic groups + lookbehind too and measures ~2.5x faster on the log
# patterns, so it is the preferred hot-path engine when the pattern
# compiles on it after mechanical dialect translation. POSIX bracket
# classes ``[[:alpha:]]`` have UNICODE semantics on the reference
# engine and would compile on sre either as a silently-wrong nested
# set or (if translated to ASCII ranges) with silently-narrower
# matches on non-ASCII text — so any POSIX class inside a bracket
# expression forces the regex-engine fallback (only 1 of the 320
# builtins uses one).
#
# Callers that only need match/no-match (the counts kernel) search a
# match-only twin instead: ``_capture_free`` turns every capture group of
# the IR into ``(?:`` — the builtins carry up to 250 groups even in
# alias-only mode, because their bodies have bare ``(...)`` — and the
# twin compiles on the engine the full pattern got. The rewrite is
# refused, and the full pattern searched, when the IR has a
# backreference, a conditional, or a recursion or subroutine call.
# Under a timeout the kernel searches ``timeout_pattern()``, like the
# router. The IR itself (golden files, ``regex_src``) never changes.


class _NotSreExpressible(Exception):
    """The pattern needs the reference ``regex`` engine (e.g. POSIX
    bracket classes, whose Unicode semantics sre cannot reproduce)."""


# What follows an unescaped ``(`` outside a bracket expression: a named
# head with its name (``(?<name>``, ``(?P<name>``, ``(?'name'``), a
# two-char kind (``(?<=``, ``(?<!``, ``(?P=``, ``(?P>``), a numbered or
# relative call (``(?1``, ``(?-1``), any other ``(?`` + one char
# (``(?:``, ``(?>``, ``(?(``, ``(?R``, ``(?i``, ...), a backtracking
# verb (``(*FAIL)``, ``(*SKIP)``, ...: ``(*``), or nothing (a bare
# capture group).
_GROUP_HEAD = _sre.compile(
    r"\((?:\?(?:P?<(?![=!])\w+>|'\w+'|P[=>]|<[=!]|[+-]?\d|.)|\*)?", _sre.DOTALL
)


def _ir_tokens(regex_src: str) -> Iterator[tuple[str, str]]:
    """The one scanner of the reference-dialect IR: a single pass that
    tracks escapes and bracket-class state and yields ``(kind, text)``
    pieces that concatenate back to ``regex_src``:

    - ``"escape"``: a backslash and the char it escapes;
    - ``"posix"``: a POSIX class ``[:name:]`` inside a bracket expression;
    - ``"group"``: a group head outside any bracket expression (see
      ``_GROUP_HEAD``);
    - ``"char"``: any other single char.

    So literal occurrences of group syntax keep their reference
    (``regex``-module) semantics: ``[(?<]`` is a class of those four
    literals, and a bare ``[:digit:]`` outside any enclosing class is a
    set of the literal chars ``:digt`` (the regex module only treats
    POSIX classes specially *inside* a set)."""
    i, n = 0, len(regex_src)
    in_class = False
    while i < n:
        c = regex_src[i]
        if c == "\\" and i + 1 < n:
            yield "escape", regex_src[i : i + 2]
            i += 2
            continue
        if in_class:
            if c == "[" and regex_src.startswith("[:", i):
                end = regex_src.find(":]", i + 2)
                if end != -1:
                    yield "posix", regex_src[i : end + 2]
                    i = end + 2
                    continue
            if c == "]":
                in_class = False
            yield "char", c
            i += 1
            continue
        if c == "[":
            in_class = True
            yield "char", c
            i += 1
            # leading ^ negation, then a literal ] immediately after the
            # opener (or after ^) is part of the class, not its end
            if i < n and regex_src[i] == "^":
                yield "char", "^"
                i += 1
            if i < n and regex_src[i] == "]":
                yield "char", "]"
                i += 1
            continue
        if c == "(":
            head = _GROUP_HEAD.match(regex_src, i).group()
            yield "group", head
            i += len(head)
            continue
        yield "char", c
        i += 1


def _to_sre_source(regex_src: str) -> str:
    """Translate the compiler's IR dialect to stdlib-re syntax:
    ``(?<name>`` -> ``(?P<name>``, preserving lookbehinds. Raises
    :class:`_NotSreExpressible` for POSIX classes inside a bracket
    expression — their reference semantics are Unicode-aware
    (``[[:alpha:]]`` matches 'é'), which no mechanical sre rewrite can
    reproduce, so those patterns stay on the regex engine. Context-aware
    through ``_ir_tokens``."""
    out: list[str] = []
    for kind, text in _ir_tokens(regex_src):
        if kind == "posix":
            # [[:alpha:]], [[:^digit:]], ... — Unicode-aware on the
            # reference engine; not sre-expressible
            raise _NotSreExpressible(text)
        if kind == "group" and text.startswith("(?<") and text not in ("(?<=", "(?<!"):
            text = "(?P<" + text[3:]
        out.append(text)
    return "".join(out)


# a named capture head, name included
_NAMED_HEAD = _sre.compile(r"\(\?(?:P?<\w+>|'\w+')")
# group heads whose meaning depends on what a group captured or on
# group numbering: conditionals, recursion and subroutine calls, and
# the named backreference
_CAPTURE_DEPENDENT_HEADS = ("(?(", "(?R", "(?&", "(?P>", "(?P=")


def _capture_free(regex_src: str) -> Optional[str]:
    """The match-only rewrite of a reference-dialect IR: every named
    head (``(?<name>``, ``(?P<name>``, ``(?'name'``) and every bare
    capture ``(`` becomes ``(?:``; lookaround, atomic, non-capturing
    and inline-flag heads, backtracking verbs (``(*FAIL)``, ...), and
    everything inside a bracket expression, stay as they are. Without captures the engine records no group
    spans, yet the pattern matches exactly the texts the full one does.

    That holds only while nothing reads a capture back, so the rewrite
    is refused (``None``) when the source has a backreference (``\\1``
    to ``\\9``, ``\\g``, ``\\k``, ``(?P=``), a conditional ``(?(``, or a
    recursion or subroutine call (``(?R)``, ``(?1)``, ``(?&``,
    ``(?P>``)."""
    out: list[str] = []
    for kind, text in _ir_tokens(regex_src):
        if kind == "escape" and text[1] in "123456789gk":
            return None
        if kind == "group":
            if text == "(" or _NAMED_HEAD.fullmatch(text):
                text = "(?:"
            elif text.startswith(_CAPTURE_DEPENDENT_HEADS) or text[-1].isdigit():
                return None
        out.append(text)
    return "".join(out)


def _sre_compile(regex_src: str):
    """The sre pattern of a reference-dialect IR (raises when the IR is
    not sre-expressible)."""
    import warnings

    with warnings.catch_warnings():
        # literal '[' inside classes triggers a benign
        # "possible nested set" FutureWarning
        warnings.simplefilter("ignore", FutureWarning)
        return _sre.compile(_to_sre_source(regex_src))


@dataclass(frozen=True)
class _EnginePattern:
    pattern: object  # compiled sre or regex-module pattern
    flavor: str  # "sre" | "regex"
    # final user-visible key -> capture group index (duplicates resolved
    # to the highest group index, reference rule)
    names: dict[str, int]
    sorted_names: tuple[str, ...]
    indices: tuple[int, ...]  # group indices aligned with sorted_names
    regex_src: str = ""  # compiler IR source (reference dialect)
    # the reference engine pattern (regex module), compiled on demand
    # when a per-call timeout is requested (sre has no timeout support)
    ref_pattern: object = field(default=None, init=False)
    # the match-only twin (``_capture_free`` of ``regex_src``) for
    # callers that need only match/no-match, compiled on first use on
    # this pattern's engine
    match_only: object = field(default=None, init=False)

    def timeout_pattern(self):
        """The engine pattern whose ``search`` accepts ``timeout=``.
        Always the ``regex``-module pattern — sre has no timeout support
        — compiled lazily here when the sre fast path skipped it at
        engine-compile time."""
        if self.flavor == "regex":
            return self.pattern
        if self.ref_pattern is None:
            object.__setattr__(self, "ref_pattern", _regex.compile(self.regex_src))
        return self.ref_pattern

    def match_only_pattern(self):
        """A pattern that matches exactly the texts ``pattern`` matches,
        with no capture groups where ``_capture_free`` allows the
        rewrite (else ``pattern`` itself), on ``pattern``'s engine. A
        rewrite the engine will not compile also falls back to
        ``pattern``: the twin may only ever be faster, never fail."""
        if self.match_only is None:
            src = _capture_free(self.regex_src)
            pat = self.pattern
            if src is not None:
                try:
                    if self.flavor == "sre":
                        pat = _sre_compile(src)
                    else:
                        pat = _regex.compile(src)
                except Exception:  # noqa: BLE001 — keep the full pattern
                    pass
            object.__setattr__(self, "match_only", pat)
        return self.match_only


def _compile_preferred(regex_src: str):
    """Compile on the fastest engine whose semantics hold; returns
    (compiled, flavor): sre when the pattern is expressible in it,
    otherwise ``regex``. The reference engine pattern is never compiled
    eagerly — ``timeout_pattern()`` compiles it lazily on the first
    timeout-bounded call (most workloads never pay for both engines)."""
    try:
        return _sre_compile(regex_src), "sre"
    except Exception:  # noqa: BLE001 — dialect not sre-expressible
        pass
    return _regex.compile(regex_src), "regex"


def _engine_compile(regex_src: str, aliases: dict[str, str]) -> _EnginePattern:
    cache_key = (regex_src, tuple(sorted(aliases.items())))
    cached = _ENGINE_CACHE.get(cache_key)
    if cached is not None:
        return cached
    try:
        pat, flavor = _compile_preferred(regex_src)
    except Exception as e:  # noqa: BLE001 — regex raises plain error types
        raise RegexCompilationFailed(f"{e}:\n{regex_src}") from e
    names: dict[str, int] = {}
    for group_name, idx in pat.groupindex.items():
        key = aliases.get(group_name, group_name)
        prev = names.get(key)
        if prev is None or idx > prev:
            names[key] = idx
    sorted_names = tuple(sorted(names))
    engine = _EnginePattern(
        pattern=pat,
        flavor=flavor,
        names=names,
        sorted_names=sorted_names,
        indices=tuple(names[k] for k in sorted_names),
        regex_src=regex_src,
    )
    _ENGINE_CACHE[cache_key] = engine
    return engine


def _validate_timeout(timeout: Optional[float]) -> Optional[float]:
    """The one timeout rule of every search and kernel factory, so
    ``timeout=0`` cannot mean 'no timeout' on one path and 'instant
    TimeoutError' on another — positive seconds or None, no third
    meaning."""
    if timeout is not None and timeout <= 0:
        raise ValueError(f"timeout must be positive seconds or None, got {timeout}")
    return timeout


class Matches(dict):
    """The reference's ``Matches`` view (/root/reference/src/lib.rs:115):
    a plain dict of participating captures (sorted key order) that also
    remembers which pattern produced it — ``Matches::pattern()``
    (lib.rs:179) maps to the ``.pattern`` property. Equality, iteration
    and serialization are inherited from dict, so downstream code (and
    the Arrow kernels) treat it as a normal mapping."""

    __slots__ = ("_pattern",)

    def __init__(self, values, pattern: "CompiledPattern") -> None:
        super().__init__(values)
        self._pattern = pattern

    @property
    def pattern(self) -> "CompiledPattern":
        return self._pattern


@dataclass
class CompiledPattern:
    """A compiled grok expression: picklable spec, lazily engine-compiled.

    ``regex_src`` uses ``(?<name>`` group syntax (accepted by the
    third-party ``regex`` module), matching the reference IR goldens
    byte-for-byte.
    """

    regex_src: str
    aliases: dict[str, str]  # synthetic group name -> user-visible key
    extracts: dict[str, str]  # user-visible key -> extract type tag

    _engine: Optional[_EnginePattern] = field(
        default=None, repr=False, compare=False
    )

    def __getstate__(self):  # keep the spec picklable; drop engine state
        return (self.regex_src, self.aliases, self.extracts)

    def __setstate__(self, state):
        self.regex_src, self.aliases, self.extracts = state
        self._engine = None

    @property
    def engine(self) -> _EnginePattern:
        if self._engine is None:
            self._engine = _engine_compile(self.regex_src, self.aliases)
        return self._engine

    @property
    def capture_names(self) -> list[str]:
        """All user-visible capture keys, sorted (reference: BTreeMap order)."""
        return list(self.engine.sorted_names)

    def get_extract(self, name: str) -> Optional[str]:
        """The extract type tag recorded for ``name``, if any."""
        return self.extracts.get(name)

    def search(self, text: str, timeout: Optional[float] = None):
        """Raw engine search (leftmost, unanchored). Returns a regex
        match object or None. A timeout routes through the reference
        ``regex`` engine (sre has no per-call timeout)."""
        if _validate_timeout(timeout) is not None:
            return self.engine.timeout_pattern().search(text, timeout=timeout)
        return self.engine.pattern.search(text)

    def match_against(self, text: str, timeout: Optional[float] = None) -> Optional["Matches"]:
        """Match and return a ``Matches`` dict of ``{key: value}`` for
        participating captures only (sorted key order), or None if the
        text does not match at all. This is the reference
        `Matches.iter()` view; ``result.pattern`` is the reference's
        ``Matches::pattern()`` back-reference. A per-row timeout expiry
        is treated as no-match (use ``search`` directly to observe the
        raised ``TimeoutError``)."""
        try:
            m = self.search(text, timeout=timeout)
        except TimeoutError:
            return None
        if m is None:
            return None
        eng = self.engine
        out = Matches((), self)
        values = m.group(*eng.indices) if eng.indices else ()
        if len(eng.indices) == 1:
            values = (values,)
        for key, value in zip(eng.sorted_names, values):
            if value is not None:
                out[key] = value
        return out

    def match_get(self, text: str, name: str) -> Optional[str]:
        """Single-field access: value of ``name`` if the text matches and
        the group participated, else None."""
        m = self.search(text)
        if m is None:
            return None
        idx = self.engine.names.get(name)
        if idx is None:
            return None
        return m.group(idx)


# ---------------------------------------------------------------------------
# Registry + compiler
# ---------------------------------------------------------------------------


class GrokRegistry:
    """A name → grok-pattern-string registry with a grok→regex compiler."""

    def __init__(self, patterns: Optional[dict[str, str]] = None) -> None:
        self.patterns: dict[str, str] = dict(patterns) if patterns else {}

    # -- construction -------------------------------------------------

    @classmethod
    def empty(cls) -> "GrokRegistry":
        return cls()

    @classmethod
    def with_default_patterns(cls) -> "GrokRegistry":
        """Registry preloaded with the 320 vendored builtins."""
        return cls(default_patterns())

    @classmethod
    def from_iter(cls, pairs: Iterable[tuple[str, str]]) -> "GrokRegistry":
        reg = cls()
        for name, pattern in pairs:
            reg.add_pattern(name, pattern)
        return reg

    def add_pattern(self, name: str, pattern: str) -> None:
        """Insert or overwrite a pattern definition."""
        self.patterns[name] = pattern

    def __contains__(self, name: str) -> bool:
        return name in self.patterns

    def __len__(self) -> int:
        return len(self.patterns)

    # -- compilation ---------------------------------------------------

    def compile(self, pattern: str, with_alias_only: bool = False) -> CompiledPattern:
        """Compile a grok expression to a ready-to-match CompiledPattern.

        ``with_alias_only=True`` keeps only explicitly aliased
        placeholders as captures (narrower output schema, cheaper
        bookkeeping — the pipeline default).
        """
        regex_src, aliases, extracts = self._compile_regex(pattern, with_alias_only)
        if not regex_src:
            raise CompiledPatternIsEmpty(pattern)
        compiled = CompiledPattern(regex_src, aliases, extracts)
        compiled.engine  # force engine compile now so errors surface here
        return compiled

    def _compile_regex(
        self, pattern: str, with_alias_only: bool
    ) -> tuple[str, dict[str, str], dict[str, str]]:
        """Expand all placeholders into one flat regex.

        Iterative DFS over lexer frames. Each frame is the component
        stream of one pattern body plus the inline-definition overrides
        declared *within that body* (visible to later placeholders of
        the same body only). Every frame contributes a closing ``)``
        when exhausted; the outermost frame's closer is dropped at the
        end, mirroring the reference's emit discipline so the golden IR
        files compare byte-equal.
        """
        out: list[str] = []
        aliases: dict[str, str] = {}
        key_counts: dict[str, int] = {}
        extracts: dict[str, str] = {}

        Frame = tuple[Iterator, dict[str, str]]
        stack: list[Frame] = [(grok_split(pattern), {})]
        index = 0

        while stack:
            it, overrides = stack[-1]
            try:
                comp = next(it, None)
            except GrokPatternError as e:
                raise GenericCompilationFailure(str(e)) from e
            if comp is None:
                stack.pop()
                out.append(")")
                continue

            if isinstance(comp, RegularExpression):
                out.append(comp.string)
            elif isinstance(comp, GrokPattern):
                if comp.definition:
                    # Inline definition: register in the *current* frame's
                    # scope, then expand its body.
                    overrides[comp.name] = comp.definition
                    stack.append((grok_split(comp.definition), {}))
                elif comp.name in overrides:
                    stack.append((grok_split(overrides[comp.name]), {}))
                else:
                    body = self.patterns.get(comp.name)
                    if body is None:
                        raise DefinitionNotFound(comp.name)
                    stack.append((grok_split(body), {}))

                if with_alias_only and not comp.alias:
                    out.append("(?:")
                else:
                    group = f"_n_{index}"
                    index += 1
                    orig_key = comp.alias or comp.name
                    count = key_counts.get(orig_key, 0)
                    key = orig_key if count == 0 else f"{orig_key}[{count}]"
                    key_counts[orig_key] = count + 1
                    if count > 0 and key in key_counts:
                        raise GenericCompilationFailure(f"alias {key} already exists")
                    if comp.extract:
                        extracts[key] = comp.extract
                    aliases[group] = key
                    out.append(f"(?<{group}>")

            if len(stack) > MAX_RECURSION:
                raise RecursionTooDeep()

        regex_src = "".join(out)
        # drop the outermost frame's closing paren
        return regex_src[:-1], aliases, extracts
