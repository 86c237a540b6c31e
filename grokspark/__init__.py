"""grokspark — a PySpark-native grok log parse → enrich → route → aggregate engine.

Built from scratch against the behavior of the Rust ``grok`` crate
(reference at /root/reference, mmastrac/grok v2.4.1), re-expressed
Spark-first: the grok→regex compiler runs on the driver, matching runs
vectorized inside Arrow-native UDF kernels on executors, and the
surrounding dataflow (enrich join, skew-salted repartition, fan-out
sinks, aggregate counts, lineage, resume) is plain Catalyst-optimized
DataFrame code.

Layers:
- ``grokspark.pattern_parser`` — %{name:alias:extract=defn} lexer
- ``grokspark.compiler``       — pattern registry + grok→regex compiler
- ``grokspark.udfs``           — Arrow-native parse kernels
- ``grokspark.pipeline``       — the north-rule parse→enrich→route→aggregate job
- ``grokspark.datagen``        — deterministic synthetic sequences/routes tables
- ``grokspark.operators``      — training-data ops (dedup, ANN, quality, ...)
"""

from grokspark.compiler import (
    CompiledPattern,
    CompiledPatternIsEmpty,
    DefinitionNotFound,
    GenericCompilationFailure,
    GrokError,
    GrokRegistry,
    Matches,
    RecursionTooDeep,
    RegexCompilationFailed,
)
from grokspark.pattern_parser import (
    GrokPatternError,
    InvalidCharacter,
    InvalidPattern,
    InvalidPatternDefinition,
    grok_split,
)
from grokspark.patterns import default_patterns

__version__ = "0.1.0"

__all__ = [
    "CompiledPattern",
    "CompiledPatternIsEmpty",
    "DefinitionNotFound",
    "GenericCompilationFailure",
    "GrokError",
    "GrokRegistry",
    "GrokPatternError",
    "InvalidCharacter",
    "InvalidPattern",
    "InvalidPatternDefinition",
    "Matches",
    "RecursionTooDeep",
    "RegexCompilationFailed",
    "default_patterns",
    "grok_split",
]
