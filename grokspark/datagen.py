"""Deterministic synthetic tokenized-sequence corpus + routes dimension.

Input-table shape per BASELINE.json input_hint:
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``
with byte-level vocab (detokenize = UTF-8 decode, exact inverse of
encode).

Every row is a pure function of its index ``i`` (per-row
``random.Random`` seeded with a string — CPython seeds str via SHA-512,
so generation is process- and order-independent). That makes the
generator embarrassingly parallel: the Spark path renders rows inside
``mapInArrow`` over ``spark.range(n)`` with no driver bottleneck, and
the pure-Python path (tests, oracle counts) produces byte-identical
rows.

Corpus design (FIXTURES.md §1): 6 sources with a deliberately hot one
(apache_access ~70% of rows) to exercise salted repartitioning; ~5% of
lines per source are head-corrupted so the route's grok pattern cannot
match anywhere in the line (no-match semantics); one source
(debug_feed) is intentionally absent from the routes dim (unroutable /
left-anti path).
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Iterator, Optional

SEED = 42

# source -> (weight, route or None, grok expression)
APP_LOG_EXPR = (
    r"%{TIMESTAMP_ISO8601:timestamp} \[%{IPV4:ip}:%{WORD:environment}\] "
    r"%{LOGLEVEL:log_level} %{GREEDYDATA:message}"
)
SYSLOG_EXPR = r"%{SYSLOGBASE} %{GREEDYDATA:message}"

SOURCES: dict[str, tuple[float, Optional[str], str]] = {
    "apache_access": (0.70, "web", "%{HTTPD_COMBINEDLOG}"),
    "app_log": (0.10, "app", APP_LOG_EXPR),
    "elb": (0.08, "web", "%{ELB_ACCESS_LOG}"),
    "syslog": (0.07, "infra", SYSLOG_EXPR),
    "bacula": (0.04, "backup", "%{BACULA_LOGLINE}"),
    "debug_feed": (0.01, None, ""),  # no route entry -> unroutable
}

CORRUPT_FRACTION = 0.05

_SOURCE_NAMES = list(SOURCES)
_CUMWEIGHTS: list[float] = []
_acc = 0.0
for _name in _SOURCE_NAMES:
    _acc += SOURCES[_name][0]
    _CUMWEIGHTS.append(_acc)

_METHODS = ["GET", "POST", "PUT", "DELETE", "HEAD"]
_PATHS = [
    "/blog/index.html",
    "/api/v1/users",
    "/api/v1/orders?page=2",
    "/static/app.js",
    "/img/logo.png",
    "/checkout",
    "/search?q=spark",
]
_AGENTS = [
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/32.0.1700.107 Safari/537.36",
    "curl/8.5.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Safari/605.1.15",
    "python-requests/2.31",
]
_CODES = [200, 200, 200, 301, 404, 500]
_LEVELS = ["DEBUG", "INFO", "WARN", "ERROR"]
_ENVS = ["prd", "stg", "dev"]
_WORDS = "request handled queue flushed user login failed retry commit snapshot shard".split()
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_HOSTS = ["web01", "web02", "db01", "cache01", "worker07"]
_PROGS = ["sshd", "cron", "systemd", "nginx", "kernel"]


def _ip(rng: random.Random) -> str:
    return f"{rng.randint(1, 223)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"


def _apache_line(rng: random.Random) -> str:
    ts = (
        f"{rng.randint(1, 28):02d}/{rng.choice(_MONTHS)}/2015:"
        f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d} +0000"
    )
    return (
        f'{_ip(rng)} - - [{ts}] "{rng.choice(_METHODS)} {rng.choice(_PATHS)} HTTP/1.1" '
        f'{rng.choice(_CODES)} {rng.randint(100, 99999)} "-" "{rng.choice(_AGENTS)}"'
    )


def _app_log_line(rng: random.Random) -> str:
    ts = (
        f"2016-09-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
        f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    )
    msg = " ".join(rng.choices(_WORDS, k=rng.randint(3, 8)))
    return f"{ts} [{_ip(rng)}:{rng.choice(_ENVS)}] {rng.choice(_LEVELS)} {msg}"


def _bacula_line(rng: random.Random) -> str:
    ts = f"{rng.randint(1, 28):02d}-{rng.choice(_MONTHS)} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}"
    jobid = rng.randint(1, 99999)
    kind = rng.randrange(3)
    if kind == 0:
        tail = "Begin pruning Files."
    elif kind == 1:
        # BACULA_LOG_BEGIN_PRUNE_JOBS shape: "older than N month M days ."
        tail = f"Begin pruning Jobs older than {rng.randint(1, 12)} month {rng.randint(0, 30)} days ."
    else:
        tail = (
            f'End of medium on Volume "Vol{rng.randint(1, 99):04d}" '
            f"Bytes={rng.randint(10 ** 6, 10 ** 10)} Blocks={rng.randint(10 ** 3, 10 ** 6)} "
            f"at {rng.randint(1, 28):02d}-{rng.choice(_MONTHS)}-2015 "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}."
        )
    return f"{ts} backuphost JobId {jobid}: {tail}"


def _elb_line(rng: random.Random) -> str:
    ts = (
        f"2015-05-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
        f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}.{rng.randint(0, 999999):06d}Z"
    )
    return (
        f"{ts} my-loadbalancer {_ip(rng)}:{rng.randint(1024, 65535)} "
        f"{_ip(rng)}:{rng.choice([80, 443, 8080])} "
        f"{rng.random():.6f} {rng.random():.6f} {rng.random():.6f} "
        f"{rng.choice(_CODES)} {rng.choice(_CODES)} {rng.randint(0, 5000)} {rng.randint(100, 99999)} "
        f'"{rng.choice(_METHODS)} https://example.com:443{rng.choice(_PATHS)} HTTP/1.1"'
    )


def _syslog_line(rng: random.Random) -> str:
    ts = f"{rng.choice(_MONTHS)} {rng.randint(1, 28):2d} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    msg = " ".join(rng.choices(_WORDS, k=rng.randint(2, 6)))
    return f"{ts} {rng.choice(_HOSTS)} {rng.choice(_PROGS)}[{rng.randint(1, 65535)}]: {msg}"


def _debug_line(rng: random.Random) -> str:
    return f"dbg seq={rng.randint(0, 10 ** 9)} state={rng.choice(_WORDS)}"


_RENDERERS = {
    "apache_access": _apache_line,
    "app_log": _app_log_line,
    "bacula": _bacula_line,
    "elb": _elb_line,
    "syslog": _syslog_line,
    "debug_feed": _debug_line,
}


def source_for(i: int) -> str:
    """Deterministic skewed source assignment for row ``i``."""
    rng = random.Random(f"grokspark:{SEED}:src:{i}")
    u = rng.random()
    for name, cum in zip(_SOURCE_NAMES, _CUMWEIGHTS):
        if u < cum:
            return name
    return _SOURCE_NAMES[-1]


def line_for(i: int, source: Optional[str] = None) -> str:
    """Deterministic rendered log line for row ``i`` (possibly corrupted)."""
    if source is None:
        source = source_for(i)
    rng = random.Random(f"grokspark:{SEED}:line:{i}")
    line = _RENDERERS[source](rng)
    if rng.random() < CORRUPT_FRACTION:
        # Head-truncate: no route pattern can match anywhere in the rest.
        line = line[:10] + "~~"
    return line


def row_for(i: int) -> dict:
    """One sequences-table row: doc_id, tokens (byte vocab), n_tok, source."""
    source = source_for(i)
    line = line_for(i, source)
    tokens = list(line.encode("utf-8"))
    return {
        "doc_id": f"{source}-{i:08d}",
        "tokens": tokens,
        "n_tok": len(tokens),
        "source": source,
    }


def iter_rows(n: int, start: int = 0) -> Iterator[dict]:
    for i in range(start, start + n):
        yield row_for(i)


# ---------------------------------------------------------------------------
# Routes dimension (broadcast side)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Route:
    source: str
    route: str
    pattern_name: str
    sink_path: str


def routes_rows(sink_root: str = "sinks") -> list[dict]:
    """The small enrichment dim: source -> (route, pattern_name, sink).
    debug_feed is deliberately absent (unroutable path)."""
    rows = []
    for source, (_w, route, _expr) in SOURCES.items():
        if route is None:
            continue
        rows.append(
            {
                "source": source,
                "route": route,
                "pattern_name": f"pat_{source}",
                "sink_path": f"{sink_root}/{route}",
            }
        )
    return rows


def pattern_exprs() -> dict[str, str]:
    """pattern_name -> grok expression for each routed source."""
    return {
        f"pat_{source}": expr
        for source, (_w, route, expr) in SOURCES.items()
        if route is not None
    }


# ---------------------------------------------------------------------------
# Spark-side parallel generation
# ---------------------------------------------------------------------------

SEQUENCES_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string"
)


def sequences_df(spark, n: int, partitions: Optional[int] = None, start: int = 0):
    """Generate the sequences table distributed: every executor renders
    its own row range (row = pure function of index, no shuffle, no
    driver materialization). ``start`` offsets the index range —
    disjoint ranges yield disjoint doc_ids (streaming-soak batches)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    # scale-adaptive default: at least ~12.5k rows per task so the
    # per-task Arrow/python overhead amortizes on small tables (100k
    # rows over 32 tiny files measured 1.22 s for the parse headline
    # vs 0.98 s over 8), capped at the core count so big tables keep
    # full width (1M rows -> unchanged 32)
    num_parts = partitions or min(
        spark.sparkContext.defaultParallelism, max(4, n // 12_500)
    )

    schema = to_arrow_schema(StructType.fromDDL(SEQUENCES_SCHEMA))

    def gen(batches):
        for batch in batches:
            rows = [row_for(i) for i in batch.column("id").to_pylist()]
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return (
        spark.range(start, start + n, numPartitions=num_parts)
        .mapInArrow(gen, SEQUENCES_SCHEMA)
    )


def local_dim(spark, rows, schema):
    """A small driver-side table as a ``LocalRelation``.

    ``spark.createDataFrame(list)`` plans as a ``LogicalRDD`` over a
    Python RDD, so every query that reads it (a broadcast build side
    included) starts a Python-worker job first. An Arrow table becomes
    a ``LocalRelation`` that the JVM serves from the plan itself.
    ``rows`` are dicts keyed by column name or tuples in schema order;
    ``schema`` is a ``StructType`` or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    names = schema.names
    records = [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def routes_dim(spark, rows: list[dict]):
    """The routes dimension for ``rows`` (dicts, e.g. ``routes_rows()``)
    as a ``LocalRelation``. Its schema is the one
    ``spark.createDataFrame(rows)`` would infer — names, order and types,
    so a key that first appears in a later row still comes last — and
    join outputs and sink files keep their layout."""
    return local_dim(spark, rows, spark._inferSchemaFromList(rows))


def routes_df(spark, sink_root: str = "sinks"):
    return routes_dim(spark, routes_rows(sink_root))
