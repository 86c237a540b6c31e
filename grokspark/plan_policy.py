"""Plan policy: the one home of the decisions that move rows between
tasks — ``spread`` before a map stage, ``broadcast`` before a join. A
bare ``F.broadcast`` forces a broadcast even past (or with -1 in)
``spark.sql.autoBroadcastJoinThreshold``, so the hint is given only
while a counted row total is within a bound; joins with no count to
gate on carry no hint and the threshold decides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# input-size floor for spreads guarding byte-cheap map work (see
# spread's min_bytes doc)
SPREAD_MIN_BYTES = 4 * 1024 * 1024

# Broadcast bounds of both near-dup queries, checked against counts of
# the checkpointed tables. Precheck tables are ~80 B/doc (~400 MB at
# the doc bound); the verify side carries a ~600 B gram-hash array per
# surviving pair, and survivors can grow quadratically in a dup-heavy
# corpus, so it has its own bound. Past either, shuffle joins.
BROADCAST_MAX_DOCS = 5_000_000
BROADCAST_MAX_PAIRS = 500_000

# Broadcast bound of the narrow key tables that are small by contract
# (benchmark grams, query terms, heavy-hitter candidates): tens of
# bytes per row, so tens of MB at the bound. Their inputs may carry no
# size estimate (a Python-RDD frame plans at Long.MaxValue bytes), so
# Spark's threshold alone would shuffle them.
BROADCAST_MAX_KEYS = 1_000_000


def spread(df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """Spread a per-row expression stage across the full core pool: a
    small local input (one parquet split) would otherwise evaluate the
    whole map stage — the n-gram shingle expression is the dominant
    cost of the MinHash path, measured ~6 s single-core at sf0.1 — on
    one core. No-op when the input already has >= defaultParallelism
    partitions, which is always true at real scale (scan splits >>
    cores), so no shuffle is added on a cluster.

    ``min_bytes``: only spread when the optimizer's input size
    estimate reaches this many bytes. For operators whose per-row work
    is CHEAP relative to bytes (a split+count, one md5), the spread's
    shuffle costs more than single-core execution saves on tiny local
    inputs (measured: heavy_hitters at sf0.1 0.72 s plain vs 1.19 s
    spread, but 2.40 s plain vs 1.64 s spread at sf1.0 — the
    crossover sits around a few MB). Expression-heavy operators
    (MinHash shingles, rolling hashes, salted-md5 buckets) keep the
    default 0 = always spread. An unknown estimate (e.g. a
    localCheckpointed input) spreads — matching prior behavior."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    if min_bytes:
        try:
            est = int(
                str(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
            if est < min_bytes:
                return df
        except Exception:
            pass
    return df.repartition(p)


def broadcast(df: DataFrame, rows: int, max_rows: int) -> DataFrame:
    """``df`` hinted as a broadcast join side while its counted
    ``rows`` are within ``max_rows``; past that, ``df`` unhinted, so
    the join shuffles unless Spark's own threshold broadcasts it."""
    return F.broadcast(df) if rows <= max_rows else df
