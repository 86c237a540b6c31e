"""SparkSession construction tuned for this engine.

Local mode is the test/bench harness; the same settings apply on a real
cluster via spark-submit conf. The knobs that matter at 100 TB:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow enabled with a bounded batch size so one pathological
  GREEDYDATA line cannot blow up a Python-worker batch,
- shuffle partitions sized to cores locally (the cluster value is set
  by the submitter, typically 2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ARROW_BATCH_ROWS"]

# Rows per Arrow batch crossing the JVM<->Python boundary. 10k keeps
# per-batch memory modest even with multi-KB log lines (10k * 4KB = 40MB)
# while amortizing the per-batch serde overhead.
ARROW_BATCH_ROWS = 10_000


def get_spark(
    app_name: str = "grokspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession, or return the active one unchanged.

    ``cores=None`` uses ``local[*]``. On a cluster, master/deploy flags
    come from spark-submit and this builder only layers SQL conf. An
    active session is returned as is and every argument is ignored:
    ``builder.getOrCreate()`` would apply this builder's SQL conf (e.g.
    ``spark.sql.shuffle.partitions``) to the session its owner built.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cores_env) if cores_env else 0
    master = f"local[{cores}]" if cores and cores > 0 else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores and cores > 0 else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.ui.enabled", "false")
        # keep scan parallelism >= cores on small local inputs; a real
        # cluster scan uses the format's split planning (128MB default)
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
