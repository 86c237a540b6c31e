"""Input/output source abstraction: Iceberg tables when a catalog is
configured, parquet paths otherwise.

The north rule targets Iceberg-backed sequence tables. This sandbox has
no Iceberg runtime jars, so the Iceberg branch is exercised only for
its plumbing (format detection, option passing) and documented; the
parquet branch is the tested fallback. On a real cluster:

  spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
    --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
    --conf spark.sql.catalog.lake.type=rest ...

and pass ``lake.db.sequences`` as the table. Reads then get partition
pruning + min/max file skipping from Iceberg metadata for free (the
`source` filter and `n_tok` ranges both prune), and sink commits map to
atomic Iceberg snapshot appends with counts available from snapshot
summary metadata (no file re-reads).
"""

from __future__ import annotations

from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "is_table_identifier",
    "read_sequences",
    "read_raw_lines",
]


def is_table_identifier(location: str) -> bool:
    """Catalog table identifier (db.table / cat.db.table) vs filesystem
    path."""
    return "/" not in location and not location.startswith(("file:", "s3:", "hdfs:"))


def read_sequences(spark: SparkSession, location: str) -> DataFrame:
    """Read the tokenized-sequence table from an Iceberg table
    identifier or a parquet path."""
    if is_table_identifier(location):
        return spark.read.table(location)
    return spark.read.parquet(location)


def read_raw_lines(
    spark: SparkSession,
    path: str,
    source: Optional[str] = None,
    id_mode: str = "split",
) -> DataFrame:
    """Ingest adapter: raw text log files -> the tokenized-sequence
    table shape ``(doc_id, tokens: array<int>, n_tok, source)`` the
    whole pipeline consumes. This is how a user of the reference
    library (who has plain ``*.log`` files, not pre-tokenized tables)
    plugs straight into grokspark.

    Encoding runs in one mapInArrow stage (each Arrow batch crosses
    into Python and back once; the same place a real tokenizer would
    run). ``source`` is a fixed label; if None, each row gets its
    file's basename sans extension.

    ``id_mode`` picks the doc_id scheme:

    - ``"split"`` (default): ``<basename>#<partition>-<offset>`` —
      positionally unique (repeated identical lines stay distinct
      rows) and its numeric suffix feeds the streaming module's
      event-time derivation; deterministic only for a fixed file set
      AND split plan (line offsets are per input split, which Spark
      derives from file sizes).
    - ``"content"``: ``<basename>#<sha1(basename + line)>`` — stable
      across input split plans, so re-ingesting the same files after a
      file-size/config change (which re-splits them) yields identical
      ids and doc_id-keyed dedup/resume downstream keeps working. Two
      caveats make it OPT-IN: byte-identical duplicate lines in the
      same file coalesce to one id (same content, one document — wrong
      for e.g. repeated heartbeat events), and the hex suffix is not
      an index (streaming event-time derivation would yield NULL)."""
    import hashlib
    import os

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from grokspark.datagen import SEQUENCES_SCHEMA

    if id_mode not in ("content", "split"):
        raise ValueError(f"id_mode must be 'content' or 'split', got {id_mode!r}")
    lines = spark.read.text(path).withColumn("_file", F.input_file_name())
    schema = to_arrow_schema(StructType.fromDDL(SEQUENCES_SCHEMA))

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        offset = 0
        for batch in batches:
            values = [v or "" for v in batch.column("value").to_pylist()]
            names = [os.path.basename(f) for f in batch.column("_file").to_pylist()]
            if id_mode == "content":
                ids = [
                    f"{b}#" + hashlib.sha1((b + v).encode("utf-8")).hexdigest()
                    for b, v in zip(names, values)
                ]
            else:
                ids = [f"{b}#{pid}-{offset + j}" for j, b in enumerate(names)]
                offset += len(values)
            tokens = [list(v.encode("utf-8")) for v in values]
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": ids,
                    "tokens": tokens,
                    "n_tok": [len(t) for t in tokens],
                    "source": [
                        b.rsplit(".", 1)[0] if source is None else source
                        for b in names
                    ],
                },
                schema=schema,
            )

    return lines.mapInArrow(encode, SEQUENCES_SCHEMA)
