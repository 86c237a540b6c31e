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

    Encoding runs vectorized in mapInPandas (one Arrow pass, pandas
    column ops — no per-row Python loop; the same place a real
    tokenizer would run). ``source`` is a fixed label; if None, each
    row gets its file's basename sans extension.

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

    import pandas as pd

    if id_mode not in ("content", "split"):
        raise ValueError(f"id_mode must be 'content' or 'split', got {id_mode!r}")
    lines = spark.read.text(path).withColumn("_file", F.input_file_name())
    fixed_source = source

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        offset = 0
        for pdf in batches:
            values = pdf["value"].fillna("")
            encoded = values.str.encode("utf-8")
            basenames = pdf["_file"].map(os.path.basename)
            if id_mode == "content":
                keys = (basenames + "\x00" + values).str.encode("utf-8")
                ids = basenames.str.cat(
                    keys.map(lambda b: hashlib.sha1(b).hexdigest()), sep="#"
                )
            else:
                idx = pd.RangeIndex(offset, offset + len(pdf))
                ids = basenames.str.cat(
                    pd.Series(f"{pid}-" + idx.astype(str), index=pdf.index), sep="#"
                )
                offset += len(pdf)
            if fixed_source is not None:
                sources = pd.Series(fixed_source, index=pdf.index)
            else:
                sources = basenames.str.rsplit(".", n=1).str[0]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "tokens": encoded.map(list),
                    "n_tok": encoded.str.len().astype("int32"),
                    "source": sources,
                }
            )

    return lines.mapInPandas(
        encode, schema="doc_id string, tokens array<int>, n_tok int, source string"
    )
