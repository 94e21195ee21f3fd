"""Additional native file formats: ORC, line-text, binary blobs.

Widens the S-family (SURVEY §2.1) beyond CSV/Parquet/JSONL with the
remaining formats a large-scale corpus pipeline ingests:

- ORC: the other columnar format with footer statistics; Spark's native
  reader pushes predicates and prunes columns exactly as for parquet.
- line text: raw ``.txt`` corpora, one row per line (or per file with
  ``whole_files=True``) with file provenance for traceability.
- binaryFile: opaque image/audio/video payloads + metadata — the scan
  side of the multimodal operators (`operators/multimodal.py`).

Avro is not offered: the reference never reads or writes it, and Spark
reads it only through the separate spark-avro datasource jar.

Scale notes: binaryFile scans put whole blobs in rows — cap
``spark.sql.files.maxPartitionBytes`` (or pass ``path_glob``) so a
partition holds a bounded number of blobs; never follow with a wide
shuffle carrying the content column (project metadata first, join
content back by path only where decoded).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """ORC sink (native). Same one-task-per-directory repartitioning as
    the parquet sink when partitioned."""
    w = df
    if partition_cols:
        w = w.repartition(*[F.col(c) for c in partition_cols])
    writer = w.write.mode(mode).option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def read_orc_pruned(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
    predicate=None,
) -> DataFrame:
    """ORC scan with pushdown: Catalyst pushes `predicate` into the ORC
    reader (searchable-argument / footer-stat skipping) and prunes
    columns — `.explain` shows PushedFilters / ReadSchema, same contract
    as `parquet_io.read_parquet_pruned`."""
    df = spark.read.orc(path)
    if predicate is not None:
        df = df.filter(predicate)
    if columns is not None:
        df = df.select(*columns)
    return df


def read_text_lines(
    spark: SparkSession,
    path: str,
    whole_files: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Raw-text source: one row per line (default) or per file
    (``whole_files=True``), as ``(path, value)`` — file provenance
    travels with every row so downstream filters/dedup can report which
    source file a document came from."""
    # NB: pass wholetext/lineSep as text() parameters — the generic
    # .option() path is not picked up by the text source in Spark 4
    df = spark.read.text(path, wholetext=whole_files, lineSep=line_sep)
    return df.select(F.input_file_name().alias("path"), F.col("value"))


def read_binary_files(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Binary-blob source for multimodal payloads: Spark's `binaryFile`
    format yields (path, modificationTime, length, content). This is the
    ingest side of `operators/multimodal.py` — pair it with
    `media_table` / `extract_media_features` downstream.

    ``max_bytes`` filters on the LENGTH metadata column, which prunes
    before content is materialized into the row."""
    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= F.lit(max_bytes))
    return df
