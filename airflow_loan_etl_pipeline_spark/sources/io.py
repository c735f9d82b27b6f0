"""The CSV source and the parquet sink (SURVEY.md §2.1: S1, S3, K1/K2).

Reference behaviors re-expressed Spark-first:

- S1  CSV scan (reference loan_spark_etl.py:152-155) with a header row
  over a directory, a glob or an explicit path list; the union of the
  files is the implicit UNION ALL (SET1). The schema is explicit
  (schemas.py) instead of ``inferSchema=True``, which double-scans the
  input. The reference's LEGACY lenient timestamp parsing
  (loan_spark_etl.py:42) is a per-read CSV option, not a session conf.
- S3  empty probe: ``df.isEmpty()`` — the reference hops through
  ``df.rdd.isEmpty()`` (loan_spark_etl.py:157) which forces an RDD
  conversion; the native form short-circuits on the first partition.
- K1/K2 parquet sinks that overwrite (loan_spark_etl.py:178-184).
- K5  object-store paths: the reader and the writer accept any
  Hadoop-filesystem URI (``s3a://bucket/prefix``, ``gs://``,
  ``abfss://``); the executors read and write the store directly.
  Credentials and endpoint come from the ``spark.hadoop.fs.s3a.*``
  confs (session.object_store_conf).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


_GLOB_CHAR = re.compile(r"[\\\[\]{}*?]")


def read_csv_dir(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read every CSV under ``path`` (glob union, SET1; also accepts an
    explicit path list) with a header row. A path string may be a glob;
    the entries of a list are literal files, so a file named
    ``loan_[1].csv`` is read as itself (Spark globs every path it is
    given, so their glob characters are escaped).

    Malformed rows: PERMISSIVE mode (cells that fail the schema become
    NULL instead of killing a 100 TB job at row 40-billion-and-one).
    With ``keep_corrupt=True`` the raw text of each bad row is preserved
    in ``_corrupt_record`` for a quarantine sink — the defensive-ingest
    behavior the reference approximates with column-existence guards
    (loan_spark_etl.py:77, :105).
    """
    reader = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        # Reference pins spark.sql.legacy.timeParserPolicy=LEGACY globally
        # (loan_spark_etl.py:42); scoping leniency to CSV parse options
        # keeps the rest of the engine on the CORRECTED parser.
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    )
    if keep_corrupt:
        schema = T.StructType(
            [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
        )
        reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
    if not isinstance(path, str):
        path = [_GLOB_CHAR.sub(r"\\\g<0>", p) for p in path]
    return reader.schema(schema).csv(path)


def is_empty(df: DataFrame) -> bool:
    """S3 empty-input probe without the reference's RDD hop."""
    return df.isEmpty()


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """K1/K2 parquet sink: overwrite ``path``, one file per task, the
    default codec."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
