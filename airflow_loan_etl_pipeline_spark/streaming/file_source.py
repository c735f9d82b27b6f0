"""Incremental file ingestion (SURVEY.md §2.9 ST1-ST6).

The reference hand-rolls a micro-batch file stream: a per-minute cron
poll, a persisted JSON ledger of processed file IDs, and a 60-second
minimum file age so in-flight uploads aren't consumed
(/root/reference/airflow/dags/drive_auto_compress_email.py:582, :85-111,
:71, :227-236). Those are exactly the semantics of Spark Structured
Streaming's file source, so the idiomatic rebuild is:

- **Streaming mode** (`stream_csv_dir`): `readStream` + checkpoint. The
  checkpointed seen-files log IS the ledger (ST2); `Trigger.AvailableNow`
  IS the cron poll that drains everything then stops (ST1);
  `maxFileAge` / modifiedAfter options handle the settle window (ST3).
- **Batch-incremental mode** (`incremental_batch`, and the drive tick
  in plans/drive_pipeline.py): the screen is the reference's own
  Python set difference — settled listing (F2/F4, :227-236) minus a
  small ledger of processed ids (F3, :184, :207) — run on the driver
  with no Spark job. The ledger is one parquet file replaced
  atomically (`update_ledger`), committed only after the batch's
  sinks succeed, so every file lands in exactly one committed batch.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_loan_etl_pipeline_spark.sources.drive_source import _mime_of


def stream_csv_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """ST1/ST2: streaming scan of a CSV landing directory. Pair with
    ``.writeStream.option("checkpointLocation", ...)`` — the checkpoint
    replaces the reference's JSON ledger."""
    reader = spark.readStream.schema(schema).option("header", True)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def settled_files(
    input_dir: str,
    prefix: str = "",
    min_age_seconds: float = 60.0,
    now: float | None = None,
    mime: str = "text/csv",
) -> list[tuple[str, str, float]]:
    """F2/F4: ``(file_id, path, mtime)`` of the regular files in
    ``input_dir`` that pass the name-prefix and MIME predicates and the
    settle-age gate (reference MIN_FILE_AGE_SECONDS,
    drive_auto_compress_email.py:71, :227-236), sorted by name. Plain
    driver-side metadata: no Spark job."""
    now = time.time() if now is None else now
    out = []
    if os.path.isdir(input_dir):
        for name in sorted(os.listdir(input_dir)):
            path = os.path.join(input_dir, name)
            if name.startswith(prefix) and _mime_of(name) == mime and os.path.isfile(path):
                mtime = os.path.getmtime(path)
                if now - mtime >= min_age_seconds:
                    out.append((name, path, mtime))
    return out


def load_ledger(ledger_path: str) -> set[str]:
    """ST2: the processed file ids (empty when the ledger is absent).
    A ``ledger.tmp`` left by a crashed :func:`update_ledger` is never
    read: that update did not commit."""
    if not os.path.exists(ledger_path):
        return set()
    return set(pq.read_table(ledger_path, columns=["file_id"])["file_id"].to_pylist())


def update_ledger(
    spark: SparkSession, ledger_path: str, processed: DataFrame
) -> None:
    """Commit the ``file_id`` column of ``processed`` to the ledger
    (idempotent). The ledger is ONE parquet file (``file_id``,
    ``processed_at``) replaced atomically: the merged set is written
    to ``ledger.tmp``, fsynced, ``os.replace``d onto ``ledger`` and the
    directory fsynced, so a crash at any point leaves either the old
    ledger or the new one, never neither."""
    ids = load_ledger(ledger_path)
    ids |= {r["file_id"] for r in processed.select("file_id").collect()}
    stamp = datetime.now(timezone.utc)
    table = pa.table(
        {
            "file_id": pa.array(sorted(ids), pa.string()),
            "processed_at": pa.array([stamp] * len(ids), pa.timestamp("us", tz="UTC")),
        }
    )
    ledger_dir = os.path.dirname(os.path.abspath(ledger_path))
    os.makedirs(ledger_dir, exist_ok=True)
    tmp = ledger_path + ".tmp"
    with open(tmp, "wb") as f:
        pq.write_table(table, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, ledger_path)
    fd = os.open(ledger_dir, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def incremental_batch(
    spark: SparkSession,
    input_dir: str,
    ledger_path: str,
    schema: T.StructType,
    prefix: str = "",
    min_age_seconds: float = 0.0,
) -> tuple[DataFrame | None, DataFrame]:
    """One exactly-once micro-batch over a landing directory.

    Returns ``(data, processed_files)`` where ``data`` is the union of
    the not-yet-processed, settled files (None if none). Caller commits
    the batch by passing ``processed_files`` to :func:`update_ledger`
    AFTER its sinks succeed — same commit ordering as the reference
    (process first, persist ledger last,
    drive_auto_compress_email.py:312, :336).
    """
    ledger = load_ledger(ledger_path)
    fresh = [
        f
        for f in settled_files(input_dir, prefix, min_age_seconds)
        if f[0] not in ledger
    ]
    processed = spark.createDataFrame(
        fresh, "file_id string, path string, mtime double"
    )
    if not fresh:
        return None, processed
    data = (
        spark.read.schema(schema)
        .option("header", True)
        .csv([path for _id, path, _mtime in fresh])
        .withColumn("_source_file", F.input_file_name())
    )
    return data, processed
