"""Incremental file ingestion (SURVEY.md §2.9 ST1-ST6).

The reference hand-rolls a micro-batch file stream: a per-minute cron
poll, a persisted JSON ledger of processed file IDs, and a 60-second
minimum file age so in-flight uploads aren't consumed
(/root/reference/airflow/dags/drive_auto_compress_email.py:582, :85-111,
:71, :227-236). This module is the one place that decides which landed
files are new: :func:`settled_files` lists the folder (F2/F4) and
:func:`screen` removes the names already processed (F3, :184, :207) —
the reference's own Python set difference, on the driver, no Spark job.

- The drive tick, the Airflow task bodies and :func:`incremental_batch`
  screen against a ledger of processed ids: one parquet file replaced
  atomically (:func:`update_ledger`), committed only after the batch's
  sinks succeed, so every file lands in exactly one committed batch.
- The ``file_listing`` streaming source (sources/drive_source.py)
  screens against the names in its checkpointed offset (ST2).
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

_EXT_MIME = {
    ".csv": "text/csv",
    ".json": "application/json",
    ".parquet": "application/vnd.apache.parquet",
    ".txt": "text/plain",
    ".gz": "application/gzip",
}


def _mime_of(name: str) -> str:
    return _EXT_MIME.get(os.path.splitext(name)[1].lower(), "application/octet-stream")


def settled_files(
    input_dir: str,
    prefix: str = "",
    min_age_seconds: float = 60.0,
    now: float | None = None,
    mime: str | None = "text/csv",
) -> list[tuple[str, str, float]]:
    """F2/F4: ``(file_id, path, mtime)`` of the regular files in
    ``input_dir`` that pass the name-prefix and MIME predicates
    (``mime=None``: any type) and the settle-age gate (reference
    MIN_FILE_AGE_SECONDS, drive_auto_compress_email.py:71, :227-236;
    ``float("-inf")``: no gate), sorted by name. Plain driver-side
    metadata: no Spark job."""
    now = time.time() if now is None else now
    out = []
    if os.path.isdir(input_dir):
        for name in sorted(os.listdir(input_dir)):
            path = os.path.join(input_dir, name)
            if (
                name.startswith(prefix)
                and (mime is None or _mime_of(name) == mime)
                and os.path.isfile(path)
            ):
                mtime = os.path.getmtime(path)
                if now - mtime >= min_age_seconds:
                    out.append((name, path, mtime))
    return out


def screen(
    input_dir: str,
    processed: set[str],
    prefix: str = "",
    min_age_seconds: float = 60.0,
    now: float | None = None,
    mime: str | None = "text/csv",
) -> list[tuple[str, str, float]]:
    """The :func:`settled_files` triples whose name is not in
    ``processed``: the files a tick or micro-batch has to take."""
    return [
        f
        for f in settled_files(input_dir, prefix, min_age_seconds, now, mime)
        if f[0] not in processed
    ]


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
    fresh = screen(input_dir, load_ledger(ledger_path), prefix, min_age_seconds)
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
