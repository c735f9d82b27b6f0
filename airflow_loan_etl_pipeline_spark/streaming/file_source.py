"""Incremental file ingestion (SURVEY.md §2.9 ST1, ST2).

The reference hand-rolls a micro-batch file stream: a per-minute cron
poll, a persisted JSON ledger of processed file IDs, and a 60-second
minimum file age so in-flight uploads aren't consumed
(/root/reference/airflow/dags/drive_auto_compress_email.py:582, :85-111,
:71, :227-236). This module is the one place that decides which landed
files are new: :func:`screen` lists the folder (F2/F4) and removes
the names already processed (F3, :184, :207) — the reference's own
Python set difference, on the driver, no Spark job.

The ledger of processed ids is the engine's only exactly-once
protocol. The drive tick and the Airflow task bodies screen against it
and commit a batch with :func:`commit_ledger`, one parquet file
replaced atomically, only after the batch's sinks succeed, so every
file lands in exactly one committed batch. The ledger holds names: a
file rewritten under a ledgered name is not new, and the next data
tick's totals read its current content.

Each ledger row may also carry a cached per-file state: the ``size``
and ``mtime_ns`` that :func:`file_stat` took before the file was read,
plus whatever partial columns the caller stores
(plans/drive_pipeline's loan partials). The state commits in the same
``os.replace`` as the ids. A row whose state is null (committed by
name only, or by a ledger written before the state columns existed)
or whose stat no longer matches is read again by the next data tick.
"""

from __future__ import annotations

import os
import stat
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def screen(
    input_dir: str,
    processed: set[str],
    prefix: str = "",
    min_age_seconds: float = 60.0,
    now: float | None = None,
) -> list[tuple[str, str, float]]:
    """F2-F4: ``(file_id, path, mtime)`` of the files a tick has to
    take, sorted by name: the regular ``.csv`` files (suffix in any
    case) in ``input_dir`` whose name starts with ``prefix`` and is not
    in ``processed``, past the settle-age gate (reference
    MIN_FILE_AGE_SECONDS, drive_auto_compress_email.py:71, :227-236).
    A name starting with ``_`` or ``.`` is skipped: Spark's reader
    treats it as hidden and reads no row of it, even by explicit path.
    Plain driver-side metadata: no Spark job."""
    now = time.time() if now is None else now
    out = []
    if os.path.isdir(input_dir):
        for name in sorted(os.listdir(input_dir)):
            path = os.path.join(input_dir, name)
            if (
                name.startswith(prefix)
                and not name.startswith(("_", "."))
                and name.lower().endswith(".csv")
                and name not in processed
                and os.path.isfile(path)
            ):
                mtime = os.path.getmtime(path)
                if now - mtime >= min_age_seconds:
                    out.append((name, path, mtime))
    return out


def file_stat(path: str) -> tuple[int, int] | None:
    """``(size, mtime_ns)`` of the regular file at ``path``; None when
    there is none (deleted, or not a regular file)."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return (st.st_size, st.st_mtime_ns) if stat.S_ISREG(st.st_mode) else None


def load_ledger(ledger_path: str) -> set[str]:
    """ST2: the processed file ids (empty when the ledger is absent).
    Reads the ``file_id`` column alone, whatever state the rows carry.
    A ``ledger.tmp`` left by a crashed commit is never read: that
    commit did not happen."""
    if not os.path.exists(ledger_path):
        return set()
    with pq.ParquetFile(ledger_path) as f:
        return set(f.read(columns=["file_id"])["file_id"].to_pylist())


def read_ledger(ledger_path: str) -> pa.Table | None:
    """The whole ledger, one row per processed id with its state
    columns (None when the ledger is absent). A ledger written before
    the state columns existed has only ``file_id`` and
    ``processed_at``."""
    return pq.read_table(ledger_path) if os.path.exists(ledger_path) else None


def commit_ledger(
    ledger_path: str, ids: list[str], state: pa.Table | None = None
) -> None:
    """Add ``ids`` to the ledger and store ``state`` (a table keyed by
    ``file_id``, ids already ledgered or in ``ids``) over the state of
    its rows; every other row keeps what it had, and a new id without
    a state row gets a null state. The ledger is ONE parquet file
    replaced atomically: the merged table is written to
    ``ledger.tmp``, fsynced, ``os.replace``d onto ``ledger`` and the
    directory fsynced, so a crash at any point leaves either the old
    ledger or the new one, never neither. ``processed_at`` is the
    commit that first took the id; later commits keep it."""
    old = read_ledger(ledger_path)
    stamps = {}
    if old is not None:
        stamps = dict(zip(old["file_id"].to_pylist(), old["processed_at"].to_pylist()))
    now = datetime.now(timezone.utc)
    for i in ids:
        stamps.setdefault(i, now)
    order = sorted(stamps)
    table = pa.table(
        {
            "file_id": pa.array(order, pa.string()),
            "processed_at": pa.array(
                [stamps[i] for i in order], pa.timestamp("us", tz="UTC")
            ),
        }
    )
    # state rows: the old ledger's, then ``state``'s, the last one of
    # each id winning
    parts = []
    if old is not None and old.num_columns > 2:
        parts.append(old.drop_columns(["processed_at"]))
    if state is not None:
        parts.append(state)
    if parts:
        schema = parts[-1].schema
        rows = pa.concat_tables([p.cast(schema) for p in parts])
        where = {fid: n for n, fid in enumerate(rows["file_id"].to_pylist())}
        rows = rows.drop_columns(["file_id"]).take(
            pa.array([where.get(i) for i in order], pa.int64())
        )
        for name, column in zip(rows.column_names, rows.columns):
            table = table.append_column(name, column)
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


def update_ledger(
    spark: SparkSession, ledger_path: str, processed: DataFrame
) -> None:
    """Commit the ``file_id`` column of ``processed`` to the ledger by
    name (idempotent): :func:`commit_ledger` with no state, so new ids
    are read at the next data tick."""
    commit_ledger(ledger_path, [r["file_id"] for r in processed.select("file_id").collect()])
