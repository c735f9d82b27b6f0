"""Composed incremental telemetry pipeline: landed event files →
AvailableNow micro-batches → per-batch mergeable OHLC partials →
exactly-merged persistent bar state.

The production stage order mirrors the reference's poll → process →
persist chain (/root/reference/airflow/dags/
drive_auto_compress_email.py:161-339) rebuilt on Structured Streaming:
the checkpoint is the file ledger (ST2), each micro-batch folds into
the state table through the DECOMPOSABLE OHLC merge
(operators/timeseries.py ohlc_partial/merge_ohlc) — so a batch
boundary slicing through an hour bucket still yields bit-exact bars,
and history buckets are never recomputed from raw events. At 100 TB
the state table is |keys| x |buckets| rows (bounded), the only
corpus-sized work is each batch's own partial aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from airflow_loan_etl_pipeline_spark.operators.timeseries import (
    finalize_ohlc,
    merge_ohlc,
    ohlc_partial,
)
from airflow_loan_etl_pipeline_spark.sources.io import _restore_aside, _swap

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double"
)


def _has_state(state_dir: str) -> bool:
    return os.path.isdir(state_dir) and any(
        f.endswith(".parquet") for f in os.listdir(state_dir)
    )


def _applied_epoch(state_dir: str) -> int:
    marker = os.path.join(state_dir, "_epoch")
    if os.path.isfile(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    return -1


def fold_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
) -> bool:
    """Fold one micro-batch into the persistent OHLC state. Returns
    False (no-op) when the epoch was already applied.

    EXACTLY-ONCE under replay: foreachBatch is at-least-once — a crash
    between the state write and the checkpoint commit replays the same
    epoch, and re-merging a batch into state that already contains it
    double-counts. The fold therefore stamps the applied epoch into the
    state directory itself (``_epoch`` marker written into the staging
    dir BEFORE the atomic aside-rename swap): state + marker move as
    one unit, so a replayed epoch is detected and skipped no matter
    where the previous attempt died. The swap is sources/io.py
    ``_swap``, and a state left aside by a crash inside it is renamed
    back before the state is read, so the retry folds into it.
    (Spark ignores underscore-prefixed files in a parquet directory, so
    the marker rides inside the table.)
    """
    _restore_aside(state_dir)
    if _has_state(state_dir) and epoch_id <= _applied_epoch(state_dir):
        return False  # replayed epoch: already folded into state
    part = ohlc_partial(batch_df)
    if _has_state(state_dir):
        merged = merge_ohlc(spark.read.parquet(state_dir), part)
    else:
        merged = part
    staging = state_dir.rstrip("/") + ".__staging__"
    merged.write.mode("overwrite").parquet(staging)
    with open(os.path.join(staging, "_epoch"), "w") as fh:
        fh.write(str(epoch_id))
    _swap(staging, state_dir)
    return True


def run_telemetry_pipeline(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
):
    """Drain all landed CSV event files (AvailableNow) into the OHLC
    state table. Safe to re-run as new files land: the checkpoint
    skips already-ingested files; the merge is associative, so any
    batch slicing is equivalent to one big batch; :func:`fold_batch`
    makes each epoch idempotent under foreachBatch replay.

    Returns the terminated StreamingQuery so callers can read
    ``recentProgress`` — per-batch trigger→commit latency, which a
    latency-budget test gates (``max_files_per_trigger`` slices the
    drain into multiple micro-batches so there is a per-batch
    distribution to check)."""

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        fold_batch(spark, batch_df, epoch_id, state_dir)

    reader = spark.readStream.schema(EVENT_SCHEMA).option("header", True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.csv(landing_dir)
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return q


def read_bars(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read edge: the finalized OHLC bar table."""
    return finalize_ohlc(spark.read.parquet(state_dir))
