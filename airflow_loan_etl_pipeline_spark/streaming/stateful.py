"""Arbitrary stateful streaming operators (SURVEY.md §2.9 extension).

The reference's only state is the processed-file ledger (ST2,
/root/reference/airflow/dags/drive_auto_compress_email.py:85-111) —
per-KEY running state has no analogue there, but it is the building
block every training-data pipeline needs (per-user counters, dedup
state, quota tracking). Implemented the idiomatic Spark way:
``applyInPandasWithState`` — state lives in the executor's state store,
keyed and partitioned by the grouping key, checkpointed with the query;
Arrow batches keep the Python hop vectorized.

At scale: state is hash-partitioned by key across executors; the state
store (RocksDB in prod configs) spills off-heap, so per-key running
aggregates shuffle each micro-batch ONCE on the key and touch only the
keys present in that batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
STATE_SCHEMA = "n bigint, total double"


def _running_totals_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one user into (count, sum) state and
    emit the updated running totals."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) over a stream of (ts, user_id,
    value) events; one updated row per user per micro-batch.

    Works on both streaming and batch frames (batch = a single "batch"
    fold, which equals a plain groupBy — handy for differential tests).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def production_state_store_confs() -> dict[str, str]:
    """Production state-store configuration for large-state streaming.

    The default HDFS-backed provider keeps every key IN EXECUTOR HEAP —
    fine for the fixture-scale tests, fatal for 100 TB-scale state
    (billions of keys: GC pauses, then OOM). RocksDB keeps state
    off-heap on local SSD with block-cache reads:

    - providerClass: swap the store implementation (bundled with Spark,
      no extra jars).
    - changelogCheckpointing: upload only the per-batch CHANGELOG to the
      checkpoint location instead of full RocksDB snapshots — turns
      checkpoint cost O(state size) into O(batch delta).
    - compactOnCommit stays default (background compaction); unsafe row
      format stays default.

    Set these BEFORE starting the query; a query's provider cannot
    change across restarts of the same checkpoint.
    """
    return {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
            "true",
    }

