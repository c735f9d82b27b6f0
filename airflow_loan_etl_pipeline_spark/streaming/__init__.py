"""Streaming package: the Structured Streaming operators (windows,
stateful, joins, admission) and file_source, the landing-folder
screen and processed-ids ledger of the drive tick (a driver-side batch
protocol, not a stream source).

One shared knob lives here: :func:`stream_state_partitions`.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def stream_state_partitions(spark: SparkSession, n: int = 8):
    """Scope ``spark.sql.shuffle.partitions`` down for a stateful
    streaming query start.

    Stateful operators disable AQE, so every shuffle partition becomes a
    STATE-STORE partition with real per-trigger fixed cost (provider
    init, snapshot, commit — measured 2x wall-clock going 32 → 4 on a
    small local batch). The count is frozen into the checkpoint at first
    start, so it must be chosen deliberately: small for local/test
    checkpoints, ~2-3x executor cores for a production cluster. The conf
    is restored on exit — batch queries in the same session keep their
    own parallelism.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
