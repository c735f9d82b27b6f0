"""Arbitrary stateful streaming: applyInPandasWithState carries per-key
state ACROSS micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark.streaming.stateful import (
    running_user_totals,
)

SCHEMA = "ts timestamp, user_id long, value double"


def _write_batch(spark, path: str, rows: list[tuple[str, int, float]]) -> None:
    df = spark.createDataFrame(rows, "ts string, user_id long, value double")
    df.withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_running_totals_state_across_batches(spark, tmp_path):
    """Two source files + maxFilesPerTrigger=1 → two micro-batches; the
    second batch's emission must include the first batch's state (the
    whole point of the state store)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, [("2024-01-01 00:00:10", 1, 10.0),
                              ("2024-01-01 00:00:20", 2, 1.0)])
    _write_batch(spark, src, [("2024-01-01 00:01:10", 1, 5.0)])

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM running_totals").collect()
    # update-mode memory sink keeps every emission: user 1 appears once
    # per batch; its LAST emission folds both batches.
    user1 = [(r["n_events"], r["total_value"]) for r in rows if r["user_id"] == 1]
    assert (2, 15.0) in user1, rows
    assert (1, 1.0) in [
        (r["n_events"], r["total_value"]) for r in rows if r["user_id"] == 2
    ]
    # ≥2 emissions for user 1 proves two separate micro-batches ran.
    assert len(user1) == 2, rows


def test_running_totals_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stop the query, land a new file, restart with the SAME checkpoint:
    state must resume (not recount old files)."""
    src = str(tmp_path / "src2")
    ckpt = str(tmp_path / "ckpt2")
    _write_batch(spark, src, [("2024-01-01 00:00:10", 7, 2.0)])

    def run_once():
        # memory sink can't recover from a checkpoint; foreachBatch can.
        emitted = []
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    first = run_once()
    assert [(r["n_events"], r["total_value"]) for r in first] == [(1, 2.0)]

    _write_batch(spark, src, [("2024-01-01 00:05:00", 7, 3.0)])
    second = run_once()
    # Only the new file is processed; totals continue from checkpointed state.
    assert [(r["n_events"], r["total_value"]) for r in second] == [(2, 5.0)]


def test_running_totals_on_rocksdb_state_store(spark, tmp_path):
    """Same stateful fold on the RocksDB provider (the 100 TB-state
    configuration): results identical to the HDFS-backed default, and
    the query's state-operator metrics prove RocksDB actually engaged."""
    from airflow_loan_etl_pipeline_spark.streaming.stateful import (
        production_state_store_confs,
    )

    src = str(tmp_path / "src_rocks")
    ckpt = str(tmp_path / "ckpt_rocks")
    _write_batch(spark, src, [("2024-01-01 00:00:10", 1, 10.0),
                              ("2024-01-01 00:00:20", 2, 1.0)])
    _write_batch(spark, src, [("2024-01-01 00:01:10", 1, 5.0)])

    saved = {
        k: spark.conf.get(k, None)
        for k in production_state_store_confs()
    }
    for k, v in production_state_store_confs().items():
        spark.conf.set(k, v)
    try:
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("running_totals_rocks")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progress = q.lastProgress
        rows = spark.sql("SELECT * FROM running_totals_rocks").collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    user1 = [
        (r["n_events"], r["total_value"]) for r in rows if r["user_id"] == 1
    ]
    assert (2, 15.0) in user1, rows
    # provider fingerprint: RocksDB-specific custom metrics present
    metrics = progress["stateOperators"][0]["customMetrics"]
    assert any("rocksdb" in k.lower() for k in metrics), metrics

