"""Stream-stream interval join: results must match the batch
equivalent, and state must be watermark-bounded."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark.streaming.joins import interval_join

L_SCHEMA = "user_id long, l_ts timestamp"
R_SCHEMA = "user_id long, r_ts timestamp"


def _write(spark, path, schema, rows):
    spark.createDataFrame(rows, schema.replace("timestamp", "string")).select(
        *[
            F.to_timestamp(c).alias(c) if c.endswith("ts") else F.col(c)
            for c in [f.split(" ")[0] for f in schema.split(", ")]
        ]
    ).coalesce(1).write.mode("append").parquet(path)


def test_interval_join_stream_matches_batch(spark, tmp_path):
    lpath, rpath = str(tmp_path / "l"), str(tmp_path / "r")
    lrows = [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:30:00")]
    rrows = [
        (1, "2024-01-01 00:05:00"),   # within 10m of user 1 -> match
        (1, "2024-01-01 00:20:00"),   # too late -> no match
        (2, "2024-01-01 00:29:00"),   # before left ts -> no match
        (2, "2024-01-01 00:35:00"),   # within -> match
    ]
    _write(spark, lpath, L_SCHEMA, lrows)
    _write(spark, rpath, R_SCHEMA, rrows)

    batch = interval_join(
        spark.read.parquet(lpath), spark.read.parquet(rpath)
    )
    expected = sorted(
        (r["user_id"], str(r["l_ts"]), str(r["r_ts"])) for r in batch.collect()
    )
    assert len(expected) == 2

    ls = spark.readStream.schema(L_SCHEMA).parquet(lpath)
    rs = spark.readStream.schema(R_SCHEMA).parquet(rpath)
    out = []
    q = (
        interval_join(ls, rs)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["user_id"], str(r["l_ts"]), str(r["r_ts"])) for r in out)
    assert got == expected


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg: rows arriving behind the watermark are
    DROPPED, on-time rows aggregate — the bounded-state contract that
    replaces the reference's 60s file-age gate (SURVEY.md F4/ST3)."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ck")
    schema = "ts timestamp, user_id long, value double"

    from pyspark.sql import functions as F

    out = []

    def run_once():
        # restart-with-same-checkpoint pins batch order: one query run
        # per landed file (a single availableNow run lists files in
        # nondeterministic path order).
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, _id: out.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: events up to 01:00 -> watermark persists at 00:50
    _write(spark, src, schema, [("2024-01-01 00:00:30", 1, 1.0),
                                ("2024-01-01 01:00:00", 2, 1.0)])
    run_once()
    # run 2: one on-time row and one far-late row (00:01, behind wm)
    _write(spark, src, schema, [("2024-01-01 01:01:00", 3, 1.0),
                                ("2024-01-01 00:01:00", 4, 1.0)])
    run_once()
    # the 00:00 window (user 1) is finalized and emitted once the
    # watermark passes it; user 4's 00:01 row arrived after that and
    # must NOT reopen the window.
    zero_windows = [r for r in out if r["w"].start.minute == 0 and r["w"].start.hour == 0]
    assert sum(r["n"] for r in zero_windows) == 1


def test_interval_join_multibatch_matches_batch(spark, tmp_path):
    """Stream-stream join under LOAD: both sides sliced to one file per
    trigger (>=3 micro-batches), with matches that span micro-batch
    boundaries — the symmetric-hash state must carry unmatched rows
    across triggers, and the final sink must equal the batch join
    row-for-row. Event span stays inside the watermark so no
    row is ever evicted before its match can arrive."""
    lpath, rpath = str(tmp_path / "ml"), str(tmp_path / "mr")

    # 4 files per side, 3 rows each; right rows for file k answer left
    # rows from file k AND file k-1 (cross-batch matches).
    def ts(minute, sec=0):
        return f"2024-01-01 00:{minute:02d}:{sec:02d}"

    for k in range(4):
        _write(
            spark,
            lpath,
            L_SCHEMA,
            [(u, ts(3 * k, u)) for u in (1, 2, 3)],
        )
        _write(
            spark,
            rpath,
            R_SCHEMA,
            [
                (1, ts(3 * k, 30)),          # same-batch match
                (2, ts(3 * k + 2, 0)),       # lands with NEXT file pair
                (9, ts(3 * k, 45)),          # keyless — never matches
            ],
        )

    batch = interval_join(
        spark.read.parquet(lpath), spark.read.parquet(rpath)
    )
    expected = sorted(
        (r["user_id"], str(r["l_ts"]), str(r["r_ts"])) for r in batch.collect()
    )
    assert len(expected) >= 8  # real cross-batch workload, not a toy

    ls = (
        spark.readStream.schema(L_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(lpath)
    )
    rs = (
        spark.readStream.schema(R_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(rpath)
    )
    out, n_batches = [], []
    q = (
        interval_join(ls, rs)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _id: (out.extend(df.collect()), n_batches.append(1))
        )
        .option("checkpointLocation", str(tmp_path / "mckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert len(n_batches) >= 3  # the slicing actually produced micro-batches
    got = sorted((r["user_id"], str(r["l_ts"]), str(r["r_ts"])) for r in out)
    assert got == expected

