"""In-process S3 object-store integration (VERDICT r8 item 3).

The sandbox has no hadoop-aws jar and no network, so the JVM s3a leg
stays environment-bound (tests/test_minio_live.py documents that
blocker). This suite closes the gap at the PROTOCOL level: a real
S3-compatible endpoint (moto's ThreadedMotoServer on loopback) serves
executor-parallel parquet writes/reads through
sources/object_store.py — every partition PUTs/GETs its own object;
the driver never touches data bytes, matching the s3a path's
distribution properties.
"""

from __future__ import annotations

import socket

import pytest

moto = pytest.importorskip("moto")
boto3 = pytest.importorskip("boto3")

from airflow_loan_etl_pipeline_spark.sources.object_store import (  # noqa: E402
    S3Endpoint,
    read_parquet_s3api,
    write_parquet_s3api,
)

BUCKET = "spark-graft-it"


def _free_port() -> int:
    """A loopback port free right now (a fixed port can be held by the
    py4j gateway JVM, and the moto server then waits forever)."""
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@pytest.fixture(scope="module")
def s3(spark):
    from moto.server import ThreadedMotoServer

    port = _free_port()
    server = ThreadedMotoServer(
        ip_address="127.0.0.1", port=port, verbose=False
    )
    server.start()
    ep = S3Endpoint(
        endpoint=f"http://127.0.0.1:{port}",
        access_key="test",
        secret_key="test",
    )
    ep.client().create_bucket(Bucket=BUCKET)
    yield ep
    server.stop()


def test_parquet_roundtrip_executor_parallel(spark, s3):
    df = spark.range(0, 1000, 1, 8).selectExpr(
        "id", "id * 2 AS twice", "concat('u', id) AS name"
    )
    n_objects = write_parquet_s3api(df, BUCKET, "it/roundtrip", s3)
    assert n_objects == 8  # one object per partition

    keys = [
        o["Key"]
        for o in s3.client().list_objects_v2(
            Bucket=BUCKET, Prefix="it/roundtrip/"
        )["Contents"]
    ]
    assert sum(k.endswith(".parquet") for k in keys) == 8
    assert any(k.endswith("_MANIFEST.json") for k in keys)

    back = read_parquet_s3api(spark, BUCKET, "it/roundtrip", s3)
    assert back.schema == df.schema
    assert back.count() == 1000
    assert back.selectExpr("sum(twice)").first()[0] == 999 * 1000
    assert (
        back.orderBy("id").first()["name"] == "u0"
    )


def test_overwrite_replaces_prior_objects(spark, s3):
    a = spark.range(0, 100, 1, 4).selectExpr("id")
    b = spark.range(0, 10, 1, 2).selectExpr("id")
    write_parquet_s3api(a, BUCKET, "it/ow", s3)
    write_parquet_s3api(b, BUCKET, "it/ow", s3, mode="overwrite")
    back = read_parquet_s3api(spark, BUCKET, "it/ow", s3)
    assert back.count() == 10
    data_keys = [
        o["Key"]
        for o in s3.client().list_objects_v2(
            Bucket=BUCKET, Prefix="it/ow/"
        )["Contents"]
        if o["Key"].endswith(".parquet")
    ]
    assert len(data_keys) == 2  # stale 4-partition write fully gone


def test_empty_partitions_write_no_objects(spark, s3):
    df = (
        spark.range(0, 4, 1, 16)
        .selectExpr("id")
        .filter("id < 2")
    )
    n = write_parquet_s3api(df, BUCKET, "it/sparse", s3)
    assert 1 <= n <= 2
    back = read_parquet_s3api(spark, BUCKET, "it/sparse", s3)
    assert sorted(r["id"] for r in back.collect()) == [0, 1]


def test_empty_frame_roundtrip(spark, s3):
    df = spark.range(0).selectExpr("id", "id AS v")
    n = write_parquet_s3api(df, BUCKET, "it/empty", s3)
    assert n == 0
    back = read_parquet_s3api(spark, BUCKET, "it/empty", s3)
    assert back.count() == 0
    assert back.schema == df.schema


def test_mixed_nullness_across_arrow_batches(spark, s3):
    """A partition whose FIRST Arrow batches carry no nulls but later
    ones do must still write one coherent object: pandas ships the
    null-bearing int chunk as float64, and per-batch schema inference
    would make the ParquetWriter reject it mid-partition (observed
    ValueError). The writer pins the Spark-derived Arrow schema
    instead; values and schema survive the round-trip, including
    strings with nulls and timestamps."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        df = spark.sql("""
          SELECT id,
                 CASE WHEN id >= 30 THEN NULL ELSE id * 2 END AS maybe,
                 CASE WHEN id % 4 = 0 THEN NULL ELSE concat('s', id)
                 END AS name,
                 CAST(id AS timestamp) AS ts
          FROM range(0, 50, 1, 1)
        """)
        write_parquet_s3api(df, BUCKET, "it/nulls", s3)
        back = read_parquet_s3api(spark, BUCKET, "it/nulls", s3)
        assert back.schema == df.schema
        assert back.orderBy("id").collect() == df.orderBy("id").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_registry_query_end_to_end_from_bucket(spark, s3):
    """Full scan→query path over object storage (round 11, VERDICT r10
    item 4): archive the loan fixture tables into the bucket with the
    executor-parallel writer (the engine's analogue of the reference's
    MinIO archive step), point catalog.load_table at the s3:// dataset
    via the default endpoint, and run oracle-gated registry queries
    with sf_dir="s3://…" — results must equal the same queries over the
    local fixtures."""
    from airflow_loan_etl_pipeline_spark import registry
    from airflow_loan_etl_pipeline_spark.catalog import load_table
    from airflow_loan_etl_pipeline_spark.sources import object_store

    sf = "/root/testdata/sf0.001"
    for t in ("orders", "nation", "customer", "region", "lineitem"):
        write_parquet_s3api(
            load_table(spark, sf, t), BUCKET, f"it/sfdir/{t}.parquet", s3
        )

    object_store.set_default_endpoint(s3)
    try:
        for qname in ("loan_agg", "nation_revenue"):
            fn = registry.QUERIES[qname]
            got = sorted(
                map(tuple, fn(spark, f"s3://{BUCKET}/it/sfdir").collect())
            )
            want = sorted(map(tuple, fn(spark, sf).collect()))
            assert got == want, qname
    finally:
        object_store.set_default_endpoint(None)


def test_load_table_s3_uri_roundtrips_events_ts(spark, s3):
    """events through the s3 manifest path keeps a usable LTZ timestamp
    (the nanos/NTZ normalization applies on the object-store read too)."""
    from airflow_loan_etl_pipeline_spark.catalog import load_table
    from airflow_loan_etl_pipeline_spark.sources import object_store

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").limit(100)
    write_parquet_s3api(ev, BUCKET, "it/evdir/events.parquet", s3)
    object_store.set_default_endpoint(s3)
    try:
        back = load_table(spark, f"s3://{BUCKET}/it/evdir", "events")
        assert dict(back.dtypes)["ts"] == "timestamp"
        assert back.count() == 100
    finally:
        object_store.set_default_endpoint(None)
