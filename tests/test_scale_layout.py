"""Physical-layout scale features: bucketed joins without shuffles,
partition pruning on partitioned writes. These assert the LAYOUT pays
off in the plan — the property that matters at 100 TB."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark.catalog import load_table
from airflow_loan_etl_pipeline_spark.sources.io import (
    write_bucketed,
    write_parquet,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    # managed tables land in the session's spark-warehouse dir (static
    # conf, can't point it at tmp_path on a live session); DROP TABLE
    # below removes the files.
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    write_bucketed(orders, "orders_b", ["o_custkey"], 8, sort_by=["o_custkey"])
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "customer_b", ["o_custkey"], 8, sort_by=["o_custkey"],
    )
    try:
        # force SMJ so the assertion is about the bucketed layout, not a
        # broadcast sidestepping the question
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("customer_b"), "o_custkey"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # bucketed scans are already hash-distributed on the key: the
        # join runs with ZERO exchanges
        assert "Exchange" not in plan
        # correctness unchanged vs the plain join
        n_plain = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert joined.count() == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_parquet(orders, out, partition_by=["o_year"])
    scan = spark.read.parquet(out).filter(F.col("o_year") == 1996)
    plan = _plan(scan)
    # the year predicate lands in PartitionFilters (directory-level
    # pruning: non-matching years are never opened), not a row filter
    assert "PartitionFilters: [isnotnull(o_year" in plan
    assert "(o_year" in plan and "1996" in plan
    got = scan.count()
    want = orders.filter(F.col("o_year") == 1996).count()
    assert got == want > 0


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    from airflow_loan_etl_pipeline_spark.sources.io import compact_parquet

    src = str(tmp_path / "fragmented")
    # simulate a poll-per-file ingest: 40 tiny files
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(40).write.mode("overwrite").parquet(src)
    import glob
    assert len(glob.glob(src + "/part-*")) == 40

    dest = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, dest, target_file_mb=64)
    assert n == 1
    assert len(glob.glob(dest + "/part-*")) == 1
    assert spark.read.parquet(dest).count() == orders.count()


def test_stream_static_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join: a live stream enriched against a batch dim
    table — no state store needed (the static side is re-read per
    micro-batch, broadcast when small)."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "ev")
    events.select(
        "event_id", "user_id", "value"
    ).coalesce(1).write.parquet(src)

    dim = spark.range(0, 10000).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 3).alias("user_tier"),
    )
    stream = spark.readStream.schema(
        "event_id long, user_id long, value double"
    ).parquet(src)
    out = []
    q = (
        stream.join(F.broadcast(dim), "user_id", "left")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(out) == 200
    assert all(r["user_tier"] == r["user_id"] % 3 for r in out)


def test_sampling_reproducible_and_stratified(spark, sf_dir):
    """Seeded sample: same seed -> identical sample (replayable training
    subsets); sampleBy: per-stratum fractions land near target.
    Sampling is a scan-local filter — no shuffle, safe at any scale."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.sample(fraction=0.2, seed=42).select("event_id").collect()
    b = ev.sample(fraction=0.2, seed=42).select("event_id").collect()
    assert sorted(r[0] for r in a) == sorted(r[0] for r in b)
    n = ev.count()
    assert 0.1 * n < len(a) < 0.3 * n

    frac = {"click": 0.5, "view": 0.1}
    s = ev.sampleBy("event_type", fractions=frac, seed=7)
    got = {r["event_type"]: r["cnt"] for r in
           s.groupBy("event_type").count().withColumnRenamed("count", "cnt").collect()}
    base = {r["event_type"]: r["cnt"] for r in
            ev.groupBy("event_type").count().withColumnRenamed("count", "cnt").collect()}
    # unlisted strata excluded entirely; listed ones near their fraction
    assert set(got) <= set(frac)
    for k, f in frac.items():
        if k in base:
            assert abs(got.get(k, 0) / base[k] - f) < 0.15


def test_merge_upsert_partitioned_touches_only_affected_partitions(
    spark, sf_dir, tmp_path
):
    from airflow_loan_etl_pipeline_spark.sources.io import merge_upsert
    import os

    target = str(tmp_path / "orders_merged")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    merge_upsert(spark, target, orders, ["o_orderkey"], partition_col="o_year")
    before = spark.read.parquet(target)
    n_before = before.count()
    assert n_before == orders.count()

    # mtime snapshot of an untouched partition's files
    untouched_dir = os.path.join(target, "o_year=1995")
    mtimes = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
    }

    # updates: rewrite 5 known 1997 orders with a sentinel price, insert
    # 2 brand-new keys in 1997
    some = (
        before.filter(F.col("o_year") == 1997)
        .limit(5)
        .withColumn("o_totalprice", F.lit(999999.0))
    )
    new_rows = some.limit(2).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    updates = some.unionByName(new_rows)
    n_parts = merge_upsert(
        spark, target, updates, ["o_orderkey"], partition_col="o_year"
    )
    assert n_parts == 1  # all updates land in o_year=1997

    after = spark.read.parquet(target)
    assert after.count() == n_before + 2  # upserts replaced, inserts added
    assert (
        after.filter(F.col("o_totalprice") == 999999.0).count() == 7
    )
    # keys were replaced, not duplicated
    assert (
        after.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    )
    # untouched partition's files were not rewritten
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(untouched_dir, f)) == m


def test_merge_upsert_unpartitioned_roundtrip(spark, sf_dir, tmp_path):
    from airflow_loan_etl_pipeline_spark.sources.io import merge_upsert

    target = str(tmp_path / "cust_merged")
    customer = load_table(spark, sf_dir, "customer")
    merge_upsert(spark, target, customer, ["c_custkey"])
    updates = (
        customer.limit(3).withColumn("c_acctbal", F.lit(-1.0))
    )
    merge_upsert(spark, target, updates, ["c_custkey"])
    after = spark.read.parquet(target)
    assert after.count() == customer.count()
    assert after.filter(F.col("c_acctbal") == -1.0).count() == 3


def test_zorder_layout_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order vs single-column sort: after clustering lineitem on
    z(l_orderkey, l_partkey), a selective l_partkey predicate touches a
    FRACTION of the files; under an l_orderkey-sorted layout the same
    predicate scatters across (nearly) all files. File-level locality is
    what parquet min/max pruning exploits at scale."""
    from airflow_loan_etl_pipeline_spark.sources.io import write_zordered

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    n_files = 16

    plain = str(tmp_path / "plain")
    (
        li.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(plain)
    )
    zpath = str(tmp_path / "zord")
    write_zordered(li, zpath, "l_orderkey", "l_partkey", n_files=n_files)

    # identical contents either way
    assert spark.read.parquet(zpath).count() == li.count()

    pred = F.col("l_partkey").between(100, 119)  # ~1/10 of the domain

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    plain_files = files_touched(plain)
    z_files = files_touched(zpath)
    # orderkey-sorted layout scatters the partkey band everywhere;
    # z-order confines it (sqrt-ish: ~4 of 16 files for a 1/40 band)
    assert plain_files >= n_files - 2
    assert z_files <= n_files // 2


def test_object_store_uri_scheme_roundtrip(spark, tmp_path):
    """K5: readers/writers take any Hadoop-FS URI. No object store runs
    in this container, so the non-default `file://` scheme stands in for
    `s3a://` — same URI-resolution machinery, different connector. Also
    pins the s3a conf-builder output shape."""
    from airflow_loan_etl_pipeline_spark.session import object_store_conf
    from airflow_loan_etl_pipeline_spark.sources.io import write_parquet

    conf = object_store_conf(
        endpoint="http://localhost:9000", access_key="ak", secret_key="sk"
    )
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://localhost:9000"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert (
        conf["spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"]
        == "2"
    )

    uri = "file://" + str(tmp_path / "bucket" / "table")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_parquet(df, uri)
    back = spark.read.parquet(uri)
    assert {(r.k, r.v) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_merge_upsert_null_partition_values(spark, tmp_path):
    # ADVICE r1: rows with a NULL partition column land under
    # __HIVE_DEFAULT_PARTITION__; the swap must merge them, not silently
    # drop them.
    from airflow_loan_etl_pipeline_spark.sources.io import merge_upsert

    target = str(tmp_path / "null_part")
    base = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", None), (3, "c", None)],
        "k int, v string, p string",
    )
    merge_upsert(spark, target, base, ["k"], partition_col="p")
    updates = spark.createDataFrame(
        [(2, "B", None), (4, "d", None)], "k int, v string, p string"
    )
    merge_upsert(spark, target, updates, ["k"], partition_col="p")
    after = spark.read.parquet(target)
    assert after.count() == 4
    got = {r.k: (r.v, r.p) for r in after.collect()}
    assert got[2] == ("B", None)  # updated in the NULL partition
    assert got[4] == ("d", None)  # inserted into the NULL partition
    assert got[1] == ("a", "p1")  # untouched partition intact


def test_merge_upsert_swap_leaves_no_stale_aside(spark, tmp_path):
    # The aside-swap must clean up: no .__old__ or .__staging__ left.
    import os

    from airflow_loan_etl_pipeline_spark.sources.io import merge_upsert

    target = str(tmp_path / "swapclean")
    base = spark.createDataFrame([(1, "a")], "k int, v string")
    merge_upsert(spark, target, base, ["k"])
    merge_upsert(
        spark, target, spark.createDataFrame([(1, "b")], "k int, v string"), ["k"]
    )
    siblings = os.listdir(str(tmp_path))
    assert "swapclean" in siblings
    assert not [s for s in siblings if "__old__" in s or "__staging__" in s]
    assert spark.read.parquet(target).collect()[0].v == "b"


class _Crash(BaseException):
    """A process death: not an OSError, so no rollback handler runs."""


@pytest.mark.parametrize("partition_col", [None, "p"])
def test_merge_upsert_survives_crash_inside_swap(
    spark, tmp_path, monkeypatch, partition_col
):
    """Fault injection: the process dies after the target (or its
    partition) is renamed aside but before staging is renamed in. The
    retried call must merge into the previous table, not write the
    updates alone as the whole table."""
    import os

    from airflow_loan_etl_pipeline_spark.sources.io import merge_upsert

    target = str(tmp_path / "crashy")
    schema = "k int, v string, p int"
    base = spark.createDataFrame([(k, "a", k % 2) for k in range(5)], schema)
    merge_upsert(spark, target, base, ["k"], partition_col=partition_col)
    update = spark.createDataFrame([(2, "b", 0)], schema)

    real_rename = os.rename

    def rename(src, dst):
        if ".__staging__" in str(src):
            raise _Crash()
        return real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        with pytest.raises(_Crash):
            merge_upsert(spark, target, update, ["k"], partition_col=partition_col)
    merge_upsert(spark, target, update, ["k"], partition_col=partition_col)

    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {0: "a", 1: "a", 2: "b", 3: "a", 4: "a"}
    left = os.listdir(tmp_path) + os.listdir(target)
    assert not [n for n in left if "__old__" in n or "__staging__" in n]


def test_write_sorted_ranges_do_not_overlap(spark, sf_dir, tmp_path):
    """Range-partitioned sorted export: per-file key ranges must be
    disjoint (binary-searchable listing), rows complete, and the plan
    must show a RANGE exchange — not a single-partition global sort."""
    from airflow_loan_etl_pipeline_spark.catalog import load_table
    from airflow_loan_etl_pipeline_spark.sources.io import write_sorted

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = (
        li.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning(l_orderkey" in plan
    out = str(tmp_path / "sorted")
    write_sorted(li, out, ["l_orderkey"], num_files=8)

    import pyspark.sql.functions as F

    files = (
        spark.read.parquet(out)
        .select(F.input_file_name().alias("f"), "l_orderkey")
        .groupBy("f")
        .agg(F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(files) > 1
    for prev, cur in zip(files, files[1:]):
        assert prev.hi <= cur.lo
    assert spark.read.parquet(out).count() == li.count()


def test_lsh_bucket_partition_pruning(spark, sf_dir, tmp_path):
    """The ANN scale path made physical: embeddings persisted
    partitioned-by-LSH-bucket, so a probe's bucket predicate lands in
    the scan's PartitionFilters and prunes the directory listing to the
    probed buckets — the '1/256 of the data per probe' claim from
    operators/similarity.py, exercised end-to-end."""
    from airflow_loan_etl_pipeline_spark.catalog import load_table
    from airflow_loan_etl_pipeline_spark.operators.similarity import (
        _as_double,
        bucket_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.withColumn("v", F.expr(_as_double("embedding"))).withColumn(
        "bucket", F.expr(bucket_expr("v"))
    )
    path = str(tmp_path / "emb_by_bucket")
    base.drop("v").write.partitionBy("bucket").parquet(path)

    indexed = spark.read.parquet(path)
    some_bucket = indexed.select("bucket").first().bucket
    probe = indexed.filter(F.col("bucket") == some_bucket)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert f"(bucket#" in plan or "bucket" in plan.split("PartitionFilters")[1][:200]
    # the probe must not read every bucket directory
    import os

    n_buckets = sum(
        1 for d in os.listdir(path) if d.startswith("bucket=")
    )
    assert n_buckets > 1
    rows = probe.count()
    assert 0 < rows < indexed.count()


def test_object_store_conf_lands_in_live_hadoop_conf(spark):
    """K5 rehearsal without a store: the s3a settings must actually
    reach the session's Hadoop configuration (where the s3a connector
    reads them), not just sit in a Python dict — including the
    v2-committer and path-style flags."""
    from airflow_loan_etl_pipeline_spark.session import (
        apply_object_store_conf,
        object_store_conf,
    )

    conf = object_store_conf(
        endpoint="http://localhost:9000", access_key="ak", secret_key="sk"
    )
    apply_object_store_conf(spark, conf)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.access.key") == "ak"
    assert hconf.get("fs.s3a.secret.key") == "sk"
    assert hconf.get("fs.s3a.fast.upload") == "true"
    assert (
        hconf.get("mapreduce.fileoutputcommitter.algorithm.version") == "2"
    )


def test_object_store_roundtrip_against_minio_if_reachable(spark):
    """Full K5 round-trip against a real MinIO/S3 endpoint — skipped
    cleanly when no endpoint is reachable (none runs in this sandbox),
    meaningful the moment one exists (set SPARK_GRAFT_S3_ENDPOINT,
    _ACCESS_KEY, _SECRET_KEY, _BUCKET)."""
    import os
    import socket
    import urllib.parse

    import pytest

    endpoint = os.environ.get(
        "SPARK_GRAFT_S3_ENDPOINT", "http://localhost:9000"
    )
    parsed = urllib.parse.urlparse(endpoint)
    host, port = parsed.hostname, parsed.port or 9000
    try:
        with socket.create_connection((host, port), timeout=1):
            pass
    except OSError:
        pytest.skip(f"no object store reachable at {host}:{port}")

    from airflow_loan_etl_pipeline_spark.session import (
        apply_object_store_conf,
        object_store_conf,
    )
    from airflow_loan_etl_pipeline_spark.sources.io import write_parquet

    apply_object_store_conf(
        spark,
        object_store_conf(
            endpoint=endpoint,
            access_key=os.environ.get("SPARK_GRAFT_S3_ACCESS_KEY", "minioadmin"),
            secret_key=os.environ.get("SPARK_GRAFT_S3_SECRET_KEY", "minioadmin"),
        ),
    )
    bucket = os.environ.get("SPARK_GRAFT_S3_BUCKET", "spark-graft-test")
    uri = f"s3a://{bucket}/roundtrip/table"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_parquet(df, uri)
    back = spark.read.parquet(uri)
    assert {(r.k, r.v) for r in back.collect()} == {(1, "a"), (2, "b")}
