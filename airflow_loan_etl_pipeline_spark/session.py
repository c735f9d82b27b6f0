"""SparkSession factory with scale-aware defaults.

Replaces the reference's per-call session builder
(/root/reference/airflow/include/loan_spark_etl.py:27-45, :206 — which
spins up a *second* JVM just to read a few hundred rows) with a single
shared, config-pinned session:

- UTC session timezone (reference loan_spark_etl.py:37) so timestamps
  compare cleanly against UTC-naive oracles.
- Parquet datetime rebase CORRECTED (reference loan_spark_etl.py:39-40).
- LEGACY time parser is NOT set globally — the reference pins it globally
  (loan_spark_etl.py:42) but it only matters for sloppy CSV date strings;
  we confine lenient parsing to the CSV ingest path (io.py) instead.
- AQE on with partition coalescing + skew-join handling: at 100 TB the
  right shuffle partitioning is data-dependent, so let the runtime
  re-plan; the static `spark.sql.shuffle.partitions` is only the upper
  bound AQE coalesces down from.
- Arrow enabled for any Pandas-UDF path.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)


def _default_driver_memory() -> str:
    """Half of host memory, at most 48g (48g without /proc/meminfo)."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])  # MemTotal
    except OSError:
        return "48g"
    return f"{min(48 * 1024, total_kb // 2048)}m"


def get_spark(
    app_name: str = "airflow_loan_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    One session per process — the reference builds a fresh session per
    entry point (loan_spark_etl.py:134-189 and :192-220), paying JVM
    startup twice; ``getOrCreate`` makes this idempotent.

    The master and the shuffle width (AQE's upper bound) each come
    from the argument, else ``SPARK_GRAFT_CPUS`` (``local[n]``, ``n``),
    else the submitted conf, else Spark's ``local[*]`` and one
    partition per CPU this process may use.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Surface parquet naive timestamps as session-tz TIMESTAMP (LTZ),
        # not TIMESTAMP_NTZ: epoch math (cast to bigint/double, window())
        # is legal on LTZ only, and the UTC session pin makes the two
        # encodings numerically identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Reliable-checkpoint files (cache_scope.pin /
        # materialize_consistent when a checkpoint dir is configured)
        # are deleted by the ContextCleaner once their RDD is
        # unreferenced — without this, every Lloyd/PageRank/
        # pointer-jumping round leaks a checkpoint directory on
        # durable storage for the life of the application.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split size, env-tunable. The fixtures are single ~20 MB
        # parquet files whose 3-4 row groups land in ONE 128 MB-default
        # split, serializing scans. A/B at sf0.1: in a FRESH session 8m
        # rows-group-splits the scans and saves ~0.3-0.4 s on
        # scan-bound queries (percentiles 1.35->1.00 s, 5-run
        # medians); across the long-lived full-bench session the two
        # settings tie (no query's warm median moved >0.15 s). 8m is
        # the local-harness default; on a real cluster with full-sized
        # files set SPARK_GRAFT_MAX_PARTITION_BYTES=128m — small
        # splits there explode the task count.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
    )
    if master or cpus:
        builder = builder.master(master or f"local[{cpus}]")
    if shuffle_partitions or cpus:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    # the context's conf holds what was submitted or set above
    if not sc.getConf().contains("spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(len(os.sched_getaffinity(0)))
        )
    sc.setLogLevel("WARN")
    return spark


def engine_parallelism(spark: SparkSession) -> int:
    """Partition count for the engine's NUMBERED repartitions (the
    AQE-exempt ``repartition(n, ...)`` / ``repartitionByRange(n, ...)``
    calls that pin a minimum parallel width for rank/offset recipes
    and interpreted pair-expansion stages).

    ``max(defaultParallelism, tuned shuffle.partitions)``:
    defaultParallelism tracks the cores actually online (the right
    floor locally and on static clusters), while shuffle.partitions is
    the knob users tune for cluster scale (e.g. 2048 on a
    1000-executor job) — under dynamic allocation defaultParallelism
    can reflect only the executors alive at call time, so taking the
    max keeps the numbered exchanges as wide as the tuned shuffle
    width. On a local session built by :func:`get_spark` both equal
    the CPU count (``local[n]`` and ``n`` partitions), so local plans
    are unchanged.

    shuffle.partitions only participates when it was EXPLICITLY SET
    (builder conf, spark-defaults, or runtime ``spark.conf.set``) —
    Spark's stock 200 on a session not built by :func:`get_spark`
    is a legacy placeholder, not a tuning decision, and letting it win
    the max() turned every numbered repartition into 200 tiny
    AQE-exempt partitions on small external sessions (ADVICE r6/r7).
    Where the explicit-set probe is unavailable (Spark Connect, vendor
    runtimes), a literal 200 is treated as stock — set any other value
    (even 199/201) to force a width through the fallback.
    File-COUNT decisions (one healthy output file per writer) should
    use raw defaultParallelism instead of this function."""
    sc = spark.sparkContext
    shuffle = 0
    try:
        jconf = spark._jsparkSession.sessionState().conf()
        if jconf.settings().containsKey("spark.sql.shuffle.partitions"):
            shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # Connect/vendor runtimes: value-vs-default probe
        try:
            v = int(spark.conf.get("spark.sql.shuffle.partitions"))
            shuffle = 0 if v == 200 else v
        except Exception:  # "auto" or unset
            shuffle = 0
    return max(sc.defaultParallelism, shuffle)


def object_store_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
    scheme: str = "s3a",
) -> dict[str, str]:
    """Hadoop-filesystem confs for direct object-store I/O (K5).

    The reference lands files locally then re-uploads through a MinIO
    client on the driver (/root/reference/airflow/dags/
    drive_auto_compress_email.py:144-153, bucket-ensure :132-141); the
    engine instead points any reader/writer at ``s3a://bucket/...`` and
    the EXECUTORS stream straight to the store in parallel — no landing
    copy, no driver hop, no bucket-ensure (the store 404s honestly).

    Pass the returned dict as ``get_spark(extra_conf=...)`` (or set the
    keys on an existing session's conf before first use of the scheme).
    ``endpoint`` covers MinIO/on-prem gateways; with AWS-native S3 omit
    it and credentials come from the default provider chain. For
    ``gs://``/``abfss://`` the analogous ``fs.gs.*``/``fs.azure.*``
    keys apply — same mechanism, different connector.
    """
    prefix = f"spark.hadoop.fs.{scheme}"
    conf: dict[str, str] = {
        # Object stores have no atomic directory rename; the v2 file
        # output committer avoids the O(files) sequential rename storm
        # of v1. (Cloud-native committers — magic/S3A — are the real
        # production answer; v2 is the portable default.)
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        f"{prefix}.connection.maximum": "64",
        f"{prefix}.fast.upload": "true",
    }
    if endpoint:
        conf[f"{prefix}.endpoint"] = endpoint
        conf[f"{prefix}.path.style.access"] = "true" if path_style else "false"
    if access_key:
        conf[f"{prefix}.access.key"] = access_key
    if secret_key:
        conf[f"{prefix}.secret.key"] = secret_key
    return conf


def apply_object_store_conf(spark, conf: dict[str, str]) -> None:
    """Land :func:`object_store_conf` keys on a RUNNING session.

    ``spark.hadoop.*`` keys only flow into the Hadoop configuration at
    session construction; for an existing session the Hadoop conf must
    be written directly (safe as long as the target scheme hasn't been
    used yet — Hadoop caches FileSystem instances per scheme on first
    use). Non-``spark.hadoop.`` keys (committer algorithm) go to the
    SQL/runtime conf.

    Spark Connect (round 10): there is no py4j gateway to write the
    Hadoop conf through — fall back to setting the prefixed keys on
    the runtime SQL conf. That is functional for the SQL read/write
    path: ``SessionState.newHadoopConf()`` folds runtime
    ``spark.hadoop.*`` entries into every per-query Hadoop
    configuration, which is how file sources/sinks resolve
    filesystems. Only code that grabs a FileSystem directly via the
    JVM (none of the engine's Connect-reachable paths) would miss the
    keys.
    """
    try:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
    except Exception:  # Spark Connect / vendor runtimes: no py4j gateway
        hconf = None
    for k, v in conf.items():
        if k.startswith("spark.hadoop.") and hconf is not None:
            hconf.set(k[len("spark.hadoop."):], v)
        else:
            # A real Connect server may reject static/hadoop-prefixed
            # keys (CANNOT_MODIFY_CONFIG) — apply the rest anyway so one
            # rejected key doesn't abort the whole object-store conf.
            try:
                spark.conf.set(k, v)
            except Exception as exc:
                logger.warning("conf.set(%s) rejected: %s", k, exc)
