"""Sources and sinks (SURVEY.md §2.1: S1-S3, K1-K4, SET1).

Reference behaviors re-expressed Spark-first:

- S1  CSV directory scan (reference loan_spark_etl.py:152-155): glob over
  ``*.csv`` with header. The glob IS the implicit UNION ALL (SET1). We
  take an explicit schema (schemas.py) instead of ``inferSchema=True`` —
  inference double-scans the input, fatal at scale. The reference's
  LEGACY lenient timestamp parsing (loan_spark_etl.py:42) is confined to
  this path via a per-read conf, not session-global.
- S3  empty probe: ``df.isEmpty()`` — the reference hops through
  ``df.rdd.isEmpty()`` (loan_spark_etl.py:157) which forces an RDD
  conversion; the native form short-circuits on the first partition.
- K1/K2 parquet sinks with overwrite mode (loan_spark_etl.py:178-184).
- K3  ``coalesce(1)`` is OPT-IN here (the reference defaults to it,
  loan_spark_etl.py:139) — a single output file serializes the write on
  one task; at scale you want one file per partition plus
  ``partitionBy`` for partition pruning on re-read.
- K4  compression: expressed as writer codec options instead of a
  driver-side gzip loop (reference drive_auto_compress_email.py:294-298).
- K5  object-store archival (reference drive_auto_compress_email.py:
  144-153 downloads locally, re-uploads via the MinIO client): every
  reader/writer here accepts any Hadoop-filesystem URI — pass
  ``s3a://bucket/prefix`` (or ``gs://``/``abfss://``) as ``path`` and
  the executors write straight to object storage in parallel, no
  driver-side copy hop. Credentials/endpoint come from the standard
  ``spark.hadoop.fs.s3a.*`` confs; not exercised in this container
  (no object store), but no code path differs from local paths.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from airflow_loan_etl_pipeline_spark.session import (
    engine_parallelism as _parallelism,
)


def read_csv_dir(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | None = None,
    lenient_timestamps: bool = True,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read every CSV under ``path`` (glob union, SET1; also accepts an
    explicit path list) with a header row.

    With ``schema=None`` falls back to inference (reference parity;
    loan_spark_etl.py:155) — avoid for large inputs.

    Malformed rows: PERMISSIVE mode (cells that fail the schema become
    NULL instead of killing a 100 TB job at row 40-billion-and-one).
    With ``keep_corrupt=True`` the raw text of each bad row is preserved
    in ``_corrupt_record`` for a quarantine sink — the defensive-ingest
    behavior the reference approximates with column-existence guards
    (loan_spark_etl.py:77, :105).
    """
    reader = spark.read.option("header", True).option("mode", "PERMISSIVE")
    if lenient_timestamps:
        # Reference pins spark.sql.legacy.timeParserPolicy=LEGACY globally
        # (loan_spark_etl.py:42); scoping leniency to CSV parse options
        # keeps the rest of the engine on the CORRECTED parser.
        reader = reader.option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    if schema is not None:
        if keep_corrupt:
            schema = T.StructType(
                [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
            )
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def is_empty(df: DataFrame) -> bool:
    """S3 empty-input probe without the reference's RDD hop."""
    return df.isEmpty()


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    coalesce: int | None = None,
    compression: str | None = None,
) -> None:
    """K1/K2 parquet sink. ``coalesce`` only for small report outputs."""
    if coalesce is not None:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    header: bool = True,
) -> None:
    """K4 compressed CSV sink — distributed gzip via writer codec instead
    of the reference's single-threaded driver-side gzip loop
    (drive_auto_compress_email.py:294-298)."""
    writer = df.write.mode(mode).option("header", header)
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: pre-shuffles rows into ``n_buckets``
    hash buckets on ``bucket_by`` at WRITE time, so every later
    equi-join or aggregation on those keys skips its shuffle entirely —
    the scan is already hash-distributed. This is the 100 TB answer for
    a fact table joined on the same key by many queries: pay the
    partitioning once, amortize it across every downstream query.
    ``sort_by`` additionally orders within buckets (sort-merge joins
    then skip their sort too). Bucketing requires ``saveAsTable``
    (metastore records the layout; a bare parquet path can't)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, *bucket_by
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_mb``. The #1 operational chore of a long-running
    ingest pipeline (the reference lands one file per polled upload —
    drive_auto_compress_email.py:277-280 — which at scale degrades every
    scan with per-file open/footer costs and starves the driver with
    listing). Sizing uses the source's on-disk bytes, so the rewrite is
    one round-robin shuffle into the computed file count. Returns the
    number of files written."""
    import glob as _glob
    import os as _os

    total = sum(
        _os.path.getsize(p)
        for p in _glob.glob(_os.path.join(src, "**", "*"), recursive=True)
        if _os.path.isfile(p)
    )
    n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
    spark.read.parquet(src).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(dest)
    return n_files


def zorder_expr(col_a: str, col_b: str, bits: int = 8) -> str:
    """Z-order (Morton) interleave of two columns' low ``bits`` bits —
    a space-filling curve so rows close in EITHER dimension land close
    in the sort order.

    Sorting a table by ONE column gives perfect min/max pruning on that
    column and none on any other; sorting by the z-value gives ~sqrt
    pruning on BOTH — the right layout when two independent predicates
    (e.g. order key and part key, or time and user) both need to prune
    row groups at 100 TB. Inputs MUST already be normalized into
    [0, 2^bits) with comparable spread (see :func:`write_zordered` —
    interleaving raw domains of unequal width lets the wider column's
    high bits dominate and degrades to a single-column sort). Pure bit
    arithmetic, whole-stage codegen.
    """
    terms = []
    for i in range(bits):
        terms.append(f"(((({col_a}) >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((({col_b}) >> {i}) & 1) << {2 * i})")
    return "cast(" + " | ".join(terms) + " AS bigint)"


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on the z-curve of (col_a, col_b).

    Each column is min-max normalized into the same ``bits``-wide grid
    first (production systems use sampled range-partition ranks — e.g.
    Delta's OPTIMIZE ZORDER — for skew robustness; min-max is the
    skew-naive equivalent and costs one tiny global aggregate), then
    bit-interleaved, range-partitioned into ``n_files`` files and
    sorted within each. Every output file then covers a compact z
    range, so a selective predicate on EITHER column intersects only a
    ~sqrt fraction of files, and parquet min/max stats prune the rest.
    The write costs one 2-row-broadcast + one range shuffle.
    """
    from pyspark.sql import functions as F

    top = (1 << bits) - 1
    bounds = df.agg(
        F.min(col_a).alias("_mna"),
        F.max(col_a).alias("_mxa"),
        F.min(col_b).alias("_mnb"),
        F.max(col_b).alias("_mxb"),
    )
    norm_a = (
        f"cast(floor(({col_a} - _mna) * {top} / "
        f"greatest(_mxa - _mna, 1) + 0.5) AS bigint)"
    )
    norm_b = (
        f"cast(floor(({col_b} - _mnb) * {top} / "
        f"greatest(_mxb - _mnb, 1) + 0.5) AS bigint)"
    )
    (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("_na", F.expr(norm_a))
        .withColumn("_nb", F.expr(norm_b))
        .withColumn("_z", F.expr(zorder_expr("_na", "_nb", bits)))
        .drop("_na", "_nb", "_mna", "_mxa", "_mnb", "_mxb")
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


_ASIDE = ".__old__"


def _restore_aside(path: str) -> None:
    """Finish a :func:`_swap` that died midway. Its ``.__old__`` copy
    is renamed back when ``path`` is missing (the swap died between its
    two renames, so the copy is the last committed version) and deleted
    otherwise (the swap died before dropping it)."""
    old = path.rstrip("/") + _ASIDE
    if not os.path.exists(old):
        return
    if os.path.exists(path):
        shutil.rmtree(old)
    else:
        os.rename(old, path)


def _swap(src: str, dst: str) -> None:
    """Replace directory ``dst`` with ``src``: rename ``dst`` aside to
    ``.__old__``, rename ``src`` in, drop the aside copy. A crash at any
    point leaves the previous ``dst`` either in place or under
    ``.__old__``, never neither; callers run :func:`_restore_aside` on
    ``dst`` before reading it, so a retry starts from that version."""
    _restore_aside(dst)
    old = dst.rstrip("/") + _ASIDE
    had_dst = os.path.exists(dst)
    if had_dst:
        os.rename(dst, old)
    try:
        os.rename(src, dst)
    except OSError:
        if had_dst:  # roll the previous table back in
            os.rename(old, dst)
        raise
    shutil.rmtree(old, ignore_errors=True)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str | None = None,
) -> int:
    """MERGE INTO substitute on plain parquet (upsert, last-writer-wins
    on ``keys``): target rows whose key appears in ``updates`` are
    replaced, new keys are appended, everything else is untouched.

    The reference's only mutation primitive is whole-output overwrite
    (loan_spark_etl.py:178-184, every run rewrites all cleaned rows); a
    real table format (Delta/Iceberg — not in this container) gives
    atomic MERGE. This is the scale-aware middle ground on bare parquet:

    - With ``partition_col``, only partitions that contain an updated
      key are read (partition pruning via ``isin`` over the updates'
      distinct partition values — a small driver-side list, one value
      per touched partition) and rewritten. A 10k-partition table with
      updates landing in 3 partitions reads and writes 3.
    - The anti-join of the surviving target slice against update keys
      broadcasts the distinct-key side when small (typical CDC batch).
    - The merge is staged to ``<target>.__staging__`` (a SIBLING of the
      target, so the final swap is an intra-directory ``os.rename`` —
      never a cross-filesystem move) and swapped in only after the write
      succeeds (:func:`_swap`). A crash between the swap's two renames
      leaves the previous table intact under ``.__old__``; the next
      call renames it back before it reads the target, so the retry
      merges into the previous table instead of writing the updates
      alone. Plain parquet on a local/HDFS
      path can't be fully atomic — a reader racing the swap can see the
      target briefly absent; a real table format (Delta/Iceberg) is the
      answer when concurrent readers matter.
    - NULL partition values: Spark writes rows with a NULL partition
      column under ``<col>=__HIVE_DEFAULT_PARTITION__``; the swap maps
      ``None`` to that directory name so such updates are merged, not
      silently dropped.

    Returns the number of partitions rewritten (1 for unpartitioned).
    """
    from pyspark.sql import functions as F

    _restore_aside(target_path)
    if partition_col is not None and os.path.isdir(target_path):
        for entry in os.listdir(target_path):
            if entry.endswith(_ASIDE):
                _restore_aside(os.path.join(target_path, entry[: -len(_ASIDE)]))
    if not os.path.exists(target_path):
        write_parquet(
            updates, target_path,
            partition_by=[partition_col] if partition_col else None,
        )
        return 1

    staging = target_path.rstrip("/") + ".__staging__"
    shutil.rmtree(staging, ignore_errors=True)
    upd_keys = updates.select(*keys).distinct()

    if partition_col is None:
        target = spark.read.parquet(target_path)
        merged = target.join(upd_keys, keys, "left_anti").unionByName(updates)
        merged.write.mode("overwrite").parquet(staging)
        _swap(staging, target_path)
        return 1

    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    has_null = any(v is None for v in touched)
    non_null = [v for v in touched if v is not None]
    part_pred = F.col(partition_col).isin(non_null)
    if has_null:
        part_pred = part_pred | F.col(partition_col).isNull()
    target_slice = spark.read.parquet(target_path).filter(part_pred)
    merged = target_slice.join(upd_keys, keys, "left_anti").unionByName(
        updates
    )
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    for val in touched:
        part_val = "__HIVE_DEFAULT_PARTITION__" if val is None else str(val)
        part_dir = f"{partition_col}={part_val}"
        src = os.path.join(staging, part_dir)
        dst = os.path.join(target_path, part_dir)
        if os.path.exists(src):
            _swap(src, dst)
        elif os.path.exists(dst):
            # all rows of this partition were deleted by the merge
            shutil.rmtree(dst)
    shutil.rmtree(staging, ignore_errors=True)
    return len(touched)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally-sorted parquet export: ``repartitionByRange`` (sampled
    range boundaries → balanced RANGE exchange across executors) +
    ``sortWithinPartitions``. File k holds keys strictly below file
    k+1, so a reader can binary-search the file listing and parquet
    row-group min/max prune WITHIN each file — without ever running
    ``orderBy`` into a single writer.

    This is the sorted-output shape `df.orderBy(...).write` also
    produces, made explicit: the point is what it AVOIDS — a
    ``coalesce(1)``-style single-task sort of the full dataset.
    """
    # defaultParallelism, NOT engine_parallelism (ADVICE r6): num_files
    # is a FILE-count, not a shuffle width — under a stock session
    # (shuffle.partitions=200) the max() would silently fan a small
    # export into 200 tiny files; cores-online is the right default for
    # "one healthy parquet file per writer".
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )


def read_json_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read newline-delimited JSON under ``path`` (glob union) with the
    same defensive-ingest contract as :func:`read_csv_dir`: PERMISSIVE
    mode nulls cells that fail the schema instead of killing the job,
    and ``keep_corrupt=True`` lands each bad line's raw text in
    ``_corrupt_record`` for a quarantine sink. With ``schema=None``
    falls back to inference (one extra pass — avoid on large inputs).
    Extends the reference's CSV-only source surface
    (/root/reference/airflow/include/loan_spark_etl.py:152-155) to the
    other row format ingest pipelines actually land.
    """
    reader = spark.read.option("mode", "PERMISSIVE")
    if schema is not None:
        if keep_corrupt:
            schema = T.StructType(
                [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
            )
            reader = reader.option("columnNameOfCorruptRecord", "_corrupt_record")
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, compression: str | None = None) -> None:
    """Newline-delimited JSON sink (overwrite), optional codec —
    the interchange format for downstream non-Spark consumers."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (overwrite) — the second columnar format; same
    predicate-pushdown/column-pruning behavior as parquet under
    Catalyst, so layout choices (partitioning) carry over unchanged."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_with_manifest(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Parquet write + release MANIFEST: lands the table and a
    ``_manifest.json`` sidecar holding row count and the
    order-insensitive content checksum (validate.table_checksum) — the
    artifact a consumer verifies before trusting a mirrored/published
    corpus snapshot (pairs with validate.range_checksums for locating
    any divergence). The underscore prefix keeps Spark readers from
    treating the sidecar as data. Returns the manifest dict.
    """
    import json as _json

    from airflow_loan_etl_pipeline_spark.operators.validate import (
        table_checksum,
    )

    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    import os

    w.parquet(path)
    # checksum the LANDED files, not the in-memory plan: re-executing a
    # nondeterministic frame (sample, uuid, repartition-sensitive rank)
    # would publish a manifest the snapshot on disk can never verify.
    # The read-back pins the WRITTEN schema: with partition_by, the
    # partition columns round-trip through directory names, and an
    # inferred read could re-type them (e.g. date -> string), making
    # the checksum reflect re-inferred values instead of the input.
    landed = (
        df.sparkSession.read.schema(df.schema)
        .parquet(path)
        .select(*df.columns)
    )
    row = table_checksum(landed).collect()[0]
    manifest = {
        "n_rows": row.n_rows,
        "checksum": row.checksum,
        "columns": df.columns,
        "schema_json": df.schema.json(),
        "partition_by": partition_by or [],
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        _json.dump(manifest, fh, sort_keys=True)
    return manifest


def verify_manifest(spark: SparkSession, path: str) -> bool:
    """Re-derive the manifest from the landed files and compare —
    True iff the snapshot on disk is exactly what was published."""
    import json as _json
    import os

    from airflow_loan_etl_pipeline_spark.operators.validate import (
        table_checksum,
    )

    with open(os.path.join(path, "_manifest.json")) as fh:
        expected = _json.load(fh)
    reader = spark.read
    if expected.get("schema_json"):
        from pyspark.sql.types import StructType

        reader = reader.schema(
            StructType.fromJson(_json.loads(expected["schema_json"]))
        )
    df = reader.parquet(path).select(*expected["columns"])
    row = table_checksum(df).collect()[0]
    return (
        row.n_rows == expected["n_rows"]
        and row.checksum == expected["checksum"]
    )
