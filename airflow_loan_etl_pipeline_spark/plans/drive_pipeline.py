"""The reference's WHOLE DAG as one engine plan.

Mirrors drive_auto_compress_email.py:588-602 (`poll_and_process >>
run_spark >> send_email_summary`) end to end: poll the watched folder,
settle-age + processed-ledger screening, per-file gzip compression
WITH the original/compressed size metrics computed on the executors
(Arrow-batched — the reference round-trips every byte through the
driver, :268-306), the loan ETL over the cumulative file set, and the
HTML summary report (optionally delivered over SMTP).

The screen is the reference's own Python set difference (:85-117,
:184, :207) on the driver: settled listing minus ledger. A tick with
nothing new returns before any Spark call; only fresh files reach the
executors. The ledger commit is the tick's last step, one atomic file
replace (file_source.update_ledger): a crash before it replays the
whole tick, a crash after it replays nothing. The ETL reads the
ledgered files still in the folder plus the fresh ones, so a deleted
source file drops out of the totals instead of failing later ticks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark import schemas
from airflow_loan_etl_pipeline_spark.plans.loan_etl import (
    clean_and_aggregate,
    latest_aggregates_summary,
)
from airflow_loan_etl_pipeline_spark.plans.report import (
    compression_summary,
    render_html_report,
    send_html_report,
)
from airflow_loan_etl_pipeline_spark.sources.io import read_csv_dir
from airflow_loan_etl_pipeline_spark.streaming.file_source import (
    load_ledger,
    settled_files,
    update_ledger,
)


def screen(
    watch_dir: str,
    ledger: set[str],
    prefix: str,
    min_age_s: float,
    now: float | None = None,
) -> list[tuple[str, str]]:
    """``(name, path)`` of the settled files not yet in ``ledger``."""
    return [
        (name, path)
        for name, path, _mtime in settled_files(watch_dir, prefix, min_age_s, now)
        if name not in ledger
    ]


def compress_new_files(fresh: DataFrame, out_dir: str) -> DataFrame:
    """Executor-side gzip of each new file + size metrics: one Arrow
    batch pass over (name, path) that reads each file's bytes where it
    runs, no driver byte shuttling. ``out_dir`` must be a path every
    executor can write (shared FS / object-store mount at cluster
    scale)."""
    import pandas as pd

    def op(batches):
        import gzip

        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            names, osz, csz, paths = [], [], [], []
            for name, path in zip(pdf["name"], pdf["path"]):
                with open(path, "rb") as f:
                    blob = f.read()
                gz = gzip.compress(blob)
                out_path = os.path.join(out_dir, name + ".gz")
                with open(out_path, "wb") as f:
                    f.write(gz)
                names.append(name)
                osz.append(len(blob))
                csz.append(len(gz))
                paths.append(out_path)
            yield pd.DataFrame(
                {
                    "filename": names,
                    "original_size": osz,
                    "compressed_size": csz,
                    "compressed_path": paths,
                }
            )

    return fresh.select("name", "path").mapInPandas(
        op,
        schema="filename string, original_size bigint, "
        "compressed_size bigint, compressed_path string",
    )


def compress_fresh(
    spark: SparkSession, fresh: list[tuple[str, str]], work_dir: str
) -> tuple[list[dict], DataFrame]:
    """Gzip the fresh files under ``work_dir/compressed``. Returns the
    collected compression summaries and the ``file_id`` frame to
    commit to the ledger."""
    files = spark.createDataFrame(fresh, "name string, path string")
    summaries = compression_summary(
        compress_new_files(files, os.path.join(work_dir, "compressed"))
    )
    return (
        [r.asDict() for r in summaries.collect()],
        files.select(F.col("name").alias("file_id")),
    )


def aggregate_present(
    spark: SparkSession, watch_dir: str, names: set[str]
) -> DataFrame | None:
    """Loan aggregates over the named files still in ``watch_dir``
    (None when none is)."""
    paths = [os.path.join(watch_dir, n) for n in sorted(names)]
    paths = [p for p in paths if os.path.isfile(p)]
    if not paths:
        return None
    loans = read_csv_dir(spark, paths, schema=schemas.LOAN)
    _cleaned, aggs = clean_and_aggregate(
        loans,
        group_cols=["status", "product_type", "branch"],
        amount_col="amount",
        date_col="created_at",
    )
    return aggs


def run_drive_pipeline(
    spark: SparkSession,
    watch_dir: str,
    work_dir: str,
    prefix: str = "loan_",
    min_age_s: float = 0.0,
    now: float | None = None,
    smtp: dict | None = None,
) -> tuple[list[dict], DataFrame | None, str | None]:
    """One scheduled tick of the reference DAG. Returns
    ``(file_summaries, aggregates_df, html)`` — empty/None/None when
    no new files were eligible (the reference's early return,
    drive_auto_compress_email.py:240-242)."""
    ledger_path = os.path.join(work_dir, "ledger")
    ledger = load_ledger(ledger_path)
    fresh = screen(watch_dir, ledger, prefix, min_age_s, now)
    if not fresh:
        return [], None, None

    file_summaries, processed = compress_fresh(spark, fresh, work_dir)
    # ETL input = the SCREENED cumulative set — a raw watch-dir glob
    # would ingest unsettled/mid-copy files the screen just excluded
    aggs = aggregate_present(spark, watch_dir, ledger | {n for n, _p in fresh})
    top = latest_aggregates_summary(aggs, limit=10)
    html = render_html_report(file_summaries, top)
    if smtp:
        send_html_report(html, **smtp)

    update_ledger(spark, ledger_path, processed)
    return file_summaries, aggs, html
