"""The reference's WHOLE DAG as one engine plan.

Mirrors drive_auto_compress_email.py:588-602 (`poll_and_process >>
run_spark >> send_email_summary`) end to end: poll the watched folder,
settle-age + processed-ledger screening, per-file gzip compression
with the original/compressed size metrics, the loan ETL over the
cumulative file set, and the HTML summary report (optionally
delivered over SMTP).

The screen is the reference's own Python set difference (:85-117,
:184, :207) on the driver: settled listing minus ledger
(file_source.screen). The gzip of the few fresh files also runs on the
driver, as in the reference (:268-306): a Spark job would cost more
than the compression. Spark reads and aggregates the loan data. A tick
with nothing new returns before any Spark call. The ledger commit is
the tick's last step, one atomic file replace
(file_source.update_ledger): a crash before it replays the whole tick,
a crash after it replays nothing. The ETL reads the
ledgered files still in the folder plus the fresh ones, so a deleted
source file drops out of the totals instead of failing later ticks.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame, SparkSession

from airflow_loan_etl_pipeline_spark import schemas
from airflow_loan_etl_pipeline_spark.plans.loan_etl import (
    clean_and_aggregate,
    latest_aggregates_summary,
)
from airflow_loan_etl_pipeline_spark.plans.report import (
    render_html_report,
    send_html_report,
)
from airflow_loan_etl_pipeline_spark.sources.io import read_csv_dir
from airflow_loan_etl_pipeline_spark.streaming.file_source import (
    load_ledger,
    screen,
    update_ledger,
)


def compress_fresh(
    fresh: list[tuple[str, str, float]], work_dir: str
) -> list[dict]:
    """Gzip each fresh ``(name, path, mtime)`` file to
    ``work_dir/compressed/<name>.gz`` on the driver, as the reference
    does (:268-306), and return its summary: original and compressed
    sizes and the compressed/original ratio (0.0 for an empty file,
    :300-303)."""
    out_dir = os.path.join(work_dir, "compressed")
    os.makedirs(out_dir, exist_ok=True)
    summaries = []
    for name, path, _mtime in fresh:
        with open(path, "rb") as f:
            blob = f.read()
        gz = gzip.compress(blob)
        out_path = os.path.join(out_dir, name + ".gz")
        with open(out_path, "wb") as f:
            f.write(gz)
        summaries.append(
            {
                "filename": name,
                "original_size": len(blob),
                "compressed_size": len(gz),
                "compressed_path": out_path,
                "ratio": len(gz) / len(blob) if blob else 0.0,
            }
        )
    return summaries


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

    file_summaries = compress_fresh(fresh, work_dir)
    names = [name for name, _path, _mtime in fresh]
    # ETL input = the SCREENED cumulative set — a raw watch-dir glob
    # would ingest unsettled/mid-copy files the screen just excluded
    aggs = aggregate_present(spark, watch_dir, ledger | set(names))
    top = latest_aggregates_summary(aggs, limit=10)
    html = render_html_report(file_summaries, top)
    if smtp:
        send_html_report(html, **smtp)

    processed = spark.createDataFrame([(n,) for n in names], "file_id string")
    update_ledger(spark, ledger_path, processed)
    return file_summaries, aggs, html
