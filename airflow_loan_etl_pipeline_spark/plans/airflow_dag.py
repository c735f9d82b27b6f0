"""Airflow binding for the reference's DAG surface — the last
"missing" item of the operator inventory (VERDICT r5): a user of the
reference schedules `drive_auto_compress_email` (reference
drive_auto_compress_email.py:567-602: ``poll_and_process >>
run_spark >> send_email_summary``, every minute, retries=1,
max_active_runs=1). This module exposes the same DAG bound to the
engine's plans.

Design:

- The TASK BODIES are plain module-level functions
  (:func:`poll_and_process_drive_files`, :func:`run_spark_etl`,
  :func:`send_summary_email`) with explicit arguments and file-based
  handoff under ``work_dir`` — so they are fully testable without
  Airflow installed, and so a non-Airflow scheduler (cron, Dagster,
  a while-loop) can drive the identical pipeline.
- :func:`build_dag` imports Airflow LAZILY and wires the three bodies
  into PythonOperators with the REFERENCE'S task_ids and schedule, so
  existing monitoring/alerting keyed on dag_id/task_id keeps working.
  Without Airflow installed it raises a clear RuntimeError; importing
  this module never requires Airflow (the engine modules it binds are
  imported at module top).
- Handoff between tasks goes through ``work_dir`` artifacts (the
  compression summary JSON, the aggregates parquet file), not XCom —
  XCom round-trips rows through the scheduler DB, which is the same
  driver-bottleneck shape the engine removes elsewhere. Both are
  written on the driver, aside and renamed into place.
- Spark only parses. Tasks 1 and 3 take no session; task 2 takes a
  zero-argument session factory and calls it only when a file needs
  parsing, so a minute with nothing to parse starts no JVM.

Semantics notes vs the engine's single-plan form
(plans/drive_pipeline.run_drive_pipeline, equivalence-tested):

- Task 1 uses the single-plan tick's screen (file_source.screen): the
  settled listing minus the ledger, a driver-side set difference, so a
  poll with nothing new launches no Spark job. It gzips the fresh
  files on the driver with the same drive_pipeline.compress_fresh, and
  commits their names with the same atomic file replace
  (file_source.commit_ledger); the commit is driver-side too, so task 1
  launches no Spark job at all.
- The single-plan form updates the processed-file ledger only after
  the whole tick succeeds (strictest replay safety). The three-task
  split necessarily commits the ledger at the end of task 1 — the
  REFERENCE'S own semantics (its processed-ids JSON is written by the
  polling task, drive_auto_compress_email.py:85-117) — so a mid-DAG
  failure re-runs the ETL over the cumulative ledgered set (idempotent
  overwrite) rather than re-screening files.
- Task 2 computes the totals with the single-plan tick's fold
  (drive_pipeline.fold_present): it parses only the ledgered files
  without current partials (the ones task 1 just committed by name,
  and rewritten ones), hands the folded aggregates to task 3 as one
  parquet file written with pyarrow, and then stores the partials it
  parsed in the ledger.
  That commit changes no id, so exactly-once is untouched; a crash in
  it only loses cached partials, which the next task 2 parses again.
- The compression summary is a pending handoff: task 1 merges its
  fresh files into it, task 3 reports and then removes it, and a
  missing handoff reads as no files. Files whose task 1 committed the
  ledger but whose report was never sent (a crash after the commit, a
  failed ETL) are therefore reported by the next task 3 that runs.
  Task 3 mails only when the handoff lists files, as the reference
  skips its email when nothing is new (:548-550). It ranks the top 10
  of the aggregates handoff with the single-plan tick's
  drive_pipeline.top_segments.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from datetime import timedelta

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
    compress_fresh,
    fold_present,
    top_segments,
)
from airflow_loan_etl_pipeline_spark.plans.report import (
    render_html_report,
    send_html_report,
)
from airflow_loan_etl_pipeline_spark.session import get_spark
from airflow_loan_etl_pipeline_spark.streaming.file_source import (
    commit_ledger,
    load_ledger,
    read_ledger,
    screen,
)


def _work_paths(work_dir: str) -> dict:
    return {
        "summaries": os.path.join(work_dir, "task_handoff", "summaries.json"),
        "aggregates": os.path.join(work_dir, "task_handoff", "aggregates"),
        "html": os.path.join(work_dir, "task_handoff", "report.html"),
    }


def _pending_summaries(path: str) -> list[dict]:
    """The compression summaries not yet reported ([] when none)."""
    if not os.path.exists(path):
        return []
    with open(path, "r", encoding="utf-8") as f:
        return json.load(f)


def poll_and_process_drive_files(
    watch_dir: str,
    work_dir: str,
    prefix: str = "loan_",
    min_age_s: float = 0.0,
    now: float | None = None,
) -> list[dict]:
    """Task 1 (reference :567 ``poll_and_process_drive_files``): screen
    the watched folder by settle age + processed ledger on the driver
    (the single-plan tick's screen), gzip the fresh files on the
    driver, merge their compression summaries (keyed by ``filename``)
    into the pending handoff under ``work_dir`` for task 3, and commit
    the fresh names to the ledger on the driver (no Spark job; task 2
    parses them). Returns the pending summaries."""
    paths = _work_paths(work_dir)
    ledger_path = os.path.join(work_dir, "ledger")
    fresh = screen(watch_dir, load_ledger(ledger_path), prefix, min_age_s, now)
    os.makedirs(os.path.dirname(paths["summaries"]), exist_ok=True)
    pending = _pending_summaries(paths["summaries"])
    if not fresh:
        return pending

    merged = {s["filename"]: s for s in pending}
    merged.update((s["filename"], s) for s in compress_fresh(fresh, work_dir))
    pending = list(merged.values())
    # land the handoff BEFORE committing the ledger: a crash between
    # the two then re-processes the files on retry (commit-last replay
    # safety, same ordering as run_drive_pipeline), and the merge keeps
    # one entry per file. Written aside and renamed, so a crash mid-
    # write never leaves a torn handoff for the retry to read.
    tmp = paths["summaries"] + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(pending, f)
    os.replace(tmp, paths["summaries"])
    commit_ledger(ledger_path, [name for name, _path, _mtime in fresh])
    return pending


def run_spark_etl(
    spark_factory: Callable[[], SparkSession],
    watch_dir: str,
    work_dir: str,
) -> int:
    """Task 2 (reference :573 ``run_spark_etl``): the loan ETL over
    the LEDGERED files still in the folder (never a raw watch-dir glob
    — that would ingest unsettled/mid-copy files task 1 just
    excluded), aggregates written under ``work_dir`` as one parquet
    file (written aside and renamed into place), then the partials of
    the files it parsed committed to the ledger. ``spark_factory`` is
    called only when a file needs parsing. Returns the aggregate row
    count. Idempotent: a task retry re-lands the same file. When none
    of those files is left it removes the previous aggregates and
    returns 0, so the report does not show totals of deleted files."""
    paths = _work_paths(work_dir)
    ledger_path = os.path.join(work_dir, "ledger")
    aggs, _top, parsed = fold_present(
        spark_factory, watch_dir, read_ledger(ledger_path), []
    )
    out = paths["aggregates"]
    if os.path.isdir(out):  # a Spark output directory, as earlier versions wrote it
        shutil.rmtree(out)
    if aggs is None:
        if os.path.exists(out):
            os.remove(out)
        return 0
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pq.write_table(aggs, out + ".tmp")
    os.replace(out + ".tmp", out)
    if parsed is not None:
        commit_ledger(ledger_path, [], parsed)
    return aggs.num_rows


def send_summary_email(
    work_dir: str,
    smtp: dict | None = None,
) -> str:
    """Task 3 (reference :578 ``send_summary_email``): render the HTML
    summary from task 1's pending compression summaries + task 2's
    aggregates, deliver it when SMTP settings are provided and the
    summaries list at least one file, then remove the handoff. Always
    writes the rendered HTML under ``work_dir`` and returns it.

    Delivery is at-least-once: a crash between the send and the
    removal sends the same files again on the next run."""
    paths = _work_paths(work_dir)
    file_summaries = _pending_summaries(paths["summaries"])
    top = None
    if os.path.exists(paths["aggregates"]):
        top = top_segments(pq.read_table(paths["aggregates"]).to_pylist())
    html = render_html_report(file_summaries, top)
    with open(paths["html"], "w", encoding="utf-8") as f:
        f.write(html)
    if file_summaries:
        if smtp:
            send_html_report(html, **smtp)
        os.remove(paths["summaries"])
    return html


def build_dag(
    watch_dir: str,
    work_dir: str,
    prefix: str = "loan_",
    min_age_s: float = 0.0,
    smtp: dict | None = None,
    spark_factory=None,
    schedule: str = "*/1 * * * *",
):
    """The reference DAG (same dag_id, task_ids, schedule, retry
    policy — drive_auto_compress_email.py:571-602) bound to the
    engine's task bodies. Requires Airflow at CALL time only.

    ``spark_factory``: zero-arg callable returning the SparkSession
    task 2 parses with; defaults to the engine's ``session.get_spark``.
    Only task 2 takes it, and calls it only when a file needs parsing.
    Under an executor that runs each task instance in a new process
    (the reference's LocalExecutor), a minute with nothing to parse
    therefore starts no JVM and a data minute starts one; the
    reference starts a session in two of its three tasks every
    minute."""
    try:
        from airflow import DAG
        from airflow.operators.python import PythonOperator
    except ImportError as e:
        raise RuntimeError(
            "build_dag needs apache-airflow installed; the task bodies "
            "(poll_and_process_drive_files / run_spark_etl / "
            "send_summary_email) run without it — drive them from any "
            "scheduler"
        ) from e

    factory = spark_factory or (lambda: get_spark("drive_dag"))

    dag = DAG(
        dag_id="drive_auto_compress_email",
        description=(
            "Poll a Drive-shaped source, compress CSVs, run the loan "
            "ETL, and email the summary (engine-native plans)."
        ),
        default_args={"owner": "airflow", "retries": 1,
                      "retry_delay": timedelta(minutes=1)},
        schedule=schedule,
        catchup=False,
        max_active_runs=1,
        tags=["drive", "compression", "email", "spark"],
    )
    # do_xcom_push=False: the bodies return their results for DIRECT
    # callers; letting Airflow push the compression summaries / HTML
    # report to XCom would round-trip them through the scheduler DB on
    # every tick — exactly the handoff cost the work_dir artifacts
    # exist to avoid.
    with dag:
        t1 = PythonOperator(
            task_id="poll_and_process_drive_files",
            do_xcom_push=False,
            python_callable=lambda: poll_and_process_drive_files(
                watch_dir, work_dir, prefix=prefix, min_age_s=min_age_s,
            ),
        )
        t2 = PythonOperator(
            task_id="run_spark_etl",
            do_xcom_push=False,
            python_callable=lambda: run_spark_etl(factory, watch_dir, work_dir),
        )
        t3 = PythonOperator(
            task_id="send_summary_email",
            do_xcom_push=False,
            python_callable=lambda: send_summary_email(work_dir, smtp=smtp),
        )
        t1 >> t2 >> t3
    return dag
