"""End-to-end reference-parity pipeline over a synthesized loan CSV
fixture (FIXTURES.md §1): multi-file glob union (SET1) → mode imputation
(A1/A2) → date split (D1-D3) → grouped agg (A3) → parquet sinks (K1/K2)
→ top-k report (T3/K6/K7)."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from airflow_loan_etl_pipeline_spark import schemas
from airflow_loan_etl_pipeline_spark.plans.loan_etl import (
    clean_and_aggregate,
    latest_aggregates_summary,
)
from airflow_loan_etl_pipeline_spark.plans.report import render_html_report
from airflow_loan_etl_pipeline_spark.sources.io import read_csv_dir, write_parquet

HEADER = (
    "loan_id,customer_id,created_at,amount,interest_rate,tenure_months,"
    "status,product_type,branch,credit_score_band"
)

FILE_A = [
    "LN1,CU1,2024-03-01 10:00:00,1000.0,5.5,12,ACTIVE,PERSONAL,North,GOOD",
    "LN2,CU1,2024-03-02 11:30:00,2000.0,6.0,24,ACTIVE,HOME,North,GOOD",
    "LN3,CU2,2024-03-03 09:15:00,,7.0,36,CLOSED,PERSONAL,South,FAIR",
    "LN4,CU3,2024-03-04 14:45:00,4000.0,5.5,12,,PERSONAL,North,GOOD",
]
FILE_B = [
    "LN5,CU2,2024-03-05 16:20:00,5000.0,,60,ACTIVE,AUTO,South,POOR",
    "LN6,CU4,,6000.0,8.0,12,ACTIVE,PERSONAL,,EXCELLENT",
]
FILE_C = [
    "LN7,CU5,2024-03-06 08:00:00,7000.0,6.5,24,CLOSED,HOME,East,GOOD",
    "LN8,CU5,2024-03-06 09:00:00,,6.5,24,ACTIVE,HOME,East,",
    "LN9,CU6,2024-03-07 12:00:00,900.0,9.0,6,ACTIVE,PERSONAL,North,FAIR",
]
FILE_D = [
    "LN10,CU7,2024-03-08 13:00:00,3000.0,5.0,12,CLOSED,AUTO,South,GOOD",
]


def _write_loans(path, rows: list[str]) -> None:
    path.write_text(HEADER + "\n" + "\n".join(rows) + "\n")


def _land(tmp_path) -> str:
    d = str(tmp_path / "raw")
    os.makedirs(d)
    for name, rows in (("loan_a.csv", FILE_A), ("loan_b.csv", FILE_B)):
        with open(os.path.join(d, name), "w") as f:
            f.write(HEADER + "\n" + "\n".join(rows) + "\n")
    return d


def test_loan_etl_end_to_end(spark, tmp_path):
    raw = _land(tmp_path)
    df = read_csv_dir(spark, raw + "/*.csv", schema=schemas.LOAN)
    assert df.count() == 6  # SET1: both files unioned by the glob

    cleaned, aggs = clean_and_aggregate(
        df,
        group_cols=["status", "product_type", "branch"],
        amount_col="amount",
        date_col="created_at",
    )
    rows = {r["loan_id"]: r for r in cleaned.collect()}
    # A2: nulls imputed with column modes
    assert rows["LN3"]["amount"] == 1000.0  # mode amount (tie -> min value)
    assert rows["LN4"]["status"] == "ACTIVE"
    assert rows["LN6"]["branch"] == "North"
    # D1-D3: date split on parseable timestamps; null created_at -> nulls
    assert str(rows["LN1"]["created_date"]) == "2024-03-01"
    assert rows["LN1"]["created_time"] == "10:00:00"
    # LN6's created_at was imputed with the mode timestamp string, so it
    # parses; the raw-null case is covered when imputation is scoped off.
    agg_rows = aggs.collect()
    assert sum(r["loan_count"] for r in agg_rows) == 6
    assert all(r["status"] is not None for r in agg_rows)

    # K1/K2 sinks + re-read
    out = str(tmp_path / "out")
    write_parquet(aggs, out + "/aggregates")
    reread = spark.read.parquet(out + "/aggregates")
    assert reread.count() == len(agg_rows)

    # T3/K6/K7 report edge
    top = latest_aggregates_summary(reread, limit=3)
    assert len(top) <= 3
    assert top[0]["loan_count"] == max(r["loan_count"] for r in agg_rows)
    html = render_html_report(
        [{"file": "loan_a.csv", "ratio": 0.4, "size": "2.0 KB"}], top
    )
    assert "<table>" in html and "2.0 KB" in html


def test_date_split_absent_column_is_noop(spark):
    df = spark.createDataFrame([("x",)], "a string")
    from airflow_loan_etl_pipeline_spark.operators.dates import split_datetime

    assert split_datetime(df, source_col="created_at").columns == ["a"]


def test_legacy_parser_divergence_documented(spark, tmp_path):
    """VERDICT r1 item 10 — the asserted divergence list. The CSV path
    pins one timestampFormat (io.py) where the reference's global
    LEGACY parser policy (loan_spark_etl.py:42) is fully lenient.
    Strict path: ONLY 'yyyy-MM-dd HH:mm:ss' parses; everything sloppier
    nulls out (PERMISSIVE)."""
    from pyspark.sql import types as T

    cases = {
        "iso": "2024-03-01 10:00:00",      # parses
        "iso_t": "2024-03-01T10:00:00",    # NULL
        "date_only": "2024-03-01",         # NULL
        "slash_us": "3/7/2021",            # NULL
        "slash_2digit": "3/7/21",          # NULL
        "single_digit": "2021-3-7 5:4:3",  # NULL
        "frac": "2024-03-01 10:00:00.123", # NULL
        "garbage": "not a date",           # NULL (no silent junk)
    }
    p = tmp_path / "ts"
    p.mkdir()
    (p / "a.csv").write_text(
        "k,ts\n" + "".join(f"{k},{v}\n" for k, v in cases.items())
    )
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    strict = {r.k: r.ts for r in read_csv_dir(spark, str(p), schema=schema).collect()}
    assert strict["iso"] is not None
    for k in ("iso_t", "date_only", "slash_us", "slash_2digit",
              "single_digit", "frac", "garbage"):
        assert strict[k] is None, k


def test_read_csv_dir_quarantines_corrupt_rows(spark, tmp_path):
    """PERMISSIVE ingest: malformed cells null out, raw row preserved in
    _corrupt_record; clean rows parse normally."""
    from pyspark.sql import types as T

    from airflow_loan_etl_pipeline_spark.sources.io import read_csv_dir

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.csv").write_text(
        "loan_id,amount\nL1,100.5\nL2,not_a_number\nL3,7.25\n"
    )
    schema = T.StructType(
        [
            T.StructField("loan_id", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    df = read_csv_dir(spark, str(p), schema=schema, keep_corrupt=True).cache()
    rows = {r["loan_id"]: r for r in df.collect()}
    assert rows["L1"]["amount"] == 100.5 and rows["L1"]["_corrupt_record"] is None
    assert rows["L2"]["amount"] is None
    assert rows["L2"]["_corrupt_record"] == "L2,not_a_number"
    assert rows["L3"]["amount"] == 7.25
    df.unpersist()


def test_send_html_report_over_loopback_smtp():
    """K7 delivery: real SMTP send against an in-process loopback
    server (reference sends via smtplib the same way,
    drive_auto_compress_email.py:510-514). Asserts the MIME envelope
    and the HTML body arrive intact."""
    import asyncore
    import threading
    import time as _time
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import smtpd

    from airflow_loan_etl_pipeline_spark.plans.report import send_html_report

    received = []

    class Sink(smtpd.SMTPServer):
        def process_message(self, peer, mailfrom, rcpttos, data, **kwargs):
            received.append((mailfrom, list(rcpttos), data))

    srv = Sink(("127.0.0.1", 0), None)
    port = srv.socket.getsockname()[1]
    t = threading.Thread(
        target=asyncore.loop, kwargs={"timeout": 0.1}, daemon=True
    )
    t.start()
    try:
        html = render_html_report(
            [{"file": "loan_a.csv", "ratio": 0.4}], [{"seg": "N", "n": 3}]
        )
        send_html_report(
            html, "loan ETL summary", "etl@example.com",
            ["ops@example.com"], host="127.0.0.1", port=port,
        )
        deadline = _time.time() + 10
        while not received and _time.time() < deadline:
            _time.sleep(0.05)
        assert received, "SMTP sink never received the message"
        mailfrom, rcpttos, data = received[0]
        assert mailfrom == "etl@example.com"
        assert rcpttos == ["ops@example.com"]
        body = data.decode("utf-8", errors="replace")
        assert "loan ETL summary" in body
        assert "loan_a.csv" in body
    finally:
        srv.close()


def test_payment_schedule_amortizes_to_zero(spark):
    """Closed-form balance must equal the recursive amortization: the
    final month's balance is 0.00 and each month's balance equals
    prev*(1+r) - payment (checked sequentially for one loan)."""
    from airflow_loan_etl_pipeline_spark.registry import (
        loan_payment_schedule,
    )

    rows = loan_payment_schedule(spark, "/root/testdata/sf0.001").collect()
    by_loan = {}
    for r in rows:
        by_loan.setdefault(r.loan_id, {})[r.month] = r
    # pick any loan; verify the recursion against the closed form
    loan_id, months = next(iter(by_loan.items()))
    n = max(months)
    assert months[n].balance == 0.0
    # recompute recursively from the fixture-derived terms
    import math

    principal = None
    r_m = (0.03 + (loan_id % 10) * 0.005) / 12.0
    pay = months[1].payment
    # back out the principal from month 1: b1 = P(1+r) - pay
    principal = (months[1].balance + pay) / (1 + r_m)
    bal = principal
    for m in range(1, n + 1):
        bal = bal * (1 + r_m) - pay
        # `pay` is the ROUNDED payment (±0.005); recursing with it
        # compounds that rounding: |drift| <= 0.005 * ((1+r)^m - 1)/r.
        bound = 0.005 * ((1 + r_m) ** m - 1) / r_m + 0.03
        assert math.isclose(months[m].balance, bal, abs_tol=bound), (m, bal)


def test_drive_pipeline_full_dag_equivalent(spark, tmp_path):
    """The whole reference DAG in one call (poll -> screen -> compress
    -> ETL -> report), plus the cron-idempotency contract: a second
    tick with no new files is a no-op before any data work, and a
    third tick with one new file processes ONLY it."""
    import gzip

    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    for name, rows in (("loan_a.csv", FILE_A), ("loan_b.csv", FILE_B)):
        (watch / name).write_text(HEADER + "\n" + "\n".join(rows) + "\n")
    (watch / "other.csv").write_text("x\n1\n")  # prefix-excluded
    (watch / "loan_x.json").write_text("{}")   # mime-excluded

    summaries, aggs, html = run_drive_pipeline(
        spark, str(watch), work, prefix="loan_"
    )
    assert sorted(s["filename"] for s in summaries) == [
        "loan_a.csv",
        "loan_b.csv",
    ]
    for s in summaries:
        assert s["original_size"] > 0 and s["compressed_size"] > 0
        assert 0 < s["ratio"]
        # the gzip written by the tick round-trips to the original bytes
        raw = (watch / s["filename"]).read_bytes()
        assert gzip.decompress(open(s["compressed_path"], "rb").read()) == raw
    assert sum(r["loan_count"] for r in aggs.collect()) == 6
    assert "<table>" in html and "loan_a.csv" in html

    # tick 2: nothing new -> early no-op
    summaries2, aggs2, html2 = run_drive_pipeline(
        spark, str(watch), work, prefix="loan_"
    )
    assert summaries2 == [] and aggs2 is None and html2 is None

    # tick 3: one new file -> only it is compressed; ETL sees all three
    (watch / "loan_c.csv").write_text(
        HEADER + "\nLN7,900.0,ACTIVE,personal,North,2024-03-05 09:00:00\n"
    )
    summaries3, aggs3, _ = run_drive_pipeline(
        spark, str(watch), work, prefix="loan_"
    )
    assert [s["filename"] for s in summaries3] == ["loan_c.csv"]
    assert sum(r["loan_count"] for r in aggs3.collect()) == 7


def test_compress_fresh_gzips_on_the_driver(tmp_path):
    """No Spark session: one normal and one zero-byte file become gzip
    files that round-trip, with exact sizes, a 0.0 ratio for the empty
    file and the report's column order."""
    import gzip

    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import compress_fresh

    watch = tmp_path / "watch"
    watch.mkdir()
    _write_loans(watch / "loan_a.csv", FILE_A)
    (watch / "loan_empty.csv").write_bytes(b"")
    fresh = [(n, str(watch / n), 0.0) for n in ("loan_a.csv", "loan_empty.csv")]
    work = str(tmp_path / "work")

    summaries = compress_fresh(fresh, work)

    assert [s["filename"] for s in summaries] == ["loan_a.csv", "loan_empty.csv"]
    for s in summaries:
        assert list(s) == [
            "filename", "original_size", "compressed_size", "compressed_path", "ratio",
        ]
        raw = (watch / s["filename"]).read_bytes()
        gz = open(s["compressed_path"], "rb").read()
        gz_path = os.path.join(work, "compressed", s["filename"] + ".gz")
        assert s["compressed_path"] == gz_path
        assert gzip.decompress(gz) == raw
        assert (s["original_size"], s["compressed_size"]) == (len(raw), len(gz))
    assert summaries[0]["ratio"] == summaries[0]["compressed_size"] / len(
        (watch / "loan_a.csv").read_bytes()
    )
    assert summaries[1]["ratio"] == 0.0


def test_drive_tick_commits_zero_byte_file(spark, tmp_path):
    """A data tick whose only fresh file is empty commits it and leaves
    the totals as they were."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    _write_loans(watch / "loan_a.csv", FILE_A)
    _s, aggs, _h = run_drive_pipeline(spark, str(watch), work)
    cols = sorted(aggs.columns)
    before = sorted(map(tuple, aggs.select(*cols).collect()))

    (watch / "loan_empty.csv").write_bytes(b"")
    summaries, aggs2, html = run_drive_pipeline(spark, str(watch), work)

    assert [(s["filename"], s["original_size"], s["ratio"]) for s in summaries] == [
        ("loan_empty.csv", 0, 0.0)
    ]
    assert sorted(map(tuple, aggs2.select(*cols).collect())) == before
    assert "loan_empty.csv" in html
    assert sorted(_ledger_rows(os.path.join(work, "ledger"))) == [
        "loan_a.csv", "loan_empty.csv",
    ]
    assert run_drive_pipeline(spark, str(watch), work) == ([], None, None)


def test_airflow_dag_task_bodies_equivalent_to_single_plan(spark, tmp_path):
    """The Airflow binding's three task bodies (plans/airflow_dag.py —
    reference task_ids poll_and_process_drive_files / run_spark_etl /
    send_summary_email), driven in sequence WITHOUT Airflow, must
    produce the same aggregates and report as the engine's single-plan
    run_drive_pipeline, keep the ledger idempotent across ticks, and
    report no totals once every source file is deleted."""
    from airflow_loan_etl_pipeline_spark.plans import airflow_dag as ad
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    for name, rows in (("loan_a.csv", FILE_A), ("loan_b.csv", FILE_B)):
        (watch / name).write_text(HEADER + "\n" + "\n".join(rows) + "\n")

    # task-split form
    work_t = str(tmp_path / "work_tasks")
    s1 = ad.poll_and_process_drive_files(str(watch), work_t)
    assert sorted(s["filename"] for s in s1) == ["loan_a.csv", "loan_b.csv"]
    n = ad.run_spark_etl(lambda: spark, str(watch), work_t)
    assert n > 0
    html_t = ad.send_summary_email(work_t)
    assert "<table>" in html_t and "loan_a.csv" in html_t

    # single-plan form on identical input
    work_s = str(tmp_path / "work_single")
    _s, aggs, html_s = run_drive_pipeline(spark, str(watch), work_s)
    task_aggs = spark.read.parquet(
        ad._work_paths(work_t)["aggregates"]
    )
    cols = sorted(task_aggs.columns)
    assert sorted(aggs.columns) == cols
    assert sorted(map(tuple, task_aggs.select(*cols).collect())) == sorted(
        map(tuple, aggs.select(*cols).collect())
    )
    # identical reports modulo the work-dir embedded in compressed
    # file paths
    assert html_t.replace(work_t, "WORK") == html_s.replace(work_s, "WORK")

    # tick 2: no new files -> task 1 returns [], ETL still idempotent
    assert ad.poll_and_process_drive_files(str(watch), work_t) == []
    assert ad.run_spark_etl(lambda: spark, str(watch), work_t) == n

    # tick 3: every source file deleted -> no aggregates, and the report
    # must not show the previous tick's totals as current
    for name in ("loan_a.csv", "loan_b.csv"):
        (watch / name).unlink()
    assert ad.poll_and_process_drive_files(str(watch), work_t) == []
    assert ad.run_spark_etl(lambda: spark, str(watch), work_t) == 0
    html_3 = ad.send_summary_email(work_t)
    assert "<h2>Top segments</h2><p>(none)</p>" in html_3


def _ledger_rows(ledger_path: str) -> list[str]:
    import pyarrow.parquet as pq

    if not os.path.exists(ledger_path):
        return []
    return pq.read_table(ledger_path, columns=["file_id"])["file_id"].to_pylist()


def test_drive_tick_survives_deleted_ledgered_file(spark, tmp_path):
    """A ledgered source file deleted between ticks drops out of the
    totals: the next tick still succeeds, gzips only the new file, and
    aggregates exactly the files still present (re-reading every
    ledgered name failed each later tick with PATH_NOT_FOUND)."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    _write_loans(watch / "loan_a.csv", FILE_A)
    _write_loans(watch / "loan_b.csv", FILE_B)
    run_drive_pipeline(spark, str(watch), work)
    gz_dir = os.path.join(work, "compressed")
    gz_before = {n: os.stat(os.path.join(gz_dir, n)).st_mtime_ns
                 for n in os.listdir(gz_dir)}

    (watch / "loan_a.csv").unlink()
    _write_loans(watch / "loan_c.csv", FILE_C)
    summaries, aggs, html = run_drive_pipeline(spark, str(watch), work)

    assert [s["filename"] for s in summaries] == ["loan_c.csv"]
    gz_after = {n: os.stat(os.path.join(gz_dir, n)).st_mtime_ns
                for n in os.listdir(gz_dir)}
    assert set(gz_after) - set(gz_before) == {"loan_c.csv.gz"}
    assert all(gz_after[n] == t for n, t in gz_before.items())
    assert sum(r["loan_count"] for r in aggs.collect()) == len(FILE_B) + len(FILE_C)
    assert "loan_c.csv" in html
    # the deleted file stays processed: re-landing it is not new work
    assert set(_ledger_rows(os.path.join(work, "ledger"))) == {
        "loan_a.csv", "loan_b.csv", "loan_c.csv",
    }


def _inject_crash(monkeypatch, point: str, ledger_path: str) -> None:
    """Raise inside the next tick at ``point``: after the gzip pass but
    before the report, after the partials are computed but before they
    are folded, after ``ledger.tmp`` is written but before it replaces
    the ledger, or right after the replace."""
    from airflow_loan_etl_pipeline_spark.plans import drive_pipeline

    def crash(*_args, **_kwargs):
        raise RuntimeError("injected crash")

    if point == "after_gzip":
        monkeypatch.setattr(drive_pipeline, "render_html_report", crash)
        return
    if point == "after_partials":
        monkeypatch.setattr(drive_pipeline, "fold_partials", crash)
        return
    real_replace = os.replace

    def replace(src, dst):
        if dst != ledger_path:
            return real_replace(src, dst)
        assert os.path.exists(src)  # ledger.tmp is on disk
        if point == "after_replace":
            real_replace(src, dst)
        crash()

    monkeypatch.setattr(os, "replace", replace)


@pytest.mark.parametrize(
    "point", ["after_gzip", "after_partials", "before_replace", "after_replace"]
)
def test_drive_tick_exactly_once_across_crashes(spark, tmp_path, monkeypatch, point):
    """Fault injection: a tick that crashes at ``point`` and is then
    re-run commits every file in exactly one tick, the ledger holds one
    row per landed file, each successful tick reports exactly the files
    it committed, and the final aggregates equal a crash-free run bit
    for bit: the last tick folds stored partials, the crash-free run
    parses every file fresh."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    ledger_path = os.path.join(work, "ledger")
    committed, reported = [], []  # per tick attempt

    def tick():
        before = set(_ledger_rows(ledger_path))
        try:
            out = run_drive_pipeline(spark, str(watch), work)
            reported.append({s["filename"] for s in out[0]})
            return out
        except RuntimeError:
            reported.append(None)
            raise
        finally:
            committed.append(set(_ledger_rows(ledger_path)) - before)

    _write_loans(watch / "loan_a.csv", FILE_A)
    _write_loans(watch / "loan_b.csv", FILE_B)
    tick()
    _write_loans(watch / "loan_c.csv", FILE_C)
    with monkeypatch.context() as m:
        _inject_crash(m, point, ledger_path)
        with pytest.raises(RuntimeError, match="injected crash"):
            tick()
    assert os.path.exists(os.path.join(work, "compressed", "loan_c.csv.gz"))
    tick()  # the replay
    _write_loans(watch / "loan_d.csv", FILE_D)
    _s, aggs, _h = tick()

    landed = ["loan_a.csv", "loan_b.csv", "loan_c.csv", "loan_d.csv"]
    assert sorted(n for c in committed for n in c) == landed
    assert committed[1] == ({"loan_c.csv"} if point == "after_replace" else set())
    assert sorted(_ledger_rows(ledger_path)) == landed
    for got, want in zip(reported, committed):
        assert got is None or got == want
    _s, ref, _h = run_drive_pipeline(spark, str(watch), str(tmp_path / "ref"))
    cols = sorted(ref.columns)
    assert sorted(map(tuple, aggs.select(*cols).collect())) == sorted(
        map(tuple, ref.select(*cols).collect())
    )


def _run_three_tasks(spark, watch, work) -> None:
    """One minute of the three-task form."""
    from airflow_loan_etl_pipeline_spark.plans import airflow_dag as ad

    ad.poll_and_process_drive_files(str(watch), work)
    ad.run_spark_etl(lambda: spark, str(watch), work)
    ad.send_summary_email(work, smtp={"subject": "loans"})


@pytest.fixture
def mails(monkeypatch) -> list[str]:
    """The reports the three-task form delivers, one HTML string each."""
    from airflow_loan_etl_pipeline_spark.plans import airflow_dag as ad

    sent: list[str] = []
    monkeypatch.setattr(ad, "send_html_report", lambda html, **kw: sent.append(html))
    return sent


def _mailed_files(mails: list[str]) -> list[str]:
    """Every processed-file cell of every delivered report."""
    import re

    return sorted(
        name for html in mails
        for name in re.findall(r"<td>(loan_\w+\.csv)</td>", html)
    )


def test_airflow_dag_idle_minute_sends_no_mail(spark, tmp_path, mails):
    """The three-task form mails only when task 1 handed over files,
    as the reference skips its email when nothing is new: an idle
    minute renders the report but sends nothing, a data minute sends
    one mail."""
    from airflow_loan_etl_pipeline_spark.plans import airflow_dag as ad

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")

    _run_three_tasks(spark, watch, work)
    assert mails == []
    assert os.path.exists(ad._work_paths(work)["html"])

    _write_loans(watch / "loan_a.csv", FILE_A)
    _run_three_tasks(spark, watch, work)
    assert _mailed_files(mails) == ["loan_a.csv"]

    _run_three_tasks(spark, watch, work)
    assert len(mails) == 1


@pytest.mark.parametrize(
    "point", ["before_replace", "after_replace", "etl_before_replace", "etl_after_replace"]
)
def test_airflow_dag_exactly_once_across_task1_crash(
    spark, tmp_path, monkeypatch, mails, point
):
    """Fault injection in the three-task form: task 1 crashes inside its
    ledger commit, or task 2 inside its partials commit (``etl_``),
    before or after the ``os.replace``; the minute is retried. Every
    landed file appears in exactly one delivered report, the ledger
    holds one row per file, and the retried minute's aggregates equal
    a crash-free run's."""
    from airflow_loan_etl_pipeline_spark.plans import airflow_dag as ad
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    ledger_path = os.path.join(work, "ledger")

    _write_loans(watch / "loan_a.csv", FILE_A)
    _run_three_tasks(spark, watch, work)
    _write_loans(watch / "loan_b.csv", FILE_B)
    _write_loans(watch / "loan_c.csv", FILE_C)
    with monkeypatch.context() as m:
        if point.startswith("etl_"):
            ad.poll_and_process_drive_files(str(watch), work)
            _inject_crash(m, point[len("etl_"):], ledger_path)
            with pytest.raises(RuntimeError, match="injected crash"):
                ad.run_spark_etl(lambda: spark, str(watch), work)
        else:
            _inject_crash(m, point, ledger_path)
            with pytest.raises(RuntimeError, match="injected crash"):
                ad.poll_and_process_drive_files(str(watch), work)
    _run_three_tasks(spark, watch, work)  # the retry
    task_aggs = spark.read.parquet(ad._work_paths(work)["aggregates"])
    _s, ref, _h = run_drive_pipeline(spark, str(watch), str(tmp_path / "ref"))
    cols = sorted(ref.columns)
    assert sorted(map(tuple, task_aggs.select(*cols).collect())) == sorted(
        map(tuple, ref.select(*cols).collect())
    )
    _write_loans(watch / "loan_d.csv", FILE_D)
    _run_three_tasks(spark, watch, work)
    _run_three_tasks(spark, watch, work)  # idle

    landed = ["loan_a.csv", "loan_b.csv", "loan_c.csv", "loan_d.csv"]
    assert _mailed_files(mails) == landed
    assert len(mails) == 3
    assert sorted(_ledger_rows(ledger_path)) == landed


def test_airflow_dag_uses_spark_only_to_parse(spark, tmp_path, mails):
    """The three-task form asks for a session only when task 2 has a
    file to parse: a data minute calls the factory once and runs at
    most 2 Spark jobs, all in task 2; an idle minute and a minute after
    a file was deleted call it never and run no job."""
    from airflow_loan_etl_pipeline_spark.plans import airflow_dag as ad

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    calls = []

    def factory():
        calls.append(1)
        return spark

    def minute(label):
        del calls[:]
        tasks = [
            lambda: ad.poll_and_process_drive_files(str(watch), work),
            lambda: ad.run_spark_etl(factory, str(watch), work),
            lambda: ad.send_summary_email(work, smtp={"subject": "loans"}),
        ]
        jobs = [len(_jobs_of(spark, f"three-task-{label}-{i}", t)[1]) for i, t in enumerate(tasks)]
        return len(calls), jobs

    _write_loans(watch / "loan_a.csv", FILE_A)
    _write_loans(watch / "loan_b.csv", FILE_B)
    n_calls, (t1, t2, t3) = minute("data")
    assert n_calls == 1
    assert t1 == t3 == 0 and 0 < t2 <= 2
    assert minute("idle") == (0, [0, 0, 0])
    (watch / "loan_a.csv").unlink()
    assert minute("deleted") == (0, [0, 0, 0])
    assert _mailed_files(mails) == ["loan_a.csv", "loan_b.csv"]


def test_top_segments_ranks_like_latest_aggregates_summary(spark):
    """The driver-side top 10 of the tick orders rows as the Spark
    report query does: loan_count DESC, then the other columns ASC with
    nulls first."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import top_segments

    rows = [
        {"status": s, "product_type": p, "branch": b, "loan_count": n, "total_amount": t}
        for s, p, b, n, t in [
            ("A", "P", "N", 3, 10.0), (None, "P", "N", 3, 1.0), ("A", None, "N", 3, 2.0),
            ("A", "P", None, 5, None), ("A", "P", "S", 3, None), ("B", "H", "N", 1, 4.0),
            ("A", "P", "N", 3, 9.5), ("B", "H", "N", 1, None),
        ]
    ]
    aggs = spark.createDataFrame(
        [tuple(r.values()) for r in rows],
        "status string, product_type string, branch string, loan_count bigint, "
        "total_amount double",
    )
    for limit in (3, 10):
        assert top_segments(rows, limit) == latest_aggregates_summary(aggs, limit=limit)


def test_drive_idle_poll_launches_no_spark_job(spark, tmp_path):
    """A tick with nothing new decides on the driver: zero Spark jobs
    under its job group (the data tick before it, counted the same
    way, launches some)."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    sc = spark.sparkContext
    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    _write_loans(watch / "loan_a.csv", FILE_A)

    def jobs_of_tick(group):
        sc.setJobGroup(group, group)
        try:
            out = run_drive_pipeline(spark, str(watch), work)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    _out, data_jobs = jobs_of_tick("drive-tick-data")
    assert len(data_jobs) > 0
    out, idle_jobs = jobs_of_tick("drive-tick-idle")
    assert out == ([], None, None)
    assert idle_jobs == []



def test_drive_tick_rewritten_ledgered_file_is_not_new(spark, tmp_path):
    """The totals are the current content of the ledgered files still
    in the folder. A ledgered file rewritten under the same name is not
    new: the poll stays idle (no Spark job, no gzip, no summary row),
    and the next data tick's totals include the rewritten rows."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    sc = spark.sparkContext
    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    _write_loans(watch / "loan_a.csv", FILE_A)
    run_drive_pipeline(spark, str(watch), work)
    gz = os.path.join(work, "compressed", "loan_a.csv.gz")
    with open(gz, "rb") as f:
        gz_before = f.read()

    _write_loans(watch / "loan_a.csv", FILE_A + FILE_B)
    sc.setJobGroup("drive-tick-rewrite", "drive-tick-rewrite")
    try:
        out = run_drive_pipeline(spark, str(watch), work)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert out == ([], None, None)
    assert sc.statusTracker().getJobIdsForGroup("drive-tick-rewrite") == []

    _write_loans(watch / "loan_c.csv", FILE_C)
    summaries, aggs, html = run_drive_pipeline(spark, str(watch), work)
    assert [s["filename"] for s in summaries] == ["loan_c.csv"]
    assert "loan_a.csv" not in html
    assert sum(r["loan_count"] for r in aggs.collect()) == (
        len(FILE_A) + len(FILE_B) + len(FILE_C)
    )
    assert sorted(os.listdir(os.path.join(work, "compressed"))) == [
        "loan_a.csv.gz", "loan_c.csv.gz",
    ]
    with open(gz, "rb") as f:
        assert f.read() == gz_before
    assert sorted(_ledger_rows(os.path.join(work, "ledger"))) == [
        "loan_a.csv", "loan_c.csv",
    ]


def _jobs_of(spark, group: str, fn):
    """``(fn(), job ids)`` of the Spark jobs ``fn`` ran under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _record_reads(monkeypatch) -> list[list[str]]:
    """The file names each ``read_csv_dir`` call of the drive tick reads."""
    from airflow_loan_etl_pipeline_spark.plans import drive_pipeline

    reads: list[list[str]] = []
    real = drive_pipeline.read_csv_dir

    def read_csv_dir(spark, path, *args, **kwargs):
        reads.append(sorted(os.path.basename(p) for p in path))
        return real(spark, path, *args, **kwargs)

    monkeypatch.setattr(drive_pipeline, "read_csv_dir", read_csv_dir)
    return reads


def _reference_rows(spark, paths: list[str]) -> list[tuple]:
    """The full recompute the drive tick's fold must equal: the
    reference ETL over every present file."""
    loans = read_csv_dir(spark, paths, schema=schemas.LOAN)
    _cleaned, aggs = clean_and_aggregate(
        loans, ["status", "product_type", "branch"], "amount", "created_at"
    )
    return _sorted_rows(aggs)


def _sorted_rows(aggs) -> list[tuple]:
    cols = ["status", "product_type", "branch", "loan_count", "total_amount"]
    rows = [tuple(r) for r in aggs.select(*cols).collect()]
    return sorted(rows, key=lambda r: [(v is not None, v) for v in r[:3]])


def _assert_same_totals(got: list[tuple], want: list[tuple]) -> None:
    """Keys and counts equal; totals equal within 1e-9 relative."""
    import math

    assert [r[:4] for r in got] == [r[:4] for r in want]
    for g, w in zip(got, want):
        assert (g[4] is None) == (w[4] is None), (g, w)
        if w[4] is not None:
            assert math.isclose(g[4], w[4], rel_tol=1e-9, abs_tol=1e-9), (g, w)


# one CSV row: (status, product_type, branch, amount, tenure_months).
# Few values per column so modes tie and flip; "" is a null cell;
# "abc" is a malformed amount (a column the partials read) and "x" a
# malformed tenure_months (a column they prune).
_ROW = st.tuples(
    st.sampled_from(["A", "B", ""]),
    st.sampled_from(["P", "H", ""]),
    st.sampled_from(["N", "S", ""]),
    st.sampled_from(["1.5", "2.0", "10.25", "1e3", "", "abc"]),
    st.sampled_from(["12", "", "x"]),
)
# per tick, what happens to each of 6 file slots: new content (a list
# of rows; [] is a header-only file), "zero" (a zero-byte file) or
# "delete"
_TICKS = st.lists(
    st.dictionaries(
        st.integers(0, 5),
        st.one_of(
            st.lists(_ROW, max_size=5), st.sampled_from(["zero", "delete"])
        ),
        min_size=1,
        max_size=3,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@example(ticks=[{0: [("A", "P", "N", "", "12"), ("B", "", "N", "abc", "x")]}])
@example(
    ticks=[
        {0: [("A", "P", "N", "2.0", "12"), ("", "", "", "", "12")]},
        {1: [("B", "H", "S", "1.5", "12")] * 2, 0: [("", "P", "", "", "x")]},
        {2: "zero", 1: "delete"},
    ]
)
@given(ticks=_TICKS)
def test_drive_tick_fold_equals_full_recompute(spark, ticks):
    """Property: over any sequence of ticks that land, rewrite, empty
    and delete files, every data tick's aggregates equal the reference
    ETL over the files then present (counts exactly, totals within
    1e-9), and the tick reads only files without current partials."""
    import tempfile

    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    with tempfile.TemporaryDirectory() as tmp, pytest.MonkeyPatch.context() as mp:
        reads = _record_reads(mp)
        watch = os.path.join(tmp, "watch")
        os.makedirs(watch)
        work = os.path.join(tmp, "work")
        stamp = 1_700_000_000 * 10**9
        changed: set[str] = set()  # written since the last data tick
        for tick in ticks:
            for slot, content in sorted(tick.items()):
                path = os.path.join(watch, f"loan_{slot}.csv")
                if content == "delete":
                    if os.path.exists(path):
                        os.remove(path)
                    continue
                with open(path, "w") as f:
                    if content != "zero":
                        f.write(HEADER + "\n" + "".join(
                            f"LN{i},CU1,2024-03-01 10:00:00,{amount},5.5,{tenure},"
                            f"{status},{product},{branch},GOOD\n"
                            for i, (status, product, branch, amount, tenure)
                            in enumerate(content)
                        ))
                # every write is a later write, as a real rewrite is
                stamp += 10**9
                os.utime(path, ns=(stamp, stamp))
                changed.add(os.path.basename(path))
            present = sorted(os.listdir(watch))
            del reads[:]
            summaries, aggs, _html = run_drive_pipeline(spark, watch, work)
            if not summaries:
                assert aggs is None
                continue
            assert reads == [sorted(changed & set(present))]
            changed.clear()
            want = _reference_rows(spark, [os.path.join(watch, n) for n in present])
            _assert_same_totals(_sorted_rows(aggs), want)


def test_drive_tick_reads_only_files_without_partials(spark, tmp_path, monkeypatch):
    """With 5 ledgered files holding partials and 1 fresh file, the
    data tick parses only the fresh file, in at most 2 Spark jobs (the
    aggregation's map stage and result)."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    for n, rows in enumerate([FILE_A, FILE_B, FILE_C, FILE_D, FILE_A]):
        _write_loans(watch / f"loan_{n}.csv", rows)
    run_drive_pipeline(spark, str(watch), work)

    _write_loans(watch / "loan_5.csv", FILE_B)
    reads = _record_reads(monkeypatch)
    (summaries, aggs, _h), jobs = _jobs_of(
        spark, "drive-tick-incremental",
        lambda: run_drive_pipeline(spark, str(watch), work),
    )
    assert [s["filename"] for s in summaries] == ["loan_5.csv"]
    assert reads == [["loan_5.csv"]]
    assert 0 < len(jobs) <= 2
    want = _reference_rows(spark, sorted(str(p) for p in watch.iterdir()))
    _assert_same_totals(_sorted_rows(aggs), want)


def test_drive_tick_backfills_a_names_only_ledger(spark, tmp_path, monkeypatch):
    """A ledger of names only (``file_id`` and ``processed_at``, as
    written before the ledger stored partials): the first data tick
    parses every present file, stores their partials, and the next
    tick parses only its fresh file."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = tmp_path / "work"
    work.mkdir()
    _write_loans(watch / "loan_a.csv", FILE_A)
    _write_loans(watch / "loan_b.csv", FILE_B)
    stamp = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    pq.write_table(
        pa.table({
            "file_id": pa.array(["loan_a.csv", "loan_b.csv", "loan_gone.csv"]),
            "processed_at": pa.array([stamp] * 3, pa.timestamp("us", tz="UTC")),
        }),
        str(work / "ledger"),
    )
    _write_loans(watch / "loan_c.csv", FILE_C)
    reads = _record_reads(monkeypatch)

    summaries, aggs, _h = run_drive_pipeline(spark, str(watch), str(work))

    assert [s["filename"] for s in summaries] == ["loan_c.csv"]
    assert reads == [["loan_a.csv", "loan_b.csv", "loan_c.csv"]]
    want = _reference_rows(spark, sorted(str(p) for p in watch.iterdir()))
    _assert_same_totals(_sorted_rows(aggs), want)
    ledger = pq.read_table(str(work / "ledger")).to_pydict()
    state = dict(zip(ledger["file_id"], zip(ledger["size"], ledger["groups"])))
    assert state["loan_gone.csv"] == (None, None)
    for name in ("loan_a.csv", "loan_b.csv", "loan_c.csv"):
        size, groups = state[name]
        assert size == (watch / name).stat().st_size
        assert groups
    assert dict(zip(ledger["file_id"], ledger["processed_at"]))["loan_a.csv"] == stamp

    _write_loans(watch / "loan_d.csv", FILE_D)
    run_drive_pipeline(spark, str(watch), str(work))
    assert reads[-1] == ["loan_d.csv"]


def test_drive_tick_attributes_url_encoded_file_names(spark, tmp_path):
    """Spark reports a file's name URI-encoded (``loan_a b%20c.csv`` as
    ``loan_a%20b%2520c.csv``); each file's partials still land on its
    own ledger row."""
    import pyarrow.parquet as pq

    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    _write_loans(watch / "loan_a b%20c.csv", FILE_A)
    _write_loans(watch / "loan_a b c.csv", FILE_B)
    _write_loans(watch / "loan_#1.csv", FILE_C)

    _s, aggs, _h = run_drive_pipeline(spark, str(watch), work)

    ledger = pq.read_table(os.path.join(work, "ledger")).to_pydict()
    rows = {
        name: sum(g["n"] for g in groups)
        for name, groups in zip(ledger["file_id"], ledger["groups"])
    }
    assert rows == {
        "loan_a b%20c.csv": len(FILE_A),
        "loan_a b c.csv": len(FILE_B),
        "loan_#1.csv": len(FILE_C),
    }
    want = _reference_rows(spark, sorted(str(p) for p in watch.iterdir()))
    _assert_same_totals(_sorted_rows(aggs), want)


def test_drive_tick_reads_file_names_holding_glob_characters(spark, tmp_path):
    """Landed files named ``loan_[1].csv`` and ``loan_{x}.csv`` are
    read as themselves: the tick commits both with their totals and the
    next tick is idle (Spark globbed their paths and failed every data
    tick with PATH_NOT_FOUND before the ledger commit)."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    _write_loans(watch / "loan_[1].csv", FILE_A)
    _write_loans(watch / "loan_{x}.csv", FILE_B)

    summaries, aggs, _h = run_drive_pipeline(spark, str(watch), work)

    landed = ["loan_[1].csv", "loan_{x}.csv"]
    assert sorted(s["filename"] for s in summaries) == landed
    assert sorted(_ledger_rows(os.path.join(work, "ledger"))) == landed
    assert sum(r["loan_count"] for r in aggs.collect()) == len(FILE_A) + len(FILE_B)
    want = _reference_rows(spark, sorted(str(p) for p in watch.iterdir()))
    _assert_same_totals(_sorted_rows(aggs), want)
    assert run_drive_pipeline(spark, str(watch), work) == ([], None, None)


def test_drive_tick_skips_hidden_file_names(spark, tmp_path):
    """Spark reads no row of a file whose name starts with ``_`` or
    ``.``, even by explicit path, so the screen skips such names: the
    tick neither reports nor commits ``_a.csv``, and its totals are
    those of the files it does take (it reported and committed
    ``_a.csv`` without counting its rows, and the next tick was idle)."""
    from airflow_loan_etl_pipeline_spark.plans.drive_pipeline import (
        run_drive_pipeline,
    )

    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    _write_loans(watch / "_a.csv", FILE_C)
    _write_loans(watch / ".b.csv", FILE_D)
    _write_loans(watch / "c.csv", FILE_B)

    summaries, aggs, _h = run_drive_pipeline(spark, str(watch), work, prefix="")

    assert [s["filename"] for s in summaries] == ["c.csv"]
    assert _ledger_rows(os.path.join(work, "ledger")) == ["c.csv"]
    assert sum(r["loan_count"] for r in aggs.collect()) == len(FILE_B)
    assert run_drive_pipeline(spark, str(watch), work, prefix="") == ([], None, None)


def test_update_ledger_keeps_first_processed_at(spark, tmp_path, monkeypatch):
    """``processed_at`` records the commit that first took each id: a
    later commit stamps only its new ids."""
    import datetime as dt

    import pyarrow.parquet as pq

    from airflow_loan_etl_pipeline_spark.streaming import file_source

    ledger = str(tmp_path / "ledger")
    t1 = dt.datetime(2024, 3, 1, 10, 0, tzinfo=dt.timezone.utc)
    t2 = dt.datetime(2024, 3, 1, 10, 5, tzinfo=dt.timezone.utc)

    def commit(name, stamp):
        class Clock(dt.datetime):
            @classmethod
            def now(cls, tz=None):
                return stamp

        monkeypatch.setattr(file_source, "datetime", Clock)
        processed = spark.createDataFrame([(name,)], "file_id string")
        file_source.update_ledger(spark, ledger, processed)

    commit("a", t1)
    commit("b", t2)
    got = pq.read_table(ledger).to_pydict()
    assert dict(zip(got["file_id"], got["processed_at"])) == {"a": t1, "b": t2}

def test_airflow_dag_builder_gated_on_airflow(tmp_path):
    """build_dag needs Airflow only at call time: importing the module
    never does, and without Airflow installed the call raises the
    documented RuntimeError (skips if Airflow IS present — then the
    builder must return a DAG with the reference's task ids)."""
    from airflow_loan_etl_pipeline_spark.plans import airflow_dag as ad

    try:
        import airflow  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="apache-airflow"):
            ad.build_dag(str(tmp_path / "w"), str(tmp_path / "k"))
        return
    dag = ad.build_dag(str(tmp_path / "w"), str(tmp_path / "k"))
    assert dag.dag_id == "drive_auto_compress_email"
    assert {t.task_id for t in dag.tasks} == {
        "poll_and_process_drive_files", "run_spark_etl",
        "send_summary_email",
    }


def test_engine_parallelism_stock_vs_tuned_session():
    """Regression (ADVICE r6/r7): on a STOCK external session (no
    shuffle.partitions set) engine_parallelism must fall back to
    defaultParallelism — not widen every numbered repartition to
    Spark's legacy 200 — while an explicitly tuned width (even 200)
    still wins the max(). Runs in a subprocess so the suite's shared
    session is untouched."""
    import subprocess
    import sys

    code = """
from pyspark.sql import SparkSession
from airflow_loan_etl_pipeline_spark.session import engine_parallelism
spark = SparkSession.builder.master("local[4]").getOrCreate()
assert engine_parallelism(spark) == 4, engine_parallelism(spark)
spark.conf.set("spark.sql.shuffle.partitions", "200")
assert engine_parallelism(spark) == 200
spark.conf.set("spark.sql.shuffle.partitions", "2048")
assert engine_parallelism(spark) == 2048
# a numbered-repartition operator inherits the stock width: rebuild
spark.conf.unset("spark.sql.shuffle.partitions")
from airflow_loan_etl_pipeline_spark.operators.topk import global_rank
df = spark.range(100).selectExpr("id", "id % 7 AS v")
ranked = global_rank(df, order_cols=["v", "id"])
assert ranked.count() == 100
print("OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "OK" in out.stdout


def test_get_spark_precedence_over_submitted_conf():
    """The session's master and shuffle width come from the argument,
    else ``SPARK_GRAFT_CPUS``, else what the deployment submitted
    (``$PYSPARK_SUBMIT_ARGS`` here), else Spark's defaults; it forced
    ``local[32]`` and 32 partitions over a submitted master. Runs in
    subprocesses so the suite's shared session is untouched."""
    import subprocess
    import sys

    code = """
from airflow_loan_etl_pipeline_spark.session import get_spark
spark = get_spark()
print(spark.sparkContext.master, spark.conf.get("spark.sql.shuffle.partitions"))
"""
    submitted = "--master local[2] --conf spark.sql.shuffle.partitions=7 pyspark-shell"
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env.update(PYSPARK_SUBMIT_ARGS=submitted, SPARK_GRAFT_DRIVER_MEM="1g")

    def session_of(env):
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            timeout=240,
            env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout.split()[-2:]

    assert session_of(env) == ["local[2]", "7"]
    assert session_of({**env, "SPARK_GRAFT_CPUS": "3"}) == ["local[3]", "3"]
