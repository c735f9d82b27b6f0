"""Smoke test of the benchmark itself at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced (a Spark session per
run, a few minutes in all). Checks that every metric in BENCHMARK.json
is emitted with its unit, that no operation failed, and that the
benchmark refuses to run without the engine next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, QUERY_MODULES, SPANS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# spans each workload's calls must open, and counters it must move
BATCH_ONLY = {"io.write_parquet", "io.is_empty", "catalog.load_table", "loan_etl.run_loan_etl"}
LOAN_CORE = {"cleaning.fill_nulls_with_mode", "dates.split_datetime", "aggregates.grouped_metrics"}
CALLED = {
    "drive_history": {
        "spans": set(SPANS) - BATCH_ONLY,
        "counters": ["drive_source.bytes_read", "drive_source.useful_bytes_ratio",
                     "file_source.ledger_rows", "io.rows_scanned", "io.new_rows_ratio",
                     "report.html_bytes"],
    },
    "batch_mix": {
        "spans": BATCH_ONLY | LOAN_CORE | {f"query.{m}" for m in QUERY_MODULES},
        "counters": ["io.bytes_written", "io.files_written"],
    },
}


def _span_metric(span: str) -> str:
    if span.startswith("query."):
        return f"{span[len('query.'):]}.query_s"
    return f"{span}_s"


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_spec_matches_emitted_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} == {"drive_history", "batch_mix"}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["drive_history", "batch_mix"])
def test_tiny_run(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--sizes", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values())
        return
    # a span whose wrapper was never reached would read 0 here
    called = CALLED[workload]
    for span in called["spans"]:
        assert values[_span_metric(span)] > 0, span
    for counter in called["counters"]:
        assert values[counter] > 0, counter
    assert values["session.get_spark_s"] > 0 and values["trace.spans"] > 0


def test_refuses_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", "batch_mix", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
