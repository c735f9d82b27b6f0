"""Metric names and units the benchmark reports. ``BENCHMARK.json``
lists the same names; the smoke test keeps the two in step."""

from __future__ import annotations

from workloads import QUERY_MIX

# untraced runs (--trace 0)
END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "idle_p50_s": "s",
    "cycle_p50_s": "s",
    "peak_rss_mb": "MB",
}

# span name -> (module under the package, function): wrapped in traced
# cycles; each yields <span>_s, <span>.self_s, <span>.jobs, <span>.tasks
SPANS = {
    "drive_pipeline": ("plans.drive_pipeline", "run_drive_pipeline"),
    "file_source.load_ledger": ("streaming.file_source", "load_ledger"),
    "file_source.update_ledger": ("streaming.file_source", "update_ledger"),
    "io.read_csv_dir": ("sources.io", "read_csv_dir"),
    "io.write_parquet": ("sources.io", "write_parquet"),
    "io.is_empty": ("sources.io", "is_empty"),
    "catalog.load_table": ("catalog", "load_table"),
    "cleaning.fill_nulls_with_mode": ("operators.cleaning", "fill_nulls_with_mode"),
    "dates.split_datetime": ("operators.dates", "split_datetime"),
    "aggregates.grouped_metrics": ("operators.aggregates", "grouped_metrics"),
    "loan_etl.run_loan_etl": ("plans.loan_etl", "run_loan_etl"),
    "loan_etl.latest_aggregates_summary": ("plans.loan_etl", "latest_aggregates_summary"),
    "report.render_html_report": ("plans.report", "render_html_report"),
}

QUERY_MODULES = [module for module, _query in QUERY_MIX]

# counters the workloads measure themselves, per traced cycle
COUNTERS = {
    "drive_source.bytes_read": "bytes",
    "drive_source.useful_bytes_ratio": "ratio",
    "file_source.ledger_rows": "rows",
    "io.rows_scanned": "rows",
    "io.new_rows_ratio": "ratio",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "report.html_bytes": "bytes",
    "session.get_spark_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def per_layer() -> dict[str, str]:
    out: dict[str, str] = {}
    for span in SPANS:
        out[f"{span}_s"] = "s"
        out[f"{span}.self_s"] = "s"
        out[f"{span}.jobs"] = "count"
        out[f"{span}.tasks"] = "count"
    for module in QUERY_MODULES:
        out[f"{module}.query_s"] = "s"
        out[f"{module}.jobs"] = "count"
    out.update(COUNTERS)
    return out


PER_LAYER = per_layer()
