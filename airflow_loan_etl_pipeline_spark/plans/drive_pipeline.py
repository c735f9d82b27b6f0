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
than the compression. A tick with nothing new returns before any Spark
call. The ledger commit is the tick's last step, one atomic file
replace (file_source.commit_ledger): a crash before it replays the
whole tick, a crash after it replays nothing.

The totals are those of the reference's ETL (mode imputation of every
column, then count and sum by status, product type and branch) over
the ledgered files still in the folder plus the fresh ones, so a
deleted source file drops out of the totals. The reference recomputes
them from every file each tick (SURVEY.md §3 step 2); here each file
is parsed once. Its partials are mergeable summaries: the value counts
of ``amount`` (keyed by ``cast(amount as string)``, as the imputation
compares it) and, per raw nullable group key, the row count, the sum
of the non-null amounts and the null-amount count. The ledger row of
the file stores them (:func:`loan_partials`). A data tick parses only
the files without current partials (fresh, rewritten, or committed by
name only) in one Spark aggregation, then :func:`fold_partials` merges
all present files' partials on the driver: the key columns' value
counts are the group counts summed per key, the modes follow the
imputation's tie rule (cleaning.pick_mode), null keys fold into their
column's mode, and a group's total is the exact sum of its per-file
sums plus ``mode(amount) × null amounts``. Counts equal the full
recompute; totals agree within float rounding (the full recompute
adds in partition order), and an incremental tick equals a fresh one
bit for bit.

Limit: the state holds one ``amount`` value count per distinct amount
in a file, so it grows with the distinct amounts, not with the groups.
"""

from __future__ import annotations

import gzip
import math
import os
from collections.abc import Callable
from urllib.parse import unquote

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark import schemas
from airflow_loan_etl_pipeline_spark.operators.cleaning import pick_mode
from airflow_loan_etl_pipeline_spark.plans.report import (
    render_html_report,
    send_html_report,
)
from airflow_loan_etl_pipeline_spark.sources.io import read_csv_dir
from airflow_loan_etl_pipeline_spark.streaming.file_source import (
    commit_ledger,
    file_stat,
    load_ledger,
    read_ledger,
    screen,
)

GROUP_COLS = ["status", "product_type", "branch"]

_COUNT = pa.struct([("value", pa.string()), ("n", pa.int64())])
_GROUP = pa.struct(
    [(c, pa.string()) for c in GROUP_COLS]
    + [("n", pa.int64()), ("amount_sum", pa.float64()), ("amount_nulls", pa.int64())]
)
# one row per file: the ledger's state columns (file_source.commit_ledger)
PARTIALS = pa.schema(
    [
        ("file_id", pa.string()),
        ("size", pa.int64()),
        ("mtime_ns", pa.int64()),
        ("amount_counts", pa.list_(_COUNT)),
        ("groups", pa.list_(_GROUP)),
    ]
)
AGGREGATES = pa.schema(
    [(c, pa.string()) for c in GROUP_COLS]
    + [("loan_count", pa.int64()), ("total_amount", pa.float64())]
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


def _lists(rows: pa.Table, file_no: np.ndarray, n_files: int, struct: pa.DataType) -> pa.Array:
    """One list per file of ``rows``' ``struct`` fields, row ``i``
    going to file ``file_no[i]`` (an empty list for a file with no
    rows)."""
    order = np.argsort(file_no, kind="stable")
    offsets = np.concatenate([[0], np.cumsum(np.bincount(file_no, minlength=n_files))])
    fields = [rows[f.name].take(order).combine_chunks().cast(f.type) for f in struct]
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.StructArray.from_arrays(fields, fields=list(struct))
    )


def loan_partials(spark: SparkSession, files: dict[str, tuple[str, int, int]]) -> pa.Table:
    """The :data:`PARTIALS` row of each ``name -> (path, size,
    mtime_ns)`` file, from one Spark aggregation over all of them
    (grouping sets per file: the raw group keys, and the amount as a
    string), collected as Arrow. A file with no rows gets empty lists."""
    names = sorted(files)
    loans = read_csv_dir(spark, [files[n][0] for n in names], schema=schemas.LOAN)
    flat = (
        loans.select(
            F.col("_metadata.file_name").alias("file"),
            *GROUP_COLS,
            F.col("amount").cast("string").alias("value"),
            "amount",
        )
        .groupingSets([["file", *GROUP_COLS], ["file", "value"]], "file", *GROUP_COLS, "value")
        .agg(
            F.grouping("value").alias("is_group"),
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("amount_sum"),
            F.count("amount").alias("amount_n"),
        )
        .toArrow()
    )
    # _metadata.file_name is the URI-encoded name ('%' itself encoded)
    pos = {n: i for i, n in enumerate(names)}
    encoded = flat["file"].unique()
    where = np.array([pos[unquote(e)] for e in encoded.to_pylist()], dtype=np.int64)
    file_no = where[pc.index_in(flat["file"], value_set=encoded).to_numpy()]

    flat = flat.append_column("amount_nulls", pc.subtract(flat["n"], flat["amount_n"]))
    # grouping("value") is 1 on the rows of the group-key set
    is_group = pc.equal(flat["is_group"], 1).to_numpy(zero_copy_only=False)
    counted = ~is_group & pc.is_valid(flat["value"]).to_numpy(zero_copy_only=False)
    return pa.table(
        [
            pa.array(names, pa.string()),
            pa.array([files[n][1] for n in names], pa.int64()),
            pa.array([files[n][2] for n in names], pa.int64()),
            _lists(flat.filter(pa.array(counted)), file_no[counted], len(names), _COUNT),
            _lists(flat.filter(pa.array(is_group)), file_no[is_group], len(names), _GROUP),
        ],
        schema=PARTIALS,
    )


def _fsum(xs: list[float]) -> float:
    try:
        return math.fsum(xs)
    except (OverflowError, ValueError):  # inf - inf, or past the float range
        return sum(xs)


def _nulls_first(v):
    return (v is not None, v)


def top_segments(rows: list[dict], limit: int = 10) -> list[dict]:
    """The first ``limit`` aggregate rows by ``loan_count`` DESC, then
    the other columns ASC, nulls first: ``latest_aggregates_summary``'s
    order, ranked on the driver."""
    return sorted(
        rows,
        key=lambda r: (-r["loan_count"], *(_nulls_first(v) for k, v in r.items() if k != "loan_count")),
    )[:limit]


def fold_partials(partials: pa.Table) -> tuple[pa.Table, list[dict]]:
    """The loan aggregates (:data:`AGGREGATES`, sorted by the group
    keys, nulls first) and their top 10 (:func:`top_segments`) from the
    :data:`PARTIALS` rows of the present files, merged on the driver."""
    groups, counts = (
        pa.Table.from_struct_array(pc.list_flatten(partials[c]).combine_chunks())
        for c in ("groups", "amount_counts")
    )
    modes = {c: pick_mode(groups[c], groups["n"]) for c in GROUP_COLS}
    amount_mode = pick_mode(counts["value"], counts["n"])
    for c, mode in modes.items():
        if mode is not None:
            groups = groups.set_column(
                groups.column_names.index(c), c, pc.fill_null(groups[c], mode)
            )
    merged = groups.group_by(GROUP_COLS).aggregate(
        [("n", "sum"), ("amount_nulls", "sum"), ("amount_sum", "list")]
    )
    rows = []
    for r in merged.to_pylist():
        total = None
        if amount_mode is not None:
            sums = [s for s in r["amount_sum_list"] if s is not None]
            if r["amount_nulls_sum"]:
                sums.append(float(amount_mode) * r["amount_nulls_sum"])
            total = _fsum(sums)
        rows.append(
            {**{c: r[c] for c in GROUP_COLS}, "loan_count": r["n_sum"], "total_amount": total}
        )
    rows.sort(key=lambda r: [_nulls_first(r[c]) for c in GROUP_COLS])
    return pa.Table.from_pylist(rows, schema=AGGREGATES), top_segments(rows)


def fold_present(
    spark_factory: Callable[[], SparkSession],
    watch_dir: str,
    ledger: pa.Table | None,
    fresh: list[str],
) -> tuple[pa.Table | None, list[dict], pa.Table | None]:
    """``(aggregates, top 10, parsed)`` over the ``ledger``'s files
    still in ``watch_dir`` plus the ``fresh`` names. Each is stat-ed;
    the ones without stored partials or whose ``(size, mtime_ns)``
    changed are parsed in one :func:`loan_partials` pass (``parsed``,
    None when there are none), the others keep their ledger partials,
    and :func:`fold_partials` merges them all. ``spark_factory`` is
    called only when a file is parsed. None aggregates when no file is
    present."""
    ids = ledger["file_id"].to_pylist() if ledger is not None else []
    stored = {}  # file_id -> (ledger row, (size, mtime_ns)) of rows with partials
    if ledger is not None and "groups" in ledger.column_names:
        rows = zip(
            ids,
            ledger["size"].to_pylist(),
            ledger["mtime_ns"].to_pylist(),
            pc.is_valid(ledger["groups"]).to_pylist(),
        )
        stored = {fid: (n, (size, mtime)) for n, (fid, size, mtime, ok) in enumerate(rows) if ok}
    keep, parse = [], {}
    for name in sorted(set(ids) | set(fresh)):
        path = os.path.join(watch_dir, name)
        st = file_stat(path)
        if st is None:
            continue
        if name in stored and stored[name][1] == st:
            keep.append(stored[name][0])
        else:
            parse[name] = (path, *st)
    if not keep and not parse:
        return None, [], None
    parts = [ledger.select(PARTIALS.names).take(keep).cast(PARTIALS)] if keep else []
    parsed = loan_partials(spark_factory(), parse) if parse else None
    if parsed is not None:
        parts.append(parsed)
    aggs, top = fold_partials(pa.concat_tables(parts))
    return aggs, top, parsed


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
    fresh = screen(watch_dir, load_ledger(ledger_path), prefix, min_age_s, now)
    if not fresh:
        return [], None, None

    file_summaries = compress_fresh(fresh, work_dir)
    names = [name for name, _path, _mtime in fresh]
    # ETL input = the SCREENED cumulative set — a raw watch-dir glob
    # would ingest unsettled/mid-copy files the screen just excluded
    aggs, top, parsed = fold_present(
        lambda: spark, watch_dir, read_ledger(ledger_path), names
    )
    html = render_html_report(file_summaries, top)
    if smtp:
        send_html_report(html, **smtp)

    commit_ledger(ledger_path, names, parsed)
    # a local relation: no Spark job builds it
    return file_summaries, None if aggs is None else spark.createDataFrame(aggs), html
