"""Rehearse the driver's CORRECTNESS gate at the PANDAS level.

tools/check_oracle.py compares row values in Python; the driver instead
canonicalizes both sides through pandas (sort columns by name,
sort_values over all columns, hash the frame) — the layer where round
2's two red classes lived (HUGEINT->float64 dtype drift; unhashable
list cells). This tool replays that exact shape for every registered
oracle query: Spark -> toPandas vs DuckDB -> df(), column-name sort,
sort_values, then a strict cell-by-cell compare that distinguishes
integer-kind from float-kind dtypes (the HUGEINT failure signature)
and fails loudly on any cell pandas cannot sort. WARNs (not fails) on
integer-width-only differences (int32 vs int64), which the driver's
canonicalizer normalizes.

Usage: python tools/driver_rehearsal.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_loan_etl_pipeline_spark import registry  # noqa: E402
from airflow_loan_etl_pipeline_spark.catalog import TABLE_NAMES  # noqa: E402
from airflow_loan_etl_pipeline_spark.session import get_spark  # noqa: E402

registry.load_all()


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    # the driver's sort_values: raises TypeError on list cells —
    # exactly the crash we rehearse for
    return pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def kind(x) -> str:
    import datetime

    if x is None or (isinstance(x, float) and math.isnan(x)) or x is pd.NaT:
        return "null"
    if isinstance(x, (bool, np.bool_)):
        return "bool"
    if isinstance(x, (int, np.integer)):
        return "int"
    if isinstance(x, (float, np.floating)):
        return "float"
    if isinstance(
        x, (datetime.date, datetime.datetime, pd.Timestamp, np.datetime64)
    ):
        # Spark toPandas gives datetime.date objects where DuckDB gives
        # datetime64 — the driver canonicalizes these the same (both
        # r01/r02 green on date-keyed queries); compare as timestamps
        return "date"
    return type(x).__name__


def as_ts(x):
    return pd.Timestamp(x)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("driver_rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures, warns = [], []
    for name, sql in registry.ORACLE.items():
        if only and name not in only:
            continue
        try:
            s_pdf = canon(registry.QUERIES[name](spark, sf_dir).toPandas())
            d_pdf = canon(con.sql(sql).df())
        except Exception as e:
            print(f"  ✗  {name}: CANONICALIZE {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if list(s_pdf.columns) != list(d_pdf.columns) or len(s_pdf) != len(
            d_pdf
        ):
            print(f"  ✗  {name}: shape/columns differ")
            failures.append(name)
            continue
        bad = None
        for c in s_pdf.columns:
            sk = s_pdf[c].dtype.kind
            dk = d_pdf[c].dtype.kind
            date_mix = {sk, dk} <= {"O", "M"} and ("M" in (sk, dk))
            if sk != dk and not date_mix:
                bad = f"dtype kind differs on {c}: spark={s_pdf[c].dtype} duck={d_pdf[c].dtype}"
                break
            if not date_mix and str(s_pdf[c].dtype) != str(d_pdf[c].dtype):
                warns.append(
                    f"{name}.{c}: width-only dtype diff"
                    f" {s_pdf[c].dtype} vs {d_pdf[c].dtype}"
                )
            for sv, dv in zip(s_pdf[c].tolist(), d_pdf[c].tolist()):
                if kind(sv) != kind(dv):
                    bad = f"value-kind differs on {c}: {sv!r} vs {dv!r}"
                    break
                if kind(sv) in ("null",):
                    continue
                if kind(sv) == "date":
                    if as_ts(sv) != as_ts(dv):
                        bad = f"date differs on {c}: {sv!r} vs {dv!r}"
                        break
                    continue
                if sv != dv:
                    bad = f"value differs on {c}: {sv!r} vs {dv!r}"
                    break
            if bad:
                break
        if bad:
            print(f"  ✗  {name}: {bad}")
            failures.append(name)
        else:
            print(f"  ✓  {name}")
    print(f"\n{len(registry.ORACLE) - len(failures)}/{len(registry.ORACLE)} pass")
    for w in warns[:20]:
        print(f"  !  WARN {w}")
    if failures:
        print("FAILURES:", ", ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
