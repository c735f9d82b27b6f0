"""Schema-tolerant cleaning: per-column mode + null imputation.

Reference semantics (SURVEY.md A1/A2): for every column, find the most
frequent non-null value and ``fillna`` nulls with it
(/root/reference/airflow/include/loan_spark_etl.py:48-68). The reference
loops over columns, running groupBy→orderBy→limit(1)→collect PER COLUMN —
O(n_columns) full scans + shuffles (its biggest pathology, SURVEY.md §3.1
step 4).

Rebuild: ONE pass. Melt the frame to ``(column, value)`` string pairs
with ``stack``, aggregate counts once, pick each column's winner with a
single window. At 100 TB this is one scan + one shuffle whose keys are
(column, value) — cardinality bounded by sum of per-column distincts, and
the count aggregation is partial (map-side combine) before the shuffle.

Tie-break: the reference's winner is nondeterministic under ties
(loan_spark_etl.py:60-62 orders only by count). We pin (count DESC,
value ASC) so results are stable and oracle-comparable (SURVEY.md §7
risk (a)). The same rule picks a mode on the driver from value counts
merged there (:func:`pick_mode`, used by the drive tick's fold).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def melt_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """``(column, value, cnt)`` for every non-null value of every column.

    Values are cast to string so heterogeneous columns share one frame.
    """
    cols = columns or df.columns
    stack_args = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
    melted = df.selectExpr(f"stack({len(cols)}, {stack_args}) as (column, value)")
    return (
        melted.filter(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def column_modes(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One row per column: ``(column, mode_value, cnt)`` — single pass.

    Window is partitioned by ``column`` (≤ a few dozen partitions holding
    pre-aggregated (value, cnt) rows, not raw data), so the rank step is
    cheap no matter the input size.
    """
    counts = melt_counts(df, columns)
    w = Window.partitionBy("column").orderBy(F.col("cnt").desc(), F.col("value").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("column", F.col("value").alias("mode_value"), "cnt")
    )


def pick_mode(values: pa.Array, counts: pa.Array) -> str | None:
    """The mode of ``values`` (strings, as :func:`melt_counts` casts
    them), each occurrence weighted by its entry in ``counts``: the
    highest total count, ties to the smallest value (count DESC, value
    ASC, as :func:`column_modes`). None when no value is non-null.
    Driver-side, for value counts already collected and merged."""
    t = pa.table({"value": values, "cnt": counts})
    t = t.filter(pc.is_valid(t["value"])).group_by("value").aggregate([("cnt", "sum")])
    if t.num_rows == 0:
        return None
    top = t.filter(pc.equal(t["cnt_sum"], pc.max(t["cnt_sum"])))
    return pc.min(top["value"]).as_py()


def fill_nulls_with_mode(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A2: impute nulls in each column with that column's mode.

    The tiny per-column mode table (n_columns rows) is collected at the
    driver — a report-edge collect, not a data collect — then applied as
    one ``fillna``. Mode strings are cast back to each column's type;
    values that fail the cast are skipped, preserving the reference's
    ``fillna`` type-mismatch-skip semantics (loan_spark_etl.py:65-67).
    """
    cols = columns or df.columns
    modes = {r["column"]: r["mode_value"] for r in column_modes(df, cols).collect()}
    dtypes = dict(df.dtypes)
    fill: dict[str, object] = {}
    bool_fill: dict[str, bool] = {}
    decimal_fill: dict[str, tuple[str, str]] = {}  # col -> (dtype, value)
    for c, v in modes.items():
        t = dtypes[c]
        try:
            if t in ("double", "float"):
                fill[c] = float(v)
            elif t in ("bigint", "int", "smallint", "tinyint"):
                fill[c] = int(v)
            elif t == "string":
                fill[c] = v
            elif t == "boolean":
                # fillna accepts bools; the melt stringifies to
                # 'true'/'false', parse it back.
                if v in ("true", "false"):
                    bool_fill[c] = v == "true"
            elif t.startswith("decimal"):
                # fillna doesn't take Decimal — apply via coalesce with a
                # literal cast to the column's exact decimal type.
                decimal_fill[c] = (t, v)
            # timestamps/dates/arrays: fillna doesn't support them; skip
            # (same silent-skip the reference relies on).
        except (TypeError, ValueError):
            continue
    out = df
    if fill:
        out = out.fillna(fill)
    if bool_fill:
        out = out.fillna(bool_fill)
    for c, (t, v) in decimal_fill.items():
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(v).cast(t)))
    return out
