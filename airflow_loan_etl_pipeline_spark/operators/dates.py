"""Datetime decomposition (SURVEY.md D1-D3, P1-P2).

Reference: ``_transform_dates`` parses ``created_at`` → timestamp, then
derives ``created_date`` (date) and ``created_time`` ("HH:mm:ss" string),
dropping the intermediate (/root/reference/airflow/include/
loan_spark_etl.py:71-88). Pure projection — no shuffle, stays inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_datetime(
    df: DataFrame,
    source_col: str = "created_at",
    prefix: str = "created",
    keep_ts: bool = False,
) -> DataFrame:
    """Derive ``{prefix}_date``, ``{prefix}_time``, ``{prefix}_year``,
    ``{prefix}_month`` from a timestamp-or-string column.

    Column-existence guard mirrors the reference's defensive no-op when
    the source column is absent (loan_spark_etl.py:77-78).
    """
    if source_col not in df.columns:
        return df
    ts = F.to_timestamp(F.col(source_col))
    out = (
        df.withColumn(f"{prefix}_ts", ts)
        .withColumn(f"{prefix}_date", F.to_date(F.col(f"{prefix}_ts")))
        .withColumn(f"{prefix}_time", F.date_format(F.col(f"{prefix}_ts"), "HH:mm:ss"))
        .withColumn(f"{prefix}_year", F.year(F.col(f"{prefix}_ts")))
        .withColumn(f"{prefix}_month", F.month(F.col(f"{prefix}_ts")))
    )
    if not keep_ts:
        out = out.drop(f"{prefix}_ts")
    return out
