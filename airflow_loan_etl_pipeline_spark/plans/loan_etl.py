"""The flagship end-to-end plan: the reference's whole analytic core as
one lazy DataFrame pipeline.

Mirrors ``run_loan_spark_etl`` (/root/reference/airflow/include/
loan_spark_etl.py:134-189): scan → mode-impute → datetime split →
multi-key aggregate → deterministic order, plus the top-k report reader
(loan_spark_etl.py:192-220). Differences by design (SURVEY.md §7):

- imputation is a single pass (operators/cleaning.py), not per-column;
- one SparkSession for the whole process;
- sinks never coalesce(1);
- the report edge reuses the session instead of building a second one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark.catalog import load_table
from airflow_loan_etl_pipeline_spark.operators.aggregates import grouped_metrics
from airflow_loan_etl_pipeline_spark.operators.cleaning import fill_nulls_with_mode
from airflow_loan_etl_pipeline_spark.operators.dates import split_datetime
from airflow_loan_etl_pipeline_spark.operators.topk import top_k
from airflow_loan_etl_pipeline_spark.sources.io import is_empty, write_parquet


def clean_and_aggregate(
    df: DataFrame,
    group_cols: list[str],
    amount_col: str,
    date_col: str,
    impute_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(cleaned, aggregates) — the reference's two outputs."""
    cleaned = fill_nulls_with_mode(df, impute_cols)
    cleaned = split_datetime(cleaned, source_col=date_col)
    aggs = grouped_metrics(cleaned, group_cols, amount_col=amount_col)
    return cleaned, aggs


def run_loan_etl(
    spark: SparkSession,
    sf_dir: str,
    cleaned_path: str | None = None,
    aggregates_path: str | None = None,
) -> DataFrame | None:
    """Full ETL over the ``orders`` table (the loan analogue in the
    driver fixtures, FIXTURES.md §3): impute → date split → aggregate.
    Writes parquet when paths are given; returns the aggregate frame.
    """
    orders = load_table(spark, sf_dir, "orders")
    if is_empty(orders):  # S3 short-circuit (loan_spark_etl.py:157-160)
        return None
    cleaned, aggs = clean_and_aggregate(
        orders,
        group_cols=["o_orderstatus", "o_orderpriority"],
        amount_col="o_totalprice",
        date_col="o_orderdate",
        impute_cols=["o_orderstatus", "o_orderpriority"],
    )
    if cleaned_path:
        write_parquet(cleaned, cleaned_path, partition_by=["created_year"])
    if aggregates_path:
        write_parquet(aggs, aggregates_path)
    return aggs


def latest_aggregates_summary(aggs: DataFrame, limit: int = 10) -> list[dict]:
    """Report edge (loan_spark_etl.py:192-220): top-k by loan_count with a
    deterministic tie-break, collected as dicts. The ONLY collect in the
    plan, bounded by ``limit``."""
    order = [F.col("loan_count").desc()] + [
        F.col(c).asc() for c in aggs.columns if c != "loan_count"
    ]
    rows = top_k(aggs, limit, *order).collect()
    return [r.asDict() for r in rows]
