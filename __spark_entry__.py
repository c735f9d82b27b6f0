"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship loan-ETL plan on sf0.001;
``queries()`` / ``oracle_sql()`` expose the engine's registry
(airflow_loan_etl_pipeline_spark/registry.py) for the DuckDB
differential-oracle gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from airflow_loan_etl_pipeline_spark import registry
from airflow_loan_etl_pipeline_spark.plans.loan_etl import run_loan_etl

registry.load_all()

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's whole analytic core (mode-impute →
    date split → multi-key agg → deterministic order) over sf0.001."""
    aggs = run_loan_etl(spark, SF0001)
    assert aggs is not None
    return aggs


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, sorted by name."""
    return {k: registry.QUERIES[k] for k in sorted(registry.QUERIES)}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle SQL of every query that has one, in the order
    of :func:`queries`."""
    return {k: registry.ORACLE[k] for k in queries() if k in registry.ORACLE}
