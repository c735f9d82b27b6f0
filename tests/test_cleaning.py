"""Mode imputation edge cases the oracle can't express (SURVEY.md §5.2):
tie-breaking, all-NULL columns, type-mismatch skip, non-null preservation.
"""

from __future__ import annotations

from pyspark.sql import types as T

from airflow_loan_etl_pipeline_spark.operators.cleaning import (
    column_modes,
    fill_nulls_with_mode,
    pick_mode,
)

SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("i", T.IntegerType()),
    ]
)


def test_mode_tie_breaks_to_min_value(spark):
    df = spark.createDataFrame(
        [("b", 1.0, 1), ("b", 1.0, 1), ("a", 2.0, 2), ("a", 2.0, 2), (None, None, None)],
        SCHEMA,
    )
    modes = {r["column"]: r["mode_value"] for r in column_modes(df).collect()}
    assert modes["s"] == "a"  # tie between a/b -> min value wins
    assert modes["d"] == "1.0"
    assert modes["i"] == "1"


def test_pick_mode_sums_counts_and_breaks_ties_like_column_modes():
    """The driver-side pick over merged value counts: counts of a
    value add up across entries, nulls are not a value, ties go to the
    smallest value, and no non-null value means no mode."""
    import pyarrow as pa

    def mode(values, counts):
        return pick_mode(pa.array(values, pa.string()), pa.array(counts, pa.int64()))

    assert mode(["b", "a", "b", None], [1, 2, 1, 9]) == "a"  # a:2 b:2 -> a
    assert mode(["b", "a", "b"], [2, 2, 1]) == "b"
    assert mode(["10.0", "9.5"], [1, 1]) == "10.0"  # string order, as the melt
    assert mode([None], [3]) is None
    assert mode([], []) is None


def test_all_null_column_has_no_mode(spark):
    df = spark.createDataFrame([("x", None, 1), ("y", None, 1)], SCHEMA)
    modes = {r["column"]: r["mode_value"] for r in column_modes(df).collect()}
    assert "d" not in modes
    # imputation must not fail on the modeless column
    out = fill_nulls_with_mode(df)
    assert out.filter("d IS NULL").count() == 2


def test_imputation_preserves_non_nulls_and_fills_nulls(spark):
    df = spark.createDataFrame(
        [("a", 1.5, 3), ("a", 1.5, None), (None, 9.9, 3), ("b", None, 3)],
        SCHEMA,
    )
    out = fill_nulls_with_mode(df).collect()
    rows = {(r["s"], r["d"], r["i"]) for r in out}
    assert (None, None, None) not in rows
    assert ("a", 1.5, 3) in rows
    assert (None, 9.9, 3) not in rows  # s null got mode "a"
    assert ("a", 9.9, 3) in rows
    assert ("b", 1.5, 3) in rows  # d null got mode 1.5
    assert all(r["i"] == 3 for r in out)


def test_empty_input_short_circuits(spark):
    df = spark.createDataFrame([], SCHEMA)
    assert fill_nulls_with_mode(df).count() == 0


def test_subset_columns_only(spark):
    df = spark.createDataFrame([("a", 1.0, 1), (None, None, None)], SCHEMA)
    out = fill_nulls_with_mode(df, ["s"]).collect()
    assert {r["s"] for r in out} == {"a"}
    assert any(r["d"] is None for r in out)  # d untouched


def test_boolean_and_decimal_columns_filled(spark):
    # ADVICE r1: booleans and decimals were silently skipped; the
    # reference's fillna fills booleans too.
    from decimal import Decimal

    schema = T.StructType(
        [
            T.StructField("b", T.BooleanType()),
            T.StructField("m", T.DecimalType(10, 2)),
        ]
    )
    df = spark.createDataFrame(
        [
            (True, Decimal("3.50")),
            (True, Decimal("3.50")),
            (False, Decimal("9.99")),
            (None, None),
        ],
        schema,
    )
    out = fill_nulls_with_mode(df)
    assert out.filter("b IS NULL").count() == 0
    assert out.filter("m IS NULL").count() == 0
    assert out.filter("b = true").count() == 3
    assert out.filter("m = 3.50").count() == 3
    # decimal type is preserved exactly
    assert dict(out.dtypes)["m"] == "decimal(10,2)"


def test_check_expectations_counts_null_as_violation(spark):
    from airflow_loan_etl_pipeline_spark.operators.validate import (
        check_expectations,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 10.0, "OK"), (2, -5.0, "OK"), (3, 7.0, None), (4, None, "BAD")],
        "id int, amount double, status string",
    )
    rules = [
        ("amount_positive", F.col("amount") > 0),
        ("status_ok", F.col("status") == "OK"),
    ]
    report = {r.rule: r for r in check_expectations(df, rules).collect()}
    assert report["amount_positive"].n_violations == 2
    assert report["status_ok"].n_violations == 2  # NULL status = violation
    assert not report["amount_positive"].passed
