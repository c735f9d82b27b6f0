"""Differential-oracle harness: every registry query vs its DuckDB SQL at
sf0.001 — the in-repo mirror of the driver's correctness gate."""

from __future__ import annotations

import math

import duckdb
import pytest

from airflow_loan_etl_pipeline_spark import registry
from airflow_loan_etl_pipeline_spark.catalog import TABLE_NAMES

registry.load_all()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _key(row):
    return tuple((x is None, type(x).__name__, str(x)) for x in row)


@pytest.mark.parametrize("name", sorted(registry.ORACLE))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = registry.QUERIES[name](spark, sf_dir)
    cols = sorted(sdf.columns)
    rel = duck.sql(registry.ORACLE[name])
    assert sorted(rel.columns) == cols, "column names must match the oracle"
    s_rows = sorted(
        ([_canon(r[c]) for c in cols] for r in sdf.collect()), key=_key
    )
    idx = [rel.columns.index(c) for c in cols]
    d_rows = sorted(
        ([_canon(r[i]) for i in idx] for r in rel.fetchall()), key=_key
    )
    assert len(s_rows) == len(d_rows)
    for sr, dr in zip(s_rows, d_rows):
        for sv, dv in zip(sr, dr):
            if isinstance(sv, float) and isinstance(dv, float):
                assert math.isclose(sv, dv, rel_tol=1e-9, abs_tol=1e-9), (sr, dr)
            else:
                assert sv == dv, (sr, dr)


@pytest.mark.parametrize("name", sorted(set(registry.QUERIES) - set(registry.ORACLE)))
def test_rows_only_queries_run(spark, sf_dir, name):
    assert registry.QUERIES[name](spark, sf_dir).count() >= 0


def test_approx_percentiles_within_bound_of_exact(spark, sf_dir):
    """The mergeable-sketch quantiles must land within 1% (relative) of
    the exact interpolated percentiles at accuracy=1000 — the bound
    that justifies swapping them in at 100 TB."""
    from airflow_loan_etl_pipeline_spark import registry_mm  # noqa: F401

    exact = {
        (r.l_returnflag, r.quartile): r.price_quartile
        for r in registry.QUERIES["lineitem_percentiles"](
            spark, sf_dir
        ).collect()
    }
    approx = {
        (r.l_returnflag, r.quartile): r.price_quartile_approx
        for r in registry.QUERIES["lineitem_percentiles_approx"](
            spark, sf_dir
        ).collect()
    }
    assert set(exact) == set(approx)
    for k, e in exact.items():
        a = approx[k]
        assert abs(e - a) <= 0.01 * abs(e) + 1e-9, (k, e, a)


def test_oracle_output_types_driver_safe(duck):
    """LIMIT-0 type lint: no oracle may emit HUGEINT/UHUGEINT/DECIMAL
    output columns — the driver's pandas canonicalizer renders those
    differently from Spark's int64/float64 wire types, so the value
    hash goes red even when every value matches (the r02 failure mode).
    Wrap integer aggregates in CAST(... AS BIGINT), decimal math in
    CAST(... AS DOUBLE)."""
    banned = ("HUGEINT", "UHUGEINT", "DECIMAL")
    violations = []
    for name, sql in registry.ORACLE.items():
        rel = duck.sql(f"SELECT * FROM ({sql}) LIMIT 0")
        for col, typ in zip(rel.columns, [str(t) for t in rel.types]):
            if any(typ.startswith(b) for b in banned):
                violations.append(f"{name}.{col}: {typ}")
    assert not violations, violations


def test_no_array_columns_in_registered_outputs(spark, sf_dir):
    """The driver's canonicalizer sorts result rows with pandas
    sort_values, which raises `unhashable type: 'list'` on array
    columns (the r02 err failure mode for kmeans_refine_step /
    embeddings_quantized_int8). Gate queries must emit scalar rows;
    array-returning OPERATORS stay array-valued — only the registered
    gate shapes are constrained. Mostly schema-only; the equi-depth
    queries run their (small) eager boundary jobs during construction."""
    from pyspark.sql import types as T

    offenders = []
    for name, fn in registry.QUERIES.items():
        schema = fn(spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders
