"""Local mirror of the driver's differential-oracle gate.

Runs every registry query on Spark AND its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, and values
(rows sorted, column order normalized by name). Floats compare both
exactly and with a 1e-9 relative tolerance so we can see whether the
driver's exact value-hash would pass.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_loan_etl_pipeline_spark import registry  # noqa: E402
from airflow_loan_etl_pipeline_spark.catalog import TABLE_NAMES  # noqa: E402
from airflow_loan_etl_pipeline_spark.session import get_spark  # noqa: E402

registry.load_all()


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (the
        # derived 10x/100x perf datasets); the driver fixtures are
        # single files — glob accordingly so the gate runs on both.
        # os.path.isdir is fine HERE: this differential tool requires a
        # local sf_dir (DuckDB reads the same local files); remote URIs
        # are out of scope for the oracle gate by design.
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def sort_key(row):
    return tuple(
        (x is None, str(type(x).__name__), str(x)) for x in row
    )


def compare(name, spark_df, duck_rel) -> tuple[bool, bool, str]:
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_rel.columns)
    if s_cols != d_cols:
        return False, False, f"columns differ: spark={s_cols} duck={d_cols}"
    s_rows = [tuple(r[c] for c in s_cols) for r in spark_df.collect()]
    d_idx = [duck_rel.columns.index(c) for c in s_cols]
    d_rows = [tuple(canon(r[i]) for i in d_idx) for r in duck_rel.fetchall()]
    s_rows = [tuple(canon(x) for x in r) for r in s_rows]
    if len(s_rows) != len(d_rows):
        return False, False, f"row count differs: spark={len(s_rows)} duck={len(d_rows)}"
    s_rows.sort(key=sort_key)
    d_rows.sort(key=sort_key)
    exact = True
    for sr, dr in zip(s_rows, d_rows):
        for sv, dv in zip(sr, dr):
            if sv == dv:
                continue
            exact = False
            if isinstance(sv, float) and isinstance(dv, float):
                if math.isclose(sv, dv, rel_tol=1e-9, abs_tol=1e-9):
                    continue
            return False, False, f"value mismatch: spark={sr} duck={dr}"
    return True, exact, f"{len(s_rows)} rows"


#: Oracle output types the driver's pandas/Arrow canonicalizer renders
#: differently from Spark's wire types (HUGEINT -> float64 while Spark
#: emits int64; DECIMAL -> object/Decimal while Spark emits float64).
#: Values compare equal but the value-hash differs, so the gate goes red.
BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def lint_oracle_types(con: duckdb.DuckDBPyConnection) -> list[str]:
    """LIMIT-0 type lint: reject any oracle whose output schema contains
    a type the driver harness canonicalizes differently from Spark.
    Wrap integer aggregates in CAST(... AS BIGINT) and decimal math in
    CAST(... AS DOUBLE) to clear a violation."""
    bad = []
    for name, sql in registry.ORACLE.items():
        try:
            rel = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
        except Exception as e:
            bad.append(f"{name}: LIMIT-0 probe failed: {type(e).__name__}: {e}")
            continue
        for col, typ in zip(rel.columns, [str(t) for t in rel.types]):
            if any(str(typ).startswith(b) for b in BANNED_DUCK_TYPES):
                bad.append(f"{name}.{col}: {typ}")
    return bad


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    if os.environ.get("SPARK_GRAFT_PLAIN"):
        # Driver-parity mode: a PLAIN session, none of the engine's
        # confs (no UTC pin, no inferTimestampNTZ=false, default AQE).
        # The driver's correctness gate runs queries exactly like this —
        # any query that silently depends on an engine-session conf
        # passes the default gate and fails the driver's.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle_check_plain")
            .master("local[32]")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle_check")
    con = duck_conn(sf_dir)
    lint = lint_oracle_types(con)
    if lint:
        print("ORACLE TYPE LINT FAILURES (driver-hazard output types):")
        for line in lint:
            print(f"  !  {line}")
        sys.exit(2)
    failures = []
    attempted = 0
    for name, fn in registry.QUERIES.items():
        if only and name not in only:
            continue
        attempted += 1
        sql = registry.ORACLE.get(name)
        if sql is None:
            try:
                n = fn(spark, sf_dir).count()
                print(f"  ~  {name}: rows-only ({n} rows)")
            except Exception as e:
                print(f"  ✗  {name}: SPARK ERROR {e}")
                failures.append(name)
            continue
        try:
            sdf = fn(spark, sf_dir)
        except Exception as e:
            print(f"  ✗  {name}: SPARK ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        try:
            rel = con.sql(sql)
        except Exception as e:
            print(f"  ✗  {name}: DUCKDB ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        try:
            ok, exact, msg = compare(name, sdf, rel)
        except Exception as e:
            ok, exact, msg = False, False, f"compare error: {e}"
        tag = "✓" if ok else "✗"
        ex = "exact" if exact else ("tol" if ok else "")
        print(f"  {tag}  {name}: {msg} {ex}")
        if not ok:
            failures.append(name)
    print(f"\n{attempted - len(failures)}/{attempted} pass")
    if failures:
        print("FAILURES:", ", ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
