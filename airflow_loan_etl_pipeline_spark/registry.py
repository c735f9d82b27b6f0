"""Query registry: every operator exposed as (Spark callable, oracle SQL).

This is the engine's public query surface and its correctness gate: the
driver executes ``QUERIES[name](spark, sf_dir)`` and the matching
``ORACLE[name]`` in DuckDB over the same parquet tables, comparing
row-count + schema + order-insensitive value hash (SURVEY.md §5.2).

Conventions for oracle parity:
- every computed column is aliased identically on both sides;
- double aggregates are ``round(x, 2)`` on both sides (summation order
  differs between engines; rounding absorbs last-ulp drift);
- any top-k has a fully deterministic total order (explicit tie-breaks);
- timestamps cross the boundary as epoch seconds or DATE, never as
  engine-local timestamp renderings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_loan_etl_pipeline_spark.catalog import load_table
from airflow_loan_etl_pipeline_spark.operators.aggregates import (
    cube_metrics,
    grouped_metrics,
    rollup_metrics,
)
from airflow_loan_etl_pipeline_spark.operators.cleaning import column_modes
from airflow_loan_etl_pipeline_spark.operators.dates import split_datetime
from airflow_loan_etl_pipeline_spark.operators.joins import anti_join, dim_join, semi_join
from airflow_loan_etl_pipeline_spark.operators.topk import top_k, top_k_per_group

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable + its oracle."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every ``registry_*`` module of the package, so the whole
    query library is registered. Each module imports this one, so the
    imports happen here, at call time, not at module load."""
    import importlib
    import pkgutil

    package = importlib.import_module(__package__)
    for mod in pkgutil.iter_modules(package.__path__):
        if mod.name.startswith("registry_"):
            importlib.import_module(f"{__package__}.{mod.name}")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Reference analytic core (SURVEY.md §2.2/2.4/2.6: A1-A6, P1-P4, D1-D3, T1-T3)
# ---------------------------------------------------------------------------

@query(
    "loan_agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS loan_count,
           round(sum(o_totalprice), 2) AS total_amount
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def loan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: multi-key hash aggregate (reference loan_spark_etl.py:110-129)."""
    aggs = grouped_metrics(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        amount_col="o_totalprice",
    )
    return aggs.withColumn("total_amount", F.round("total_amount", 2))


@query(
    "loan_agg_global",
    oracle="""
    SELECT count(*) AS loan_count,
           round(sum(o_totalprice), 2) AS total_amount
    FROM orders
    """,
)
def loan_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: global fallback when no grouping columns exist
    (reference loan_spark_etl.py:115-120)."""
    aggs = grouped_metrics(
        _t(spark, sf_dir, "orders"), [], amount_col="o_totalprice"
    )
    return aggs.withColumn("total_amount", F.round("total_amount", 2))


@query(
    "mode_per_column",
    oracle="""
    WITH melted AS (
        SELECT 'o_orderstatus' AS col_name, cast(o_orderstatus AS varchar) AS value
        FROM orders WHERE o_orderstatus IS NOT NULL
        UNION ALL
        SELECT 'o_orderpriority', cast(o_orderpriority AS varchar)
        FROM orders WHERE o_orderpriority IS NOT NULL
        UNION ALL
        SELECT 'o_custkey', cast(o_custkey AS varchar)
        FROM orders WHERE o_custkey IS NOT NULL
    ),
    counted AS (
        SELECT col_name, value, count(*) AS cnt FROM melted GROUP BY 1, 2
    ),
    ranked AS (
        SELECT col_name, value, cnt,
               row_number() OVER (PARTITION BY col_name
                                  ORDER BY cnt DESC, value ASC) AS rn
        FROM counted
    )
    SELECT col_name, value AS mode_value, cnt FROM ranked WHERE rn = 1
    """,
)
def mode_per_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 single-pass multi-column mode — replaces the reference's
    per-column scan loop (loan_spark_etl.py:48-68) with one melt+agg."""
    modes = column_modes(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority", "o_custkey"],
    )
    return modes.withColumnRenamed("column", "col_name")


@query(
    "date_split",
    oracle="""
    SELECT o_orderkey,
           cast(o_orderdate AS date) AS created_date,
           strftime(o_orderdate, '%H:%M:%S') AS created_time,
           cast(year(o_orderdate) AS int) AS created_year,
           cast(month(o_orderdate) AS int) AS created_month
    FROM orders
    """,
)
def date_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D3/P1-P2: datetime decomposition (loan_spark_etl.py:71-88)."""
    df = split_datetime(_t(spark, sf_dir, "orders"), source_col="o_orderdate")
    return df.select(
        "o_orderkey", "created_date", "created_time", "created_year", "created_month"
    )


@query(
    "topk_segments",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS loan_count,
           round(sum(o_totalprice), 2) AS total_amount
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY loan_count DESC, o_orderstatus ASC, o_orderpriority ASC
    LIMIT 10
    """,
)
def topk_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: top-10 segments by loan_count (loan_spark_etl.py:211-214) with
    deterministic tie-breaks; plans to TakeOrderedAndProject."""
    aggs = loan_agg(spark, sf_dir)
    return top_k(
        aggs,
        10,
        F.col("loan_count").desc(),
        F.col("o_orderstatus").asc(),
        F.col("o_orderpriority").asc(),
    )


# ---------------------------------------------------------------------------
# Relational breadth (§7 phase 2): TPC-H-style scans/joins/aggregates
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg, fully codegen'd, partial+final agg."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "top_customers_by_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 10
    """,
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-style join pipeline, aggregate-BEFORE-join (Catalyst doesn't
    push aggregates through joins itself): revenue reduces onto the
    numeric custkey first, so the agg shuffle carries (custkey, sum)
    pairs — never the c_name strings — and the customer dim joins
    keyspace-sized rows after the reduction, not every lineitem.
    Measured ~30-40% faster at sf0.1 and strictly less shuffled bytes
    at any scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )
    out = dim_join(
        rev, c, on=F.col("o_custkey") == F.col("c_custkey")
    ).select("c_custkey", "c_name", "revenue")
    return top_k(out, 10, F.col("revenue").desc(), F.col("c_custkey").asc())


@query(
    "nation_revenue",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style star join: dims broadcast, single fact-fact shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = dim_join(
        dim_join(c, n, on=F.col("c_nationkey") == F.col("n_nationkey")),
        r,
        on=F.col("n_regionkey") == F.col("r_regionkey"),
    )
    joined = dim_join(
        li.join(o, li.l_orderkey == o.o_orderkey),
        dims,
        on=F.col("o_custkey") == F.col("c_custkey"),
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-style anti-join (ledger pattern, reference
    drive_auto_compress_email.py:184/:207 re-expressed in-engine)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(c, o, on="c_custkey").select("c_custkey")


@query(
    "customers_with_orders",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return semi_join(c, o, on="c_custkey").select("c_custkey")


@query(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "rollup_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS loan_count,
           round(sum(o_totalprice), 2) AS total_amount
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (§2.4 extension)."""
    out = rollup_metrics(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        "o_totalprice",
    )
    return out.withColumn("total_amount", F.round("total_amount", 2))


@query(
    "cube_lineitem_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS loan_count,
           round(sum(l_quantity), 2) AS total_amount
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cube_metrics(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        "l_quantity",
    )
    return out.withColumn("total_amount", F.round("total_amount", 2))


@query(
    "window_topk_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               cast(row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS int) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topk_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 per-group top-k via row_number (one shuffle on the key)."""
    out = top_k_per_group(
        _t(spark, sf_dir, "orders"),
        3,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")


@query(
    "window_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
)
def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per customer — frame-based window aggregate."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "nation_keys_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def nation_keys_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET ops breadth (§2.7)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "nation_keys_except",
    oracle="""
    SELECT n_nationkey AS nationkey FROM nation
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def nation_keys_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXCEPT (DISTINCT) semantics: a left key removed entirely when it
    # appears on the right, regardless of multiplicities. subtract() is
    # Spark's EXCEPT DISTINCT; exceptAll(...).distinct() is NOT the same
    # (a left key duplicated more times than on the right survives the
    # bag difference).
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return n.subtract(s)


@query(
    "union_all_files",
    oracle="""
    SELECT o_orderkey AS record_key, 'orders' AS src FROM orders
    UNION ALL
    SELECT l_orderkey * 100000 + l_linenumber AS record_key, 'lineitem' AS src
    FROM lineitem
    """,
)
def union_all_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET1: the reference's multi-file glob is an implicit UNION ALL
    (loan_spark_etl.py:152-155); explicit unionByName equivalent."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("record_key"), F.lit("orders").alias("src")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 100000 + F.col("l_linenumber")).alias("record_key"),
        F.lit("lineitem").alias("src"),
    )
    return o.unionByName(li)


# ---------------------------------------------------------------------------
# Scalar-function breadth (§2.8): json, string, math
# ---------------------------------------------------------------------------

@query(
    "events_json_extract",
    oracle="""
    SELECT event_id,
           cast(json_extract_string(props, '$.k') AS int) AS k_value
    FROM events
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J/S1: JSON decode of the props payload (reference ledger JSON,
    drive_auto_compress_email.py:93-95, re-expressed in-engine)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k_value"),
    )


@query(
    "events_tumbling_10min",
    oracle="""
    SELECT cast(floor(epoch(ts) / 600) * 600 AS bigint) AS bucket_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST/§2.9: tumbling event-time window. Uses the same F.window
    operator the streaming path uses; bucket crosses the oracle boundary
    as epoch seconds."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_gapfill_10min",
    oracle="""
    WITH b AS (SELECT cast(floor(epoch(min(ts)) / 600) * 600 AS bigint) AS mn,
                      cast(floor(epoch(max(ts)) / 600) * 600 AS bigint) AS mx
               FROM events),
    grid AS (SELECT unnest(generate_series(mn, mx, 600)) AS bucket_start FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (SELECT cast(floor(epoch(ts) / 600) * 600 AS bigint) AS bucket_start,
                      event_type, count(*) AS n, round(sum(value), 2) AS tv
               FROM events GROUP BY 1, 2)
    SELECT g.bucket_start, t.event_type,
           coalesce(a.n, 0) AS n_events,
           coalesce(a.tv, 0.0) AS total_value
    FROM grid g
    CROSS JOIN types t
    LEFT JOIN actual a
      ON a.bucket_start = g.bucket_start AND a.event_type = t.event_type
    """,
)
def events_gapfill_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-filling / resampling: densify the tumbling-window
    aggregate onto a complete 10-minute grid per event_type, zero-filling
    empty buckets — what every downstream forecaster/anomaly detector
    needs (a missing bucket and a zero bucket mean different things only
    if the grid is dense).

    Scale shape: the fact table is touched ONCE (the windowed aggregate);
    the grid is generated from a single min/max row via sequence+explode
    (n_buckets x n_types rows — tiny, independent of fact cardinality).
    The broadcast hint goes on ``actual`` — the BUILD side of the
    left-outer join (hinting the preserved/left side is illegal and
    Spark silently falls back to a shuffle join, logging HintErrorLogger
    warnings). ``actual`` is aggregated down to at most grid cardinality,
    so broadcasting it is safe at any fact scale. No second fact scan,
    no extra fact shuffle.
    """
    ev = _t(spark, sf_dir, "events")
    actual = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    bounds = ev.agg(
        (F.floor(F.min(F.col("ts").cast("long")) / 600) * 600)
        .cast("long")
        .alias("mn"),
        (F.floor(F.max(F.col("ts").cast("long")) / 600) * 600)
        .cast("long")
        .alias("mx"),
    )
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.lit(600))).alias("bucket_start")
    ).crossJoin(ev.select("event_type").distinct())
    return (
        grid
        .join(F.broadcast(actual), ["bucket_start", "event_type"], "left")
        .select(
            "bucket_start",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1)
    SELECT (SELECT count(*) FROM v) AS users_view,
           (SELECT count(*) FROM c) AS users_click,
           (SELECT count(*) FROM p) AS users_purchase,
           round((SELECT count(*) FROM c) / (SELECT count(*) FROM v), 4)
               AS rate_click,
           round((SELECT count(*) FROM p) / (SELECT count(*) FROM c), 4)
               AS rate_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase conversion funnel: per-step user
    counts + step-to-step conversion rates (strictly-increasing
    timestamps between steps)."""
    from airflow_loan_etl_pipeline_spark.operators.timeseries import funnel

    return funnel(_t(spark, sf_dir, "events"))


@query(
    "events_time_rollup",
    oracle="""
    SELECT ts::DATE AS day, hour(ts) AS hr,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY ROLLUP(day, hr)
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hourly, daily, and
    grand-total aggregates of the event stream in ONE pass (GROUP BY
    ROLLUP over the truncated time hierarchy) — the continuous-aggregate
    maintenance shape, instead of one scan per granularity. Partial
    aggregation collapses each hour map-side before the shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.to_date("ts").alias("day"),
            F.hour("ts").alias("hr"),
            "value",
        )
        .rollup("day", "hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "loan_payment_schedule",
    oracle="""
    WITH loans AS (
      SELECT o_orderkey AS loan_id,
             o_totalprice AS principal,
             (0.03 + (o_orderkey % 10) * 0.005) / 12.0 AS r,
             12 + CAST(o_orderkey % 4 AS INT) * 12 AS n_months
      FROM orders WHERE o_orderkey < 100),
    pay AS (
      SELECT *, principal * r / (1 - power(1 + r, -n_months)) AS pmt
      FROM loans),
    sched AS (
      SELECT loan_id, n_months, pmt, principal, r,
             unnest(generate_series(1, n_months)) AS month
      FROM pay)
    SELECT loan_id, CAST(month AS INT) AS month,
           round(pmt, 2) AS payment,
           round(principal * power(1 + r, month)
                 - pmt * (power(1 + r, month) - 1) / r, 2) + 0.0 AS balance
    FROM sched
    """,
)
def loan_payment_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amortization schedule generator — the reference's actual banking
    domain (loan_spark_etl.py processes loan books) taken to its
    natural batch workload: annuity payment + CLOSED-FORM remaining
    balance per month (balance_m = P(1+r)^m − pmt((1+r)^m − 1)/r — no
    recursion, so the whole schedule is one map-side explode, tenure
    rows per loan, zero shuffles). Deterministic loan terms derived
    from the order key; restricted to a 100-loan book at fixture scale."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    loans = orders.select(
        F.col("o_orderkey").alias("loan_id"),
        F.col("o_totalprice").alias("principal"),
        ((F.lit(0.03) + (F.col("o_orderkey") % 10) * 0.005) / 12.0).alias(
            "r"
        ),
        (12 + (F.col("o_orderkey") % 4).cast("int") * 12).alias("n_months"),
    )
    pmt = F.col("principal") * F.col("r") / (
        1 - F.pow(1 + F.col("r"), -F.col("n_months"))
    )
    sched = loans.withColumn("pmt", pmt).select(
        "loan_id",
        "pmt",
        "principal",
        "r",
        F.explode(F.sequence(F.lit(1), F.col("n_months"))).alias("month"),
    )
    growth = F.pow(1 + F.col("r"), F.col("month"))
    return sched.select(
        "loan_id",
        F.col("month").cast("int").alias("month"),
        F.round(F.col("pmt"), 2).alias("payment"),
        # + 0.0 folds IEEE negative zero (the fully-amortized final
        # month rounds to -0.0 on one engine and 0.0 on the other)
        (
            F.round(
                F.col("principal") * growth
                - F.col("pmt") * (growth - 1) / F.col("r"),
                2,
            )
            + 0.0
        ).alias("balance"),
    )


@query(
    "loan_vintage_status",
    oracle="""
    WITH v AS (SELECT date_trunc('month', o_orderdate)::DATE AS vintage,
                      o_orderstatus AS status, count(*) AS n_loans
               FROM orders GROUP BY 1, 2),
         t AS (SELECT vintage, CAST(sum(n_loans) AS BIGINT) AS vintage_total
               FROM v GROUP BY 1)
    SELECT v.vintage, v.status, v.n_loans, t.vintage_total,
           floor(v.n_loans * 1e4 / t.vintage_total) / 1e4 AS status_share
    FROM v JOIN t USING (vintage)
    """,
)
def loan_vintage_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vintage analysis — status mix per origination month, the credit-
    risk curve view ("are newer vintages going bad faster?"). One
    (month, status) aggregate + a broadcast month-total join."""
    orders = _t(spark, sf_dir, "orders")
    v = orders.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("vintage"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("n_loans"))
    t = v.groupBy("vintage").agg(F.sum("n_loans").alias("vintage_total"))
    return v.join(F.broadcast(t), "vintage").select(
        "vintage",
        "status",
        "n_loans",
        "vintage_total",
        (
            F.floor(F.col("n_loans") * 1e4 / F.col("vintage_total")) / 1e4
        ).alias("status_share"),
    )


@query("loan_portfolio_runoff", oracle=None)  # assembled below
def loan_portfolio_runoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portfolio runoff curve: total outstanding balance and active
    loan count per month ahead, summed over the amortizing book — the
    treasury view of the schedule. A |months|-key aggregate over the
    map-side-generated schedule."""
    sched = loan_payment_schedule(spark, sf_dir)
    return sched.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_active_loans"),
        F.round(F.sum("balance"), 2).alias("total_outstanding"),
    )


ORACLE["loan_portfolio_runoff"] = f"""
    WITH sched AS ({ORACLE['loan_payment_schedule']})
    SELECT month, count(*) AS n_active_loans,
           round(sum(balance), 2) AS total_outstanding
    FROM sched GROUP BY month
"""
