"""Physical-plan profile for every registered query: counts of
exchanges, join strategies, windows, and scans at sf0.001 — the
plan-hygiene audit behind SCALE.md, regenerated per round into
PLANS.md.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_loan_etl_pipeline_spark import registry  # noqa: E402
from airflow_loan_etl_pipeline_spark.session import get_spark  # noqa: E402

registry.load_all()

MARKS = {
    "shuffles": "Exchange hashpartitioning",
    "range_exchanges": "Exchange rangepartitioning",
    "single_part": "Exchange SinglePartition",
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "windows": "windowspecdefinition",
    "scans": "Scan parquet",
    "python": "Python",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_report", shuffle_partitions=8)
    from airflow_loan_etl_pipeline_spark.operators import cache_scope

    cache_scope.set_plan_capture(True)  # capture is opt-in
    rows = []
    for name in sorted(registry.QUERIES):
        # queries built on materialize_consistent truncate lineage —
        # fold their materialization plans into the counts so the
        # profile reports the WHOLE query's work, not the post-
        # checkpoint residue
        cache_scope.clear_materialization_plans()
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan += "\n".join(
                cache_scope.recent_materialization_plans("simple")
            )
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"error": str(e)[:60]}))
            continue
        rows.append(
            (name, {k: plan.count(m) for k, m in MARKS.items()})
        )
    out = ["# PLANS — physical-plan profile (sf0.001, pre-AQE counts)",
           "",
           "Generated by tools/plan_report.py. Columns: hash-partition",
           "exchanges, range exchanges, single-partition exchanges,",
           "broadcast-hash / sort-merge / broadcast-nested-loop joins,",
           "cartesian products (must stay 0), window specs, parquet",
           "scans, Python (Arrow) stages.",
           "",
           "Single-partition exchanges appear ONLY over bounded frames",
           "(global one-row aggregates, parallelism-sized offset tables,",
           "|keys|-sized grids) — the distributed-recipe pattern; the",
           "data-sized paths are plan-asserted shuffle-partitioned in",
           "tests/test_plans.py. Cartesian products must stay zero.",
           "",
           "BNLJ (broadcast-nested-loop) entries are all SINGLE-ROW",
           "broadcast crossJoins — a one-row boundary/threshold/stat frame",
           "riding into every task as a constant (equidepth boundaries,",
           "2d-grid bands, norm/z-score denominators). Over one build row a",
           "nested loop IS a map-side constant fold; none of these joins",
           "data against data.",
           "",
           "| query | xchg | range | single | BHJ | SMJ | BNLJ | cart | win | scan | py |",
           "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |"]
    n_cart = 0
    for name, st in rows:
        if "error" in st:
            out.append(f"| {name} | ERROR: {st['error']} |" + " |" * 9)
            continue
        n_cart += st["cartesian"]
        out.append(
            "| {n} | {shuffles} | {range_exchanges} | {single_part} | "
            "{bhj} | {smj} | {bnlj} | {cartesian} | {windows} | {scans} | "
            "{python} |".format(n=name, **st)
        )
    out.append("")
    out.append(f"Total queries: {len(rows)}; cartesian products: {n_cart}.")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries, {n_cart} cartesian)")


if __name__ == "__main__":
    main()
