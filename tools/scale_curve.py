"""Measured scaling curve: run representative queries at sf0.01, sf0.1,
and a DERIVED 10x-of-sf0.1 dataset, and report each query's runtime
scaling exponent — the empirical check behind SCALE.md's "would this
hold at 100 TB" claims, and a bottleneck detector (an exponent near 2
means a quadratic term survived somewhere).

The 10x dataset is sf0.1 unioned 10 times with consistently SHIFTED
keys (copy i adds i*KEY_OFFSET to every entity key), so referential
integrity holds within each copy and cross-copy keys never collide.
Dimension tables (region, nation) keep one copy — exactly how a real
corpus grows (facts scale, dims don't). Used ONLY for this perf
experiment; the correctness gate runs exclusively on the driver's
fixtures.

Usage: python tools/scale_curve.py [--rebuild]
Writes one JSON line per query to stdout and a summary table to
SCALECURVE.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_loan_etl_pipeline_spark import registry  # noqa: E402
from airflow_loan_etl_pipeline_spark.catalog import TABLE_NAMES, load_table  # noqa: E402
from airflow_loan_etl_pipeline_spark.session import get_spark  # noqa: E402

registry.load_all()

import argparse  # noqa: E402

_ap = argparse.ArgumentParser()
_ap.add_argument("--rebuild", action="store_true")
_ap.add_argument("--copies", type=int, default=10)
_ap.add_argument("--queries", type=str, default="")
_ap.add_argument("--out", type=str, default="SCALECURVE.md")
_ap.add_argument("--merge", action="store_true",
                 help="re-run only --queries and update their rows in "
                      "the existing output table (keeps every other "
                      "row)")
ARGS, _ = _ap.parse_known_args()

COPIES = ARGS.copies
BIG_DIR = f"/tmp/sparkgraft_sf0.1x{COPIES}"
KEY_OFFSET = 100_000_000

# key columns to shift per table (dims untouched; foreign keys into
# dims — nationkey — untouched)
SHIFT = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# one representative per operator family (capped variants for the
# pair generators — the UNCAPPED quadratic form is exactly what the
# caps exist to avoid at scale)
QUERIES = [
    "loan_agg",                      # multi-key hash agg
    "q1_pricing_summary",            # TPC-H scan-heavy agg
    "q3_shipping_priority",          # join + agg + topk
    "q21_last_shipper",              # heaviest TPC-H self-joins
    "top_customers_by_revenue",      # agg-before-join rewrite
    "nation_revenue",                # dim broadcast joins
    "window_running_spend",          # window over partitioned keys
    "events_funnel",                 # sessionized funnel
    "events_time_rollup",            # rollup hierarchy
    "dedup_exact",                   # md5 groupBy
    "minhash_lsh_pairs_capped",      # banded LSH + caps
    "ngram_jaccard_pairs_capped",    # shingle self-join + caps
    "dup_clusters",                  # iterative pointer jumping
    "docs_tfidf_top_terms",          # explode + two-level agg
    "docs_token_stats",              # scan-local text metrics
    "embeddings_cosine_topk",        # brute-force ANN
    "embeddings_ivf_topk",           # IVF map-side assignment
    "embeddings_batch_topk",         # batched multi-query topk
    "lineitem_equidepth_hist",       # counting-sort boundaries + straddle hist
    "lineitem_percentiles",          # grouped by-value counting sort
    "orders_median_bootstrap_ci",    # bootstrap via weighted median
    "orders_rfm_segments",           # window + ntile-style buckets
    "docs_heavy_tokens",             # Misra-Gries two-phase
    # round-3/4 additions (VERDICT r4 item 6)
    "kmeans_train_k16",              # 3 Lloyd iterations, broadcast argmax
    "embeddings_ivf_trained_topk",   # trained-IVF probe
    "dedup_incremental_neardup",     # batch-vs-corpus admission
    "corpus_build_summary",          # capstone pipeline
]


def build_big(spark) -> None:
    import pyspark.sql.functions as F

    if os.path.isdir(BIG_DIR):
        shutil.rmtree(BIG_DIR)
    os.makedirs(BIG_DIR, exist_ok=True)
    for t in TABLE_NAMES:
        src = load_table(spark, "/root/testdata/sf0.1", t)
        if t not in SHIFT:
            out = src  # dims: one copy
        else:
            parts = []
            for i in range(COPIES):
                c = src
                for col in SHIFT[t]:
                    c = c.withColumn(
                        col, (F.col(col) + F.lit(i * KEY_OFFSET)).cast("long")
                    )
                parts.append(c)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{BIG_DIR}/{t}.parquet")
    print(f"# built {BIG_DIR}", file=sys.stderr)


def main() -> None:
    spark = get_spark("scale_curve")
    spark.sparkContext.setLogLevel("ERROR")
    if ARGS.rebuild or not os.path.isdir(BIG_DIR):
        build_big(spark)
    big_label = f"sf0.1x{COPIES}"
    dirs = [("sf0.01", "/root/testdata/sf0.01"),
            ("sf0.1", "/root/testdata/sf0.1"),
            (big_label, BIG_DIR)]
    # warm page cache + JIT
    for _, d in dirs:
        for t in TABLE_NAMES:
            load_table(spark, d, t).count()
    rows = []
    queries = [q for q in ARGS.queries.split(",") if q] or QUERIES
    for name in queries:
        fn = registry.QUERIES[name]
        rec = {"query": name}
        # untimed warmup: first-ever execution of a pipeline pays JIT /
        # Python-worker spin-up that would otherwise land on the first
        # (smallest) directory and invert the curve
        fn(spark, "/root/testdata/sf0.01").count()
        for label, d in dirs:
            best = math.inf
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, d).count()
                best = min(best, time.perf_counter() - t0)
            rec[label] = round(best, 3)
        # exponent over the measured COPIES-x step (sf0.1 -> xN)
        if rec["sf0.1"] > 0:
            rec["exp_big"] = round(
                math.log10(max(rec[big_label], 1e-3) / max(rec["sf0.1"], 1e-3))
                / math.log10(COPIES),
                2,
            )
        rows.append(rec)
        print(json.dumps(rec), flush=True)
    if ARGS.merge:
        import re

        out_path = os.path.join(os.path.dirname(__file__), "..", ARGS.out)
        fresh = {r["query"]: r for r in rows}
        merged = []
        try:
            with open(out_path) as fh:
                for ln in fh:
                    m = re.match(
                        r"\| `([^`]+)` \| ([^|]*) \| ([^|]*) \|"
                        r" ([^|]*) \| ([^|]*) \|",
                        ln,
                    )
                    if not m:
                        continue
                    name = m.group(1)
                    # the artifact can carry the same query in more
                    # than one table (historical re-measure sections);
                    # keep ONE row per query — fresh wins, else first
                    if any(r["query"] == name for r in merged):
                        continue
                    if name in fresh:
                        merged.append(fresh.pop(name))
                    else:
                        # the artifact carries non-curve tables too
                        # (checksum differentials with thousands
                        # separators / EXACT cells) — rows that don't
                        # parse as curve measurements are not ours
                        try:
                            rec = {
                                "query": name,
                                "sf0.01": float(m.group(2)),
                                "sf0.1": float(m.group(3)),
                                big_label: float(m.group(4)),
                            }
                            exp_s = m.group(5).strip()
                            if exp_s:
                                rec["exp_big"] = float(exp_s)
                        except ValueError:
                            continue
                        merged.append(rec)
        except OSError:
            pass
        rows = merged + list(fresh.values())
    lines = [
        "# SCALECURVE — measured runtime scaling (local[32])",
        "",
        f"Derived {COPIES}x dataset: sf0.1 facts unioned {COPIES}x with",
        "shifted keys (dims kept at one copy); perf experiment only,",
        "never a correctness input. `exp` = log(t_big / t_sf0.1) /",
        f"log({COPIES}): 1.0 is linear scaling, ~0 means fixed overhead",
        "dominates at this size, 2.0 would mean a surviving quadratic",
        "term.",
        "",
        f"| query | sf0.01 s | sf0.1 s | {big_label} s | exp |",
        "| --- | --- | --- | --- | --- |",
    ]
    for r in rows:
        lines.append(
            f"| `{r['query']}` | {r['sf0.01']} | {r['sf0.1']} |"
            f" {r[big_label]} | {r.get('exp_big', '')} |"
        )
    # In merge mode, PRESERVE everything after the main table — the
    # artifact accumulates narrative sections and checksum-differential
    # tables other tools append; a row-refresh must not wipe them.
    tail: list[str] | None = None
    if ARGS.merge:
        try:
            txt = open(
                os.path.join(os.path.dirname(__file__), "..", ARGS.out)
            ).read().splitlines()
            i = 0
            while i < len(txt) and not txt[i].startswith("| `"):
                i += 1
            j = i
            while j < len(txt) and txt[j].startswith("| `"):
                j += 1
            if i < len(txt):
                tail = txt[j:]
        except OSError:
            pass
    if tail is not None:
        lines += tail
    else:
        lines += [
            "",
            "Readings (from the 2026-08 run):",
            "",
            "- No exponent above ~0.7: nothing in the suite carries a",
            "  surviving quadratic term through a 10x fact scale-up.",
            "- The capped pair generators can scale SUB-linearly or even",
            "  negatively: at 10x the planted-duplicate shingles' document",
            "  frequencies cross `max_df`, the cap drops them before the",
            "  self-join, and the would-be 100x join fan-out never happens —",
            "  the hot-shingle cap doing exactly its 100 TB job.",
            "- Sub-0.2 exponents (scan-local text metrics, window/rollup,",
            "  ANN probes) are fixed-overhead-dominated at these sizes —",
            "  per-stage scheduling, not data, is the cost floor on",
            "  local[32].",
        ]
    with open(os.path.join(os.path.dirname(__file__), "..", ARGS.out), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"# wrote {ARGS.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
