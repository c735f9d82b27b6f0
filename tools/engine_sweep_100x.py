"""Full-registry ENGINE sweep at the derived 100x dataset.

Runs every registry query (engine side only — no DuckDB) against
/tmp/sparkgraft_sf0.1x{N}, recording per-query wall time, row count,
and completion. A per-query watchdog cancels the Spark job group after
``--timeout`` seconds (default 600) and a disk guard aborts a query
whose shuffle/checkpoint spill pushes the root filesystem past
``--disk-pct`` (default 80) — the uncapped pair generators are
definitionally quadratic on the copy-multiplied dataset, and the sweep
must degrade to an honest TIMEOUT row, not an ENOSPC that kills the
host (the r8 failure mode).

Usage: python tools/engine_sweep_100x.py [--copies 100]
           [--timeout 600] [--disk-pct 80] [query ...]
Writes one JSON line per query to stdout and a markdown table to
SCALESWEEP_100x.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_loan_etl_pipeline_spark import registry  # noqa: E402
from airflow_loan_etl_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__  # noqa: E402, F401  — loads every registry module

ap = argparse.ArgumentParser()
ap.add_argument("--copies", type=int, default=100)
ap.add_argument("--timeout", type=float, default=600.0)
ap.add_argument("--disk-pct", type=float, default=80.0)
ap.add_argument("--merge", action="store_true",
                help="re-run only the named queries and update their "
                     "rows in the existing SCALESWEEP_100x.md (keeps "
                     "every other row) instead of rewriting the table "
                     "from this run alone")
ap.add_argument("queries", nargs="*")
ARGS = ap.parse_args()

MD_PATH = os.path.join(REPO, "SCALESWEEP_100x.md")


def parse_existing_rows(path: str) -> list[dict]:
    """Rows of the current SCALESWEEP table as result dicts."""
    import re

    out = []
    try:
        with open(path) as fh:
            for ln in fh:
                m = re.match(
                    r"\| `([^`]+)` \| (\S+) \| ([^|]*) \| ([^|]*) \|", ln
                )
                if m:
                    # one row per query even if the artifact carries
                    # historical re-measure tables — first wins here,
                    # and the fresh-run merge overrides by name anyway
                    if any(r["query"] == m.group(1) for r in out):
                        continue
                    rec = {"query": m.group(1), "status": m.group(2)}
                    rows_s, sec_s = m.group(3).strip(), m.group(4).strip()
                    try:
                        if rows_s:
                            rec["rows"] = int(rows_s)
                        if sec_s:
                            rec["sec"] = float(sec_s)
                    except ValueError:
                        # non-sweep table row (other artifacts share
                        # the 4-column shape) — not ours to merge
                        continue
                    out.append(rec)
    except OSError:
        pass
    return out

BIG_DIR = f"/tmp/sparkgraft_sf0.1x{ARGS.copies}"


def disk_pct() -> float:
    # used/(used+free), like df's Use% — on overlay filesystems
    # total >> used+free (reserved/overlay accounting), so the naive
    # (total-free)/total sits near 77% empty and trips the guard on
    # the first spill.
    u = shutil.disk_usage("/tmp")
    return 100.0 * u.used / (u.used + u.free)


def main() -> None:
    spark = get_spark("engine_sweep_100x")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.isdir(BIG_DIR):
        sys.exit(f"{BIG_DIR} missing — build it with tools/scale_curve.py")
    only = set(ARGS.queries)
    results: list[dict] = []
    for name, fn in registry.QUERIES.items():
        if only and name not in only:
            continue
        group = f"sweep_{name}"
        sc = spark.sparkContext
        sc.setJobGroup(group, name, interruptOnCancel=True)
        out: dict = {"query": name}
        done = threading.Event()
        aborted: list[str] = []

        def watchdog():
            t0 = time.time()
            while not done.wait(2.0):
                if time.time() - t0 > ARGS.timeout:
                    aborted.append("timeout")
                elif disk_pct() > ARGS.disk_pct:
                    aborted.append(f"disk>{ARGS.disk_pct:.0f}%")
                else:
                    continue
                sc.cancelJobGroup(group)
                return

        w = threading.Thread(target=watchdog, daemon=True)
        w.start()
        t0 = time.perf_counter()
        try:
            n = fn(spark, BIG_DIR).count()
            out.update(
                status="ok", rows=n, sec=round(time.perf_counter() - t0, 2)
            )
        except Exception as e:
            reason = aborted[0] if aborted else type(e).__name__
            out.update(
                status=reason, sec=round(time.perf_counter() - t0, 2)
            )
        finally:
            done.set()
            w.join(timeout=5)
            sc.setJobGroup("idle", "idle")
            spark.catalog.clearCache()
        print(json.dumps(out), flush=True)
        results.append(out)

    if ARGS.merge:
        fresh = {r["query"]: r for r in results}
        merged = [
            fresh.pop(r["query"], r) for r in parse_existing_rows(MD_PATH)
        ]
        results = merged + list(fresh.values())
    ok = [r for r in results if r["status"] == "ok"]
    lines = [
        "# SCALESWEEP — full-registry ENGINE run at the derived "
        f"{ARGS.copies}x dataset (local[32])",
        "",
        f"{len(ok)}/{len(results)} queries complete "
        f"(per-query timeout {ARGS.timeout:.0f}s, disk guard "
        f"{ARGS.disk_pct:.0f}%). Engine side only — oracle "
        "differentials at this scale are tracked separately "
        "(SCALECURVE_100x.md).",
        "",
        "| query | status | rows | sec |",
        "| --- | --- | --- | --- |",
    ]
    for r in sorted(results, key=lambda r: -r.get("sec", 0)):
        lines.append(
            f"| `{r['query']}` | {r['status']} | "
            f"{r.get('rows', '')} | {r.get('sec', '')} |"
        )
    with open(MD_PATH, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"# wrote SCALESWEEP_100x.md ({len(ok)}/{len(results)} ok)",
          file=sys.stderr)


if __name__ == "__main__":
    main()
