"""Full-registry adversarial-input sweep (out-of-band, per round).

Builds one of the six degenerate datasets from the sf0.001 fixture
(builders shared with tests/test_degenerate_inputs.py) and runs EVERY
registry query against it, engine-side, reporting completion. The
105-case CI slice catches regressions; this sweep catches NEW
offenders (r8: empty-batch Arrow dtype, recursive-CTE clique blowup,
ANSI divide-by-zero on zero variance).

Usage: python tools/degenerate_sweep.py <axis> [query ...]
  axis ∈ empty | onerow | nullpay | skew | unicode | maxcard
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from airflow_loan_etl_pipeline_spark import registry  # noqa: E402
from airflow_loan_etl_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__  # noqa: E402, F401  — loads every registry module

import test_degenerate_inputs as D  # noqa: E402

BUILDERS = {
    "empty": D.build_empty,
    "onerow": D.build_onerow,
    "nullpay": D.build_null_payload,
    "skew": D.build_skew,
    "unicode": D.build_unicode,
    "maxcard": D.build_maxcard,
}


def main() -> None:
    axis = sys.argv[1]
    only = set(sys.argv[2:])
    spark = get_spark(f"degen_{axis}")
    dst = tempfile.mkdtemp(prefix=f"sg_sweep_{axis}_")
    BUILDERS[axis](spark, dst)
    failures: list[str] = []
    attempted = 0
    for name, fn in registry.QUERIES.items():
        if only and name not in only:
            continue
        attempted += 1
        try:
            n = fn(spark, dst).count()
            print(f"  ok {name}: {n} rows", flush=True)
        except Exception as e:
            msg = str(e).splitlines()[0][:200]
            print(f"  FAIL {name}: {type(e).__name__}: {msg}", flush=True)
            failures.append(name)
        spark.catalog.clearCache()
    print(f"\n{axis}: {attempted - len(failures)}/{attempted} complete")
    if failures:
        print("FAILURES:", ", ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
