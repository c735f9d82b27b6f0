"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship loan-ETL plan on sf0.001;
``queries()`` / ``oracle_sql()`` expose the engine's registry
(airflow_loan_etl_pipeline_spark/registry.py) for the DuckDB
differential-oracle gate.
"""

from __future__ import annotations

import glob
import os
import re
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


# Queries whose implementation was REWIRED this round (round 13, the
# second optimization round): the dup_clusters pinned-probe +
# cached-edge loop (all its consumers), the quotient degree histogram,
# the bootstrap-CI histogram collapse, the funnel's NULL-excluding
# distinct count, and the new compressibility audit. All
# value-identical by construction and pre-verified exact against the
# local oracle gate at sf0.001/sf0.01 (touched families); front-loaded
# so the external gate re-verifies the changed physical paths
# same-round. Kept small so the stalest-first tail still cycles every
# query within 8 rounds (test_driver_contract pins the cycle length).
_REWIRED = [
    "dup_clusters",
    "dedup_funnel_summary",
    "corpus_dedup_final",
    "cluster_best_representative",
    "dedup_token_savings",
    "corpus_build_summary",
    "embedding_dup_clusters",
    "dup_degree_histogram",
    "orders_median_bootstrap_ci",
    "docs_compressibility_audit",
    "docs_compressibility",
]

# The driver's correctness gate samples a fixed-size PREFIX of the
# mapping this module returns (50 rows per round, observed r1-r10).
_DRIVER_SAMPLE = 50


def _current_round() -> int:
    """Round number inferred from the driver's own per-round artifacts:
    CORRECTNESS_r{N}.json files accumulate in the repo root, so the
    round being built is max(N)+1. Deterministic within a round (the
    file for the running round is only written after the gate runs)."""
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1 if rounds else 1


def _last_verified_round() -> dict[str, int]:
    """Per-query round of the most recent EXTERNAL verification: the
    highest N whose CORRECTNESS_r{N}.json contains the query. Entries
    the driver has never sampled map to 0 (stalest possible)."""
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if not m:
            continue
        n = int(m.group(1))
        try:
            with open(f) as fh:
                names = list(json.load(fh))
        except Exception:
            continue
        for q in names:
            last[q] = max(last.get(q, 0), n)
    return last


def _rotated_order(round_no: int) -> list[str]:
    """Deterministic driver-sample ordering (VERDICT r10 item 8, made
    STALEST-FIRST per VERDICT r11 item 6).

    The registry holds ~270 oracle-backed entries but the driver gate
    hashes only the first ``_DRIVER_SAMPLE``; a static ordering lets
    most entries' last driver-green row age indefinitely. Ordering:

    1. ``_REWIRED`` — this round's plan changes, re-verified same-round.
    2. Everything else sorted by (round of last external verification
       ASC, rows-only after oracle-backed, name) — the driver's prefix
       sample is therefore drawn from the cohort whose last external
       check is OLDEST (entries never sampled sort first of all), and
       every sampled entry's staleness resets, so the tail provably
       cycles: after each round the stalest ``step`` entries move to
       the back, bounding any entry's staleness by
       ceil(len / step) rounds.

    ``round_no`` only picks the _REWIRED head; the tail order depends
    on the accumulated CORRECTNESS artifacts (deterministic within a
    round — the running round's file appears only after the gate).
    """
    rewired = [k for k in _REWIRED if k in registry.QUERIES]
    last = _last_verified_round()
    rest = sorted(
        (k for k in registry.QUERIES if k not in set(rewired)),
        key=lambda k: (last.get(k, 0), k not in registry.ORACLE, k),
    )
    return rewired + rest


def queries(
    round_no: int | None = None,
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry, ordered for a prefix-sampling driver — see
    :func:`_rotated_order`. ``round_no`` defaults to the round inferred
    from the repo's CORRECTNESS artifacts (tests pass it explicitly)."""
    order = _rotated_order(_current_round() if round_no is None else round_no)
    return {k: registry.QUERIES[k] for k in order}


def oracle_sql() -> dict[str, str]:
    ordered = queries()
    return {k: registry.ORACLE[k] for k in ordered if k in registry.ORACLE}
