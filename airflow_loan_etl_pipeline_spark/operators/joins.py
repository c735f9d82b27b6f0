"""Join operators (SURVEY.md §2.3 + §7 phase 2).

The reference has no in-engine joins — its only join-shaped logic is a
Python-set anti-join of candidate files vs the processed ledger
(/root/reference/airflow/dags/drive_auto_compress_email.py:184, :207),
which stays a driver-side set difference (streaming/file_source.py).
The engine exposes the full join surface through ``df.join`` so
Catalyst/AQE pick broadcast vs shuffled-hash vs sort-merge at runtime.

Scale notes: dimension tables (region/nation/supplier/part at typical
ratios) are broadcast explicitly; fact-fact joins shuffle on the join
key and rely on AQE skew-join splitting for hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def semi_join(left: DataFrame, right: DataFrame, on, broadcast: bool = False) -> DataFrame:
    right = F.broadcast(right) if broadcast else right
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on, broadcast: bool = False) -> DataFrame:
    right = F.broadcast(right) if broadcast else right
    return left.join(right, on=on, how="left_anti")


def dim_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Fact-to-dimension equi-join with an explicit broadcast hint."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def skew_salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe shuffle equi-join: a low-cardinality/hot join key sends
    every matching fact row to the same reducer; salting splits each hot
    key across ``salt`` partitions by widening the join key to
    (key, salt_id) — fact rows take a pseudorandom salt, dim rows are
    replicated once per salt value (explode of a ``sequence``, dim-side
    only, so the blow-up is |dim| × salt, not |fact|).

    The RESULT is identical to the plain join for any salt assignment
    (every fact row still meets exactly its key's dim rows), so the
    oracle is the unsalted join — only the shuffle distribution changes.
    Complements AQE skew-split (which handles skewed SORT-MERGE
    partitions after the fact): salting fixes the hash distribution
    up front and also covers aggregations layered on the join output.

    Use when dim is too big to broadcast AND the key histogram is
    power-law; for broadcastable dims ``dim_join`` is strictly better
    (no shuffle at all).

    Fact-preserving joins are salt-invariant: each fact row carries
    exactly one salt, so under ``inner``/``left`` it matches its key's
    dim rows or survives once unmatched, and under ``semi``/``anti``
    it is kept/dropped iff its key exists in dim (the dim side is
    replicated across EVERY salt, so the single (key, salt) probe hits
    iff the key is present at all). A right/full join would emit every
    UNMATCHED dim row once per salt replica (``salt`` null-padded
    copies) — rejected loudly rather than silently multiplied.
    """
    norm = how.lower().replace("_", "").removesuffix("outer") or "full"
    if norm not in ("inner", "left", "semi", "anti", "leftsemi", "leftanti"):
        raise ValueError(
            "skew_salted_join supports fact-preserving joins only "
            "(inner/left/semi/anti): the dim side is replicated "
            f"{salt}x, so '{how}' would duplicate unmatched dim rows "
            "once per salt replica"
        )
    fact_s = fact.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)
        ).cast("int"),
    )
    dim_s = dim.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, {salt - 1})"))
    )
    return fact_s.join(dim_s, on=[*on, "_salt"], how=how).drop("_salt")
