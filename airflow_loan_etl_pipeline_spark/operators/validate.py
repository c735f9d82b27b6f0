"""Data-quality expectations — the reference's own declared roadmap
item ("Add schema validation to uploaded CSVs",
/root/reference/README.md:222), implemented engine-side.

A rule is (name, boolean Column that SHOULD hold). The report counts,
per rule, the rows where the condition is not TRUE (NULL counts as a
violation — an unparseable cell failing a range check is a data-quality
problem, not a pass). All rules evaluate in ONE scan: a single global
aggregate of conditional sums (map-side partial, no shuffle of data
rows), then a driver-free unpivot of the one result row into
(rule, n_violations) records. At 100 TB this is the same single pass a
count() costs, regardless of rule count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_expectations(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """(rule, n_violations, n_rows, passed) — one row per rule."""
    viol = [
        F.sum(
            F.when(~F.coalesce(cond, F.lit(False)), 1).otherwise(0)
        ).alias(name)
        for name, cond in rules
    ]
    one = df.agg(*viol, F.count(F.lit(1)).alias("_n_rows"))
    stack_args = ", ".join(f"'{name}', `{name}`" for name, _ in rules)
    return one.selectExpr(
        f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)",
        "_n_rows AS n_rows",
    ).withColumn("passed", F.col("n_violations") == 0)


def key_skew_stats(
    df: DataFrame, key_col: str, top: int = 10
) -> DataFrame:
    """Key-skew diagnostic: the ``top`` heaviest key values with their
    share of all rows and the ratio to a perfectly uniform key — the
    measurement that decides whether a join/agg on this key needs
    salting or AQE skew handling BEFORE the 100 TB run discovers it.

    One hash aggregate (map-side combined) + a broadcast 1-row total;
    TakeOrdered for the top slice.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.col("n_rows"), 4).alias("row_share"),
            F.round(
                F.col("cnt") / (F.col("n_rows") / F.col("n_keys")), 4
            ).alias("x_uniform"),
        )
        .orderBy(F.col("cnt").desc(), F.col(key_col).asc())
        .limit(top)
    )


def table_checksum(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Order-insensitive content checksum of a table: per-row md5 over
    the canonicalized row text, folded with modular SUM — identical
    bytes give an identical checksum on any engine, any partitioning,
    any row order. The integrity primitive of a reproducible corpus
    release ("this training snapshot is exactly what we published").

    Map-side projection + one 1-row aggregate; no shuffle wider than
    the final combine. Sum-mod-2^61 (not xor): xor is blind to rows
    duplicated an even number of times.
    """
    cols = cols or df.columns
    canon = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    h = "cast(conv(substr(md5(_canon), 1, 15), 16, 10) AS bigint)"
    return (
        df.select(canon.alias("_canon"))
        .select(F.expr(h).alias("_h"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # Fold in DECIMAL(38,0): an int64 sum of 2^61-bounded hashes
            # overflows after ~4 rows under ANSI; 38 digits hold ~10^18
            # rows' worth of partial sums before the final mod.
            F.expr(
                "cast(sum(cast(_h AS decimal(38,0)))"
                f" % {1 << 61} AS bigint)"
            ).alias("checksum"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    fingerprint_col: str,
) -> DataFrame:
    """Row-level diff between two corpus releases keyed on ``key_col``,
    comparing content by a precomputed fingerprint column: every row is
    classified added / removed / changed / unchanged. The release-
    engineering companion to table_checksum — checksum says WHETHER two
    snapshots differ, diff says WHERE.

    One full outer join on the key over (key, fingerprint) projections:
    the shuffle carries two narrow columns regardless of row width, so
    diffing 100 TB snapshots moves only keys + 16-byte hashes.
    """
    o = old.select(
        F.col(key_col).alias("k"), F.col(fingerprint_col).alias("fp_old")
    ).alias("o")
    n = new.select(
        F.col(key_col).alias("k"), F.col(fingerprint_col).alias("fp_new")
    ).alias("n")
    joined = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("k").alias(key_col), status.alias("status"))


def pseudonymize(
    df: DataFrame,
    cols: list[str],
    salt: str,
    hash_bits: int = 256,
) -> DataFrame:
    """Consistent keyed pseudonymization: replace identifier columns
    with ``sha2(salt || ':' || value)`` — the privacy primitive for
    training-data exports. CONSISTENT: the same (salt, value) maps to
    the same pseudonym everywhere, so joins, groupBys, and
    cross-release linkage still work; rotating the salt unlinks every
    release at once. One-way for high-entropy ids (for LOW-entropy
    values enumerate-and-hash attacks apply — salt secrecy is the only
    defense; document retention accordingly).

    Pure map-side projection (codegen sha2); no shuffle, payload
    columns untouched.
    """
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.sha2(
                F.concat_ws(":", F.lit(salt), F.col(c).cast("string")),
                hash_bits,
            ),
        )
    return out


def range_checksums(
    df: DataFrame,
    key_col: str,
    n_chunks: int = 16,
    cols: list[str] | None = None,
) -> DataFrame:
    """Merkle-style chunked checksums: the table folded into
    ``n_chunks`` key-addressed chunk checksums (same per-row md5 +
    modular-sum fold as :func:`table_checksum`). Two replicas compare
    chunk vectors and recurse only into the chunks that differ —
    locating divergence in O(log) round trips instead of re-shipping
    the table; the reconciliation primitive for cross-site corpus
    mirrors. Chunk addressing is ``key % n_chunks`` (stable under
    appends anywhere in the keyspace); one |chunks|-key aggregate.
    """
    cols = cols or df.columns
    canon = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
    )
    h = "cast(conv(substr(md5(_canon), 1, 15), 16, 10) AS bigint)"
    return (
        df.select(
            (F.col(key_col) % n_chunks).alias("chunk"), canon.alias("_canon")
        )
        .select("chunk", F.expr(h).alias("_h"))
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                "cast(sum(cast(_h AS decimal(38,0)))"
                f" % {1 << 61} AS bigint)"
            ).alias("checksum"),
        )
    )
