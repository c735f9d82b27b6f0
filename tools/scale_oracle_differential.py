"""Close the 100x ORACLE-side concessions (VERDICT r9 item 6).

The engine sweep completes 262/262 at 100x, but a handful of
differentials stayed at 10x because their DEFINITIONAL DuckDB oracles
are quadratic (NOT-EXISTS dominance scan; Σ df² inverted-index pair
joins over the copy-multiplied corpus). This tool re-expresses those
oracles in equivalent near-linear form and runs the big-scale
differential with an order-insensitive (count, sum-mod-2^61 of row
hashes) checksum compare — collecting hundreds of millions of pair
rows through the driver is not a comparison strategy at 100x.

Trust chain, per query:

1. **Equivalence proof (small scale)**: the scalable oracle and the
   definitional oracle both run in DuckDB at sf0.001 AND sf0.01 and
   must produce the identical (n_rows, checksum). This pins that the
   rewritten SQL means the same thing — on data where the quadratic
   form is tractable.
2. **Big-scale differential**: the ENGINE result and the scalable
   oracle are checksum-compared at the derived 10x/100x datasets.

Scalable forms:

- ``part_pareto_frontier``: per-price-level max size + running max
  over price order (window prefix-max) replaces the O(n²) NOT EXISTS
  dominance scan — the same O(n log n) shape the engine runs.
- dup-family pair generators: the exact-text QUOTIENT factorization
  the engine itself uses (round 9, hypothesis-pinned lossless):
  candidates over one representative per DISTINCT text, expanded to
  member pairs output-sized, plus the within-group identical-text
  pairs. Pure functions of the two texts factor through the quotient
  by definition.

Row canonicalization (both sides, identical): columns joined with
chr(31), NULL -> chr(0), floats pre-scaled to integer units (x10000
for 4-dp scores, x100 for prices) so engine float formatting never
enters the hash.

Usage:
  python tools/scale_oracle_differential.py [big_dir] [query ...]
  (default big_dir: /tmp/sparkgraft_sf0.1x100)
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from airflow_loan_etl_pipeline_spark import registry  # noqa: E402
import __spark_entry__  # noqa: E402, F401  — loads every registry module
from airflow_loan_etl_pipeline_spark import registry_text as RT  # noqa: E402
from airflow_loan_etl_pipeline_spark.operators import dedup as D  # noqa: E402
from airflow_loan_etl_pipeline_spark.operators.validate import (  # noqa: E402
    table_checksum,
)
from airflow_loan_etl_pipeline_spark.session import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from check_oracle import duck_conn  # noqa: E402  (same dir)

MOD = 1 << 61

# ---------------------------------------------------------------------------
# Quotient CTE scaffolding (shared by every dup-family scalable oracle)
# ---------------------------------------------------------------------------

_QUOTIENT = """
    g AS (SELECT coalesce(md5(text), '_null_') AS fp, doc_id
          FROM documents),
    reps AS (SELECT fp, min(doc_id) AS rid FROM g GROUP BY fp),
    rdocs AS (SELECT r.fp, r.rid AS doc_id, d.text
              FROM reps r JOIN documents d ON d.doc_id = r.rid),
    same_pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM g a JOIN g b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id)
"""

# expansion of rep-level pairs (doc_a, doc_b, <score...>) to member doc
# pairs — groups are disjoint so each unordered member pair appears once
def _expand(rep_pairs_cte: str, score_cols: str) -> str:
    scores = [c.strip() for c in score_cols.split(",") if c.strip()]
    rp_scores = "".join(f", rp.{c}" for c in scores)
    fwd_scores = "".join(f", {c}" for c in scores)
    return f"""
    fp_pairs AS (SELECT ra.fp AS fa, rb.fp AS fb{rp_scores}
                 FROM {rep_pairs_cte} rp
                 JOIN reps ra ON ra.rid = rp.doc_a
                 JOIN reps rb ON rb.rid = rp.doc_b),
    cross_pairs AS (SELECT least(ga.doc_id, gb.doc_id) AS doc_a,
                           greatest(ga.doc_id, gb.doc_id) AS doc_b{fwd_scores}
                    FROM fp_pairs
                    JOIN g ga ON ga.fp = fa
                    JOIN g gb ON gb.fp = fb)
"""


def _minhash_scale_sql() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_id, "
        f"array_to_string(sig[{j * D.ROWS_PER_BAND + 1}:"
        f"{(j + 1) * D.ROWS_PER_BAND}], '-') AS band_key FROM sig"
        for j in range(D.N_BANDS)
    )
    return f"""
    WITH {_QUOTIENT},
    tok AS (SELECT doc_id, {RT._SHINGLES_DUCK} AS shingles FROM rdocs),
    hashed AS (SELECT doc_id,
        list_transform(shingles, s -> {RT._HASH32_DUCK.format(x='s')}) AS hh
        FROM tok),
    sig AS (SELECT doc_id, [{RT._SIG_ITEMS_DUCK}] AS sig FROM hashed),
    bands AS ({bands}),
    rp AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
           FROM bands l JOIN bands r
             ON l.band_id = r.band_id AND l.band_key = r.band_key
            AND l.doc_id < r.doc_id),
    {_expand('rp', '')}
    SELECT doc_a, doc_b FROM cross_pairs
    UNION ALL SELECT doc_a, doc_b FROM same_pairs
    """


def _jaccard_scale_sql(thr: float) -> str:
    return f"""
    WITH {_QUOTIENT},
    sh AS (SELECT doc_id, {RT._SHINGLES_DUCK} AS shingles FROM rdocs),
    ex AS (SELECT doc_id, len(shingles) AS n_sh,
                  unnest(list_transform(shingles,
                         s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS s
           FROM sh),
    inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
                     l.n_sh AS na, r.n_sh AS nb, count(*) AS inter
              FROM ex l JOIN ex r ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY 1, 2, 3, 4),
    rp AS (SELECT doc_a, doc_b,
                  round(inter / (na + nb - inter), 4) AS jaccard
           FROM inter
           WHERE round(inter / (na + nb - inter), 4) >= {thr}),
    {_expand('rp', 'jaccard')}
    SELECT doc_a, doc_b, jaccard FROM cross_pairs
    UNION ALL SELECT doc_a, doc_b, 1.0 AS jaccard FROM same_pairs
    """


def _containment_scale_sql(thr: float) -> str:
    return f"""
    WITH {_QUOTIENT},
    sh AS (SELECT doc_id, {RT._SHINGLES_DUCK} AS shingles FROM rdocs),
    ex AS (SELECT doc_id, len(shingles) AS n_sh,
                  unnest(list_transform(shingles,
                         s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS s
           FROM sh),
    inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
                     l.n_sh AS na, r.n_sh AS nb, count(*) AS inter
              FROM ex l JOIN ex r ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY 1, 2, 3, 4),
    rp AS (SELECT doc_a, doc_b,
                  round(inter / least(na, nb), 4) AS containment
           FROM inter
           WHERE round(inter / least(na, nb), 4) >= {thr}),
    {_expand('rp', 'containment')}
    SELECT doc_a, doc_b, containment FROM cross_pairs
    UNION ALL SELECT doc_a, doc_b, 1.0 AS containment FROM same_pairs
    """


def _simhash_scale_sql(max_hamming: int = 3) -> str:
    # definitional hamming over the (distinct-text) representatives:
    # |reps|² popcount comparisons — reps are bounded by distinct
    # texts, so this stays tractable on copy-multiplied corpora.
    return f"""
    WITH {_QUOTIENT},
    tok AS (SELECT doc_id, unnest({RT._TOKS}) AS tok FROM rdocs),
    h AS (SELECT doc_id, {RT._HASH32_DUCK.format(x='tok')} AS h FROM tok),
    bits AS (SELECT doc_id, {RT._SIMHASH_SUMS} FROM h GROUP BY doc_id),
    shj AS (SELECT doc_id, {RT._SIMHASH_VAL} AS simhash FROM bits),
    rp AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
                  bit_count(xor(l.simhash, r.simhash))::INT AS hamming
           FROM shj l JOIN shj r ON l.doc_id < r.doc_id
           WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}),
    {_expand('rp', 'hamming')}
    SELECT doc_a, doc_b, hamming FROM cross_pairs
    UNION ALL SELECT doc_a, doc_b, 0 AS hamming FROM same_pairs
    """


_PARETO_SCALE_SQL = """
    WITH s AS (SELECT p_partkey, p_retailprice, p_size FROM part),
    lvl AS (SELECT p_retailprice AS pr, max(p_size) AS msz
            FROM s GROUP BY 1),
    cum AS (SELECT pr, msz,
                   max(msz) OVER (ORDER BY pr ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_max
            FROM lvl),
    keeplvl AS (SELECT pr, msz FROM cum
                WHERE prev_max IS NULL OR msz > prev_max)
    SELECT s.p_partkey, s.p_retailprice, s.p_size
    FROM s JOIN keeplvl k
      ON s.p_retailprice = k.pr AND s.p_size = k.msz
"""

# (column, transform) — transform is None (cast to string as-is) or a
# scale factor applied as CAST(round(col * f) AS BIGINT) on BOTH sides.
TARGETS: dict[str, dict] = {
    "minhash_lsh_pairs": {
        "sql": _minhash_scale_sql(),
        "cols": [("doc_a", None), ("doc_b", None)],
    },
    "ngram_jaccard_pairs": {
        "sql": _jaccard_scale_sql(0.2),
        "cols": [("doc_a", None), ("doc_b", None), ("jaccard", 10000)],
    },
    "ngram_jaccard_pairs_prefix": {
        "sql": _jaccard_scale_sql(0.2),
        "cols": [("doc_a", None), ("doc_b", None), ("jaccard", 10000)],
    },
    "ngram_containment_pairs": {
        "sql": _containment_scale_sql(0.5),
        "cols": [("doc_a", None), ("doc_b", None), ("containment", 10000)],
    },
    "simhash_pairs": {
        "sql": _simhash_scale_sql(),
        "cols": [("doc_a", None), ("doc_b", None), ("hamming", None)],
    },
    "part_pareto_frontier": {
        "sql": _PARETO_SCALE_SQL,
        "cols": [
            ("p_partkey", None),
            ("p_retailprice", 100),
            ("p_size", None),
        ],
    },
}


def _duck_checksum(con, sql: str, cols) -> tuple[int, int]:
    parts = []
    for c, scale in cols:
        expr = c if scale is None else f"CAST(round({c} * {scale}) AS BIGINT)"
        parts.append(f"coalesce(({expr})::VARCHAR, chr(0))")
    q = f"""
    WITH q AS ({sql}),
    c AS (SELECT concat_ws(chr(31), {', '.join(parts)}) AS canon FROM q),
    h AS (SELECT ('0x' || substr(md5(canon), 1, 15))::BIGINT AS hh FROM c)
    SELECT count(*) , CAST(sum(hh) % {MOD} AS BIGINT) FROM h
    """
    n, cs = con.sql(q).fetchone()
    return int(n), int(cs or 0)


def _engine_checksum(spark, name: str, sf_dir: str, cols) -> tuple[int, int]:
    df = registry.QUERIES[name](spark, sf_dir)
    sel = []
    for c, scale in cols:
        col = F.col(c)
        if scale is not None:
            col = F.expr(f"CAST(round({c} * {scale}) AS BIGINT)")
        sel.append(col.alias(c))
    row = table_checksum(df.select(sel)).first()
    return int(row["n_rows"]), int(row["checksum"] or 0)


def main() -> None:
    big_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sparkgraft_sf0.1x100"
    only = set(sys.argv[2:])
    spark = get_spark("scale_oracle_differential")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for name, spec in TARGETS.items():
        if only and name not in only:
            continue
        rec = {"query": name, "big_dir": big_dir}
        # 1. equivalence proof at small scales (DuckDB vs DuckDB)
        ok = True
        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            con = duck_conn(sf)
            defn = _duck_checksum(con, registry.ORACLE[name], spec["cols"])
            scal = _duck_checksum(con, spec["sql"], spec["cols"])
            rec[f"equiv_{os.path.basename(sf)}"] = (
                "ok" if defn == scal else f"MISMATCH {defn} vs {scal}"
            )
            ok = ok and defn == scal
        if not ok:
            rec["status"] = "EQUIVALENCE-FAIL"
            results.append(rec)
            print(json.dumps(rec), flush=True)
            continue
        # 2. big-scale differential (engine vs scalable oracle)
        t0 = time.time()
        eng = _engine_checksum(spark, name, big_dir, spec["cols"])
        rec["engine_s"] = round(time.time() - t0, 1)
        t0 = time.time()
        con = duck_conn(big_dir)
        orc = _duck_checksum(con, spec["sql"], spec["cols"])
        rec["oracle_s"] = round(time.time() - t0, 1)
        rec["n_rows"] = eng[0]
        rec["status"] = (
            "EXACT" if eng == orc else f"MISMATCH engine={eng} oracle={orc}"
        )
        results.append(rec)
        print(json.dumps(rec), flush=True)
    bad = [r for r in results if r["status"] != "EXACT"]
    print(f"\n{len(results) - len(bad)}/{len(results)} EXACT")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
