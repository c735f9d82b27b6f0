"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files. The program under test only ever sees the
files.

- Loan CSVs in the reference's 10-column ``schemas.LOAN`` layout, with
  blank cells in every column at a fixed share, so the mode imputation
  and the PERMISSIVE CSV parse both do real work.
- A star-schema directory (``orders``, ``customer``, ``events``,
  ``documents``, ``embeddings``) in the fixture layout ``catalog``
  reads: one ``<table>.parquet`` file per table, with the columns,
  types, row counts and key cardinalities of the sf0.1 test fixture
  (see the star-schema section below).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LOAN_HEADER = (
    "loan_id,customer_id,created_at,amount,interest_rate,tenure_months,"
    "status,product_type,branch,credit_score_band"
)
BLANK_SHARE = 0.05

_STATUS = ["ACTIVE", "CLOSED", "DEFAULTED", "PENDING"]
_PRODUCT = ["PERSONAL", "HOME", "AUTO", "GOLD", "EDUCATION"]
_BRANCH = [f"BR{i:02d}" for i in range(10)]
_BAND = ["POOR", "FAIR", "GOOD", "EXCELLENT"]
_TENURE = ["6", "12", "24", "36", "60", "120"]
_EPOCH_2023 = 1672531200  # 2023-01-01 UTC
_SPAN_3Y = 3 * 365 * 86400


def _rng(seed: int, *key: object) -> np.random.Generator:
    """Independent stream per (seed, key): a file's content does not
    depend on which other files were generated before it."""
    return np.random.default_rng([seed, zlib.crc32(repr(key).encode())])


def _skewed(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    # strictly decreasing weights: every column has a unique mode
    w = np.arange(len(values), 0, -1, dtype=float)
    return np.asarray(values)[rng.choice(len(values), size=n, p=w / w.sum())]


def loan_rows(seed: int, file_no: int, rows: int) -> str:
    """The CSV text (header included) of loan file ``file_no``."""
    rng = _rng(seed, "loan", file_no)
    ids = np.char.add(f"LN{file_no:05d}-", np.arange(rows).astype(str))
    cust = np.char.add("CU", (rng.zipf(1.3, rows) % 5000).astype(str))
    secs = _EPOCH_2023 + rng.integers(0, _SPAN_3Y, rows)
    created = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
    created = np.char.replace(created, "T", " ")
    amount = np.clip(rng.lognormal(11.0, 1.2, rows), 1e3, 5e6)
    rate = rng.uniform(4.0, 24.0, rows)
    cols = [
        ids,
        cust,
        created,
        np.char.mod("%.2f", amount),
        np.char.mod("%.2f", rate),
        _skewed(rng, _TENURE, rows),
        _skewed(rng, _STATUS, rows),
        _skewed(rng, _PRODUCT, rows),
        _skewed(rng, _BRANCH, rows),
        _skewed(rng, _BAND, rows),
    ]
    blank = rng.random((len(cols), rows)) < BLANK_SHARE
    cols = [np.where(b, "", c.astype(str)) for c, b in zip(cols, blank)]
    body = "\n".join(",".join(r) for r in zip(*cols))
    return f"{LOAN_HEADER}\n{body}\n"


def write_loan_file(watch_dir: str, seed: int, file_no: int, rows: int) -> tuple[str, int]:
    """Land ``loan_<file_no>.csv`` atomically (write + rename, the way
    an uploader lands a finished file). Returns ``(name, bytes)``."""
    name = f"loan_{file_no:05d}.csv"
    data = loan_rows(seed, file_no, rows).encode()
    tmp = os.path.join(watch_dir, f".{name}.part")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, os.path.join(watch_dir, name))
    return name, len(data)


# ---------------------------------------------------------------------------
# star schema
# ---------------------------------------------------------------------------
#
# Shaped after the engine's sf0.1 test fixture, measured table by
# table (row counts are the ``full`` sizes in workloads.SIZES):
#
# - orders: keys 0..n-1; o_custkey uniform over the customers (10
#   orders per customer on average); status F/O/P and the five
#   priorities uniform; o_totalprice uniform 1000-500000; o_orderdate a
#   whole day in 1995-01-01 .. 2001-08-01.
# - customer: n_orders / 10 rows; 25 nations, 5 segments uniform;
#   c_acctbal uniform -999.99-9999.99.
# - events: ts sorted by event_id over 30 days from 2024-01-01;
#   user_id uniform over the users (1500 at sf0.1, 45-99 events each);
#   event_type uniform over five types; value exponential with mean 50
#   (median 35), 2 decimals; props ``{"k": 0..99}``.
# - documents: 10-100 words (uniform) drawn uniformly from a 30-word
#   vocabulary; 5 % are near-duplicates, a copy of a random other
#   document with " dup" appended (so a few exact duplicate pairs
#   arise too); lang en 40 %, de/es/fr/zh 15 % each; source
#   ``src<doc_id % 20>``.
# - embeddings: 64-dim standard normal vectors scaled to unit length,
#   label uniform 0..9 (no cluster structure, as in the fixture).

_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_SEGMENT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "the a data table row column key value part line order customer "
    "query scan join filter group sort agg hash merge batch stream "
    "window spark fast slow big small vector"
).split()
NEAR_DUP_SHARE = 0.05


def _ts_col(epoch_s: np.ndarray) -> pa.Array:
    return pa.array(epoch_s.astype("datetime64[s]").astype("datetime64[us]"))


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    day0 = np.datetime64("1995-01-01", "s").astype(np.int64)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": _ts_col(day0 + rng.integers(0, 2404, n) * 86400),
            "o_orderpriority": rng.choice(_PRIORITY, n),
        }
    )


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": np.char.add("Customer#", np.char.zfill(keys.astype(str), 9)),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(_SEGMENT, n),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
            ),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))) for _ in range(n)]
    dups = rng.choice(n, int(round(n * NEAR_DUP_SHARE)), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vec = rng.normal(0.0, 1.0, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_star_schema(sf_dir: str, seed: int, sizes: dict) -> dict[str, int]:
    """Write the star-schema tables the batch workload reads. Returns
    the row count of each table."""
    os.makedirs(sf_dir, exist_ok=True)
    n_orders = sizes["orders"]
    n_cust = max(10, n_orders // 10)
    tables = {
        "orders": _orders(_rng(seed, "orders"), n_orders, n_cust),
        "customer": _customer(_rng(seed, "customer"), n_cust),
        "events": _events(_rng(seed, "events"), sizes["events"], sizes["users"]),
        "documents": _documents(_rng(seed, "documents"), sizes["documents"]),
        "embeddings": _embeddings(_rng(seed, "embeddings"), sizes["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_empty_orders(sf_dir: str) -> None:
    """An ``orders`` table with the schema and no rows: the input of
    the ETL's empty-input early return."""
    os.makedirs(sf_dir, exist_ok=True)
    empty = _orders(_rng(0, "empty"), 0, 1)
    pq.write_table(empty, os.path.join(sf_dir, "orders.parquet"))
