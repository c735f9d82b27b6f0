"""The benchmark's workloads: one closed-loop client per run, driving
the engine's public entry points. Each workload writes its inputs in
``prepare`` (no Spark), finishes set-up in ``setup`` and then runs
``cycle`` until the run's time is up.

Operation kinds recorded by :class:`Recorder`:

- ``work``: a call with data to process (a drive tick that finds new
  files; ``run_loan_etl`` over real orders; one registry query);
- ``idle``: a call that finds nothing to do (a drive tick with no new
  files; ``run_loan_etl`` over an empty orders table).
"""

from __future__ import annotations

import glob
import os
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs

PKG = "airflow_loan_etl_pipeline_spark"

# (operator module, registry query): at least one query per module.
QUERY_MIX = [
    ("joins", "customers_with_orders"),
    ("topk", "window_topk_per_priority"),
    ("aggregates", "rollup_orders"),
    ("asof", "events_asof_click_view"),
    ("windows", "events_sliding_10m_5m"),
    ("dedup", "dedup_exact"),
    ("similarity", "embeddings_cosine_topk"),
    ("text", "docs_token_stats"),
    ("timeseries", "events_ohlc_hourly"),
    ("stats", "events_trend_regression"),
    ("graph", "dup_degree_histogram"),
    ("multimodal", "multimodal_features"),
]

SIZES = {
    "full": {
        "drive_history": {
            "history_files": 30,
            "history_rows": 2000,
            "files_per_tick": 4,
            "rows_per_file": 2500,
        },
        # the row counts of the sf0.1 test fixture
        "batch_mix": {
            "orders": 150_000,
            "events": 100_000,
            "users": 1500,
            "documents": 5000,
            "embeddings": 2000,
        },
    },
    # smoke-test sizes: same code paths, seconds instead of minutes
    "tiny": {
        "drive_history": {
            "history_files": 3,
            "history_rows": 50,
            "files_per_tick": 2,
            "rows_per_file": 50,
        },
        "batch_mix": {
            "orders": 2000,
            "events": 1000,
            "users": 20,
            "documents": 100,
            "embeddings": 60,
        },
    },
}


# idle calls per measured cycle: cheap, so several samples per cycle.
# The warm-up cycle makes none: an idle call runs a prefix of the work
# call (drive: listing and anti-join; ETL: load and is_empty), which
# the warm-up's work call already warms.
IDLE_CALLS = {"drive_history": 3, "batch_mix": 3}
# measured cycles per run (at least, at most): a run measures whole
# cycles until --seconds have passed, within these limits. Every
# drive_history cycle grows the cumulative file set, so its count is
# fixed: a faster build then re-reads the same history sizes. At least
# one cycle: the JVM start and the cold warm-up already take most of a
# run, and 48 runs of both workloads must fit in 57 minutes.
CYCLES = {"drive_history": (1, 1), "batch_mix": (1, None)}


class Recorder:
    """Latency samples, attempt and failure counts, and (traced cycles
    only) per-layer counters of one run."""

    def __init__(self):
        self.samples: dict[tuple[str, bool], list[float]] = defaultdict(list)
        self.cycles: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.measuring = False
        self.tracer = None  # set for traced cycles
        self.counters: dict[str, float] = defaultdict(float)

    def op(self, kind: str, call, check):
        """Time ``call()``, then run ``check(result)``, which returns a
        list of problems. A raise or any problem counts as a failure."""
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.op += 1
        t0 = time.perf_counter()
        try:
            out = call()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        problems = check(out)
        if problems:
            self.failed += 1
            print(f"check failed ({kind}): {problems}", file=sys.stderr)
        print(f"{kind} {dt:.3f}s", file=sys.stderr)
        if self.measuring:
            self.samples[(kind, self.tracer is not None)].append(dt)
        return out, dt

    def count(self, name: str, value: float) -> None:
        if self.tracer is not None:
            self.counters[name] += value


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return out


class DriveHistory:
    """Scheduled drive ticks over a landing folder with a large, already
    processed history: every data tick re-reads the whole cumulative CSV
    set, so the CSV scan, mode pass and aggregate run at a realistic
    working-set size. A cycle lands a few new files, runs one data tick
    and then idle polls that find nothing new."""

    name = "drive_history"

    def __init__(self, base: str, seed: int, sizes: dict):
        self.spark = None
        self.seed = seed
        self.sizes = sizes
        self.watch = os.path.join(base, "watch")
        self.work = os.path.join(base, "work")
        self.ledger = os.path.join(self.work, "ledger")
        os.makedirs(self.watch)
        self.files: dict[str, tuple[int, int]] = {}  # name -> (rows, bytes)
        self.new: set[str] = set()  # the files landed this cycle
        self.last_aggs = None

    def _land(self, n: int, rows: int) -> list[str]:
        names = []
        for _ in range(n):
            name, size = inputs.write_loan_file(
                self.watch, self.seed, len(self.files), rows
            )
            self.files[name] = (rows, size)
            names.append(name)
        return names

    def prepare(self) -> None:
        """Land the history (no Spark: runs while the session starts)."""
        self._land(self.sizes["history_files"], self.sizes["history_rows"])

    def setup(self, spark) -> None:
        """Commit the history through the public ledger API, as if
        earlier ticks had processed it."""
        from airflow_loan_etl_pipeline_spark.streaming.file_source import update_ledger

        self.spark = spark
        processed = spark.createDataFrame([(n,) for n in self.files], "file_id string")
        update_ledger(spark, self.ledger, processed)

    def observers(self, rec: Recorder) -> dict:
        """Calls the tracer reports to the workload before they run:
        the rows of the CSV files the tick actually passes to
        ``read_csv_dir``, counted from what this workload landed."""

        def read_csv_dir(_spark, path, *_args, **_kwargs):
            # every form read_csv_dir accepts: a path list, a directory or a glob
            paths = [path] if isinstance(path, str) else list(path)
            names = []
            for p in paths:
                if os.path.isdir(p):
                    names.extend(os.listdir(p))
                else:
                    names.extend(os.path.basename(q) for q in glob.glob(p))
            names = [n for n in names if n in self.files]
            rec.count("io.rows_scanned", sum(self.files[n][0] for n in names))
            rec.count("io.new_rows", sum(self.files[n][0] for n in names if n in self.new))

        return {"io.read_csv_dir": read_csv_dir}

    def _tick(self):
        from airflow_loan_etl_pipeline_spark.plans import drive_pipeline

        return drive_pipeline.run_drive_pipeline(self.spark, self.watch, self.work)

    def _ledger_rows(self) -> int:
        return pq.read_table(self.ledger).num_rows

    def _check_tick(self, out, new: list[str]) -> list[str]:
        summaries, aggs, html = out
        problems = []
        if sorted(s["filename"] for s in summaries) != sorted(new):
            problems.append("summaries do not name exactly the new files")
        if html is None or any(n not in html for n in new):
            problems.append("html misses a new file")
        if self._ledger_rows() != len(self.files):
            problems.append("ledger rows != files landed")
        self.last_aggs = aggs
        return problems

    def _check_idle(self, out) -> list[str]:
        summaries, aggs, html = out
        problems = []
        if summaries != [] or aggs is not None or html is not None:
            problems.append("idle poll returned work")
        if self._ledger_rows() != len(self.files):
            problems.append("ledger rows != files landed")
        return problems

    def _listed_bytes(self) -> int:
        """Content bytes the with_content listing reads: every matching
        file in the folder."""
        return sum(size for _rows, size in self.files.values())

    def cycle(self, rec: Recorder, idle: bool = True) -> None:
        new = self._land(self.sizes["files_per_tick"], self.sizes["rows_per_file"])
        self.new = set(new)
        listed = self._listed_bytes()
        out, t_tick = rec.op("work", self._tick, lambda out: self._check_tick(out, new))
        rec.count("report.html_bytes", len(out[2] or "") if out else 0)
        spent = t_tick
        idle_calls = IDLE_CALLS[self.name] if idle else 0
        for _ in range(idle_calls):
            _, dt = rec.op("idle", self._tick, self._check_idle)
            spent += dt
        if rec.measuring:
            rec.cycles.append(spent)
        rec.count("drive_source.bytes_read", (1 + idle_calls) * listed)
        rec.count("drive_source.useful_bytes", sum(self.files[n][1] for n in new))
        rec.count("file_source.ledger_rows", self._ledger_rows())

    def final_check(self) -> list[str]:
        """sum(loan_count) over the last tick's aggregates equals every
        row landed so far (one Spark job, outside the timed region)."""
        from pyspark.sql import functions as F

        if self.last_aggs is None:
            return ["no data tick returned aggregates"]
        total = sum(rows for rows, _size in self.files.values())
        got = self.last_aggs.agg(F.sum("loan_count")).collect()[0][0]
        return [] if got == total else [f"sum(loan_count)={got} != {total}"]


class BatchMix:
    """The batch side of the engine: the loan ETL over the ``orders``
    table with both parquet sinks, the ETL's empty-input early return,
    then one pass over a fixed list of registry queries (one per
    operator module), each materialised with ``count()``."""

    name = "batch_mix"

    def __init__(self, base: str, seed: int, sizes: dict):
        self.spark = None
        self.seed = seed
        self.sizes = sizes
        self.sf = os.path.join(base, "sf")
        self.empty_sf = os.path.join(base, "sf_empty")
        self.out = os.path.join(base, "out")
        self.expected = None  # Future of {query: oracle row count}
        self.rows: dict[str, int] = {}

    def prepare(self) -> None:
        """Write the tables (no Spark: runs while the session starts),
        then start counting each query's rows with its DuckDB oracle in
        the background. The counts are first needed when the warm-up
        reaches its first query, after the ETL; the graph query's oracle
        alone takes several seconds, which would otherwise delay the
        warm-up's start."""
        self.rows = inputs.write_star_schema(self.sf, self.seed, self.sizes)
        inputs.write_empty_orders(self.empty_sf)
        _import_registry()
        pool = ThreadPoolExecutor(1)
        self.expected = pool.submit(self._oracle_counts)
        pool.shutdown(wait=False)

    def _oracle_counts(self) -> dict[str, int]:
        import duckdb

        from airflow_loan_etl_pipeline_spark import registry

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            # one thread: the counts overlap the JVM start and warm-up,
            # and must not take the cores the session is starting on
            con.execute("SET threads=1")
            for table in self.rows:
                path = os.path.join(self.sf, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            return {
                q: con.execute(f"SELECT count(*) FROM ({registry.ORACLE[q]})").fetchone()[0]
                for _module, q in QUERY_MIX
            }
        finally:
            con.close()

    def _check_query(self, q: str, n: int) -> list[str]:
        want = self.expected.result()[q]
        return [] if n == want else [f"{q}: {n} rows, oracle {want}"]

    def setup(self, spark) -> None:
        self.spark = spark

    def observers(self, rec: Recorder) -> dict:
        return {}

    def _etl(self, sf: str, tag: str):
        from airflow_loan_etl_pipeline_spark.plans import loan_etl

        return loan_etl.run_loan_etl(
            self.spark,
            sf,
            cleaned_path=os.path.join(self.out, tag, "cleaned"),
            aggregates_path=os.path.join(self.out, tag, "aggregates"),
        )

    def _check_etl(self, aggs) -> list[str]:
        n = self.rows["orders"]
        cleaned = ds.dataset(os.path.join(self.out, "etl", "cleaned"), partitioning="hive")
        written = pq.read_table(os.path.join(self.out, "etl", "aggregates"))
        problems = []
        if aggs is None:
            problems.append("ETL returned None on a non-empty table")
        if cleaned.count_rows() != n:
            problems.append("cleaned rows != orders rows")
        if sum(written.column("loan_count").to_pylist()) != n:
            problems.append("sum(loan_count) != orders rows")
        return problems

    def _check_empty(self, aggs) -> list[str]:
        wrote = os.path.exists(os.path.join(self.out, "empty"))
        return [] if aggs is None and not wrote else ["empty ETL did work"]

    def _query(self, q: str):
        from airflow_loan_etl_pipeline_spark import registry

        return registry.QUERIES[q](self.spark, self.sf).count()

    def cycle(self, rec: Recorder, idle: bool = True) -> None:
        spent = 0.0
        _, dt = rec.op("work", lambda: self._etl(self.sf, "etl"), self._check_etl)
        spent += dt
        files = _parquet_files(os.path.join(self.out, "etl"))
        rec.count("io.files_written", len(files))
        rec.count("io.bytes_written", sum(os.path.getsize(f) for f in files))
        for _ in range(IDLE_CALLS[self.name] if idle else 0):
            _, dt = rec.op("idle", lambda: self._etl(self.empty_sf, "empty"), self._check_empty)
            spent += dt
        for module, q in QUERY_MIX:

            def call(q=q, module=module):
                if rec.tracer is None:
                    return self._query(q)
                with rec.tracer.span(f"query.{module}"):
                    return self._query(q)

            _, dt = rec.op("work", call, lambda n, q=q: self._check_query(q, n))
            spent += dt
        if rec.measuring:
            rec.cycles.append(spent)

    def final_check(self) -> list[str]:
        return []


def _import_registry() -> None:
    """Import every registry module so ``registry.QUERIES`` is complete."""
    import importlib

    for mod in ("registry", "registry_mm", "registry_rel", "registry_sql",
                "registry_stats", "registry_stream", "registry_text"):
        importlib.import_module(f"{PKG}.{mod}")


WORKLOADS = {w.name: w for w in (DriveHistory, BatchMix)}
