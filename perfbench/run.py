"""Benchmark entry point.

    python3 perfbench/run.py --workload drive_history --seed 1 --seconds 5 --trace 0

Runs one closed-loop client against the engine in this checkout for
``--seconds`` (whole cycles: a cycle that starts before the deadline
runs to its end), checks every output, and prints one JSON object as
the last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates traced and untraced cycles and reports the per-layer
metrics (see NOTES.md). Progress and diagnostics go to stderr.

Everything the run writes lives under ``.perfbench/`` at the checkout
root; the run's scratch directory is removed on exit, the span dump of
a traced run is kept there.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "airflow_loan_etl_pipeline_spark"


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sizes", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def driver_memory() -> str:
    """A quarter of host memory, at most 1.5 GiB: the session's own
    default (48g) exceeds small hosts."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(512, min(1536, total_kb // 4096))}m"


def prepare_env(run_dir: str) -> None:
    """Environment the session and its Python workers inherit; must be
    set before the JVM starts."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # workers import the package
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    for name in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, name))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM (launcher and driver) keeps its scratch files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"


def settle(spark) -> None:
    """Collect garbage in the JVM and in Python between cycles, so a
    pause left over from the previous cycle does not land in the next."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    """Work calls in one workload differ by 10x (a graph query against
    a top-k); the geometric mean weighs each call equally, where the
    median would jump between the latencies of neighbouring calls."""
    return statistics.geometric_mean(xs) if xs else 0.0


def end_to_end(rec, setup_s: float, peak_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "op_geomean_s": geomean(rec.samples[("work", False)]),
        "idle_p50_s": median(rec.samples[("idle", False)]),
        "cycle_p50_s": median(rec.cycles),
        "peak_rss_mb": peak_mb,
    }


def per_layer(rec, tracer, traced_cycles: int, get_spark_s: float) -> dict:
    from metrics import QUERY_MODULES, SPANS

    n = max(1, traced_cycles)
    by_id = {s.id: s for s in tracer.spans}
    out = {}
    for name in SPANS:
        spans = [s for s in tracer.spans if s.name == name]
        out[f"{name}_s"] = sum(s.end - s.start for s in spans) / n
        out[f"{name}.self_s"] = sum(tracer.self_time(s, by_id) for s in spans) / n
        out[f"{name}.jobs"] = sum(s.jobs for s in spans) / n
        out[f"{name}.tasks"] = sum(s.tasks for s in spans) / n

    def subtree_jobs(s):
        return s.jobs + sum(subtree_jobs(by_id[c]) for c in s.children)

    for module in QUERY_MODULES:
        spans = [s for s in tracer.spans if s.name == f"query.{module}"]
        out[f"{module}.query_s"] = sum(s.end - s.start for s in spans) / n
        out[f"{module}.jobs"] = sum(subtree_jobs(s) for s in spans) / n

    c = rec.counters
    out["drive_source.bytes_read"] = c["drive_source.bytes_read"] / n
    out["drive_source.useful_bytes_ratio"] = (
        c["drive_source.useful_bytes"] / c["drive_source.bytes_read"]
        if c["drive_source.bytes_read"] else 0.0
    )
    out["file_source.ledger_rows"] = c["file_source.ledger_rows"] / n
    out["io.rows_scanned"] = c["io.rows_scanned"] / n
    out["io.new_rows_ratio"] = (
        c["io.new_rows"] / c["io.rows_scanned"] if c["io.rows_scanned"] else 0.0
    )
    for key in ("io.bytes_written", "io.files_written", "report.html_bytes"):
        out[key] = c[key] / n
    out["session.get_spark_s"] = get_spark_s
    out["trace.overhead_s"] = geomean(rec.samples[("work", True)]) - geomean(
        rec.samples[("work", False)]
    )
    out["trace.spans"] = len(tracer.spans) / n
    return out


def run(args, run_dir: str) -> dict:
    from metrics import END_TO_END, PER_LAYER, SPANS
    from procs import RssSampler, stop_spark
    from tracing import Tracer
    from workloads import CYCLES, SIZES, WORKLOADS, Recorder

    prepare_env(run_dir)
    rec = Recorder()
    wl = WORKLOADS[args.workload](
        os.path.join(run_dir, "data"), args.seed, SIZES[args.sizes][args.workload]
    )
    with RssSampler() as rss, ThreadPoolExecutor(1) as pool:
        inputs_ready = pool.submit(wl.prepare)  # overlaps the JVM start
        t = time.perf_counter()
        from airflow_loan_etl_pipeline_spark.session import get_spark

        spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
        get_spark_s = time.perf_counter() - t
        try:
            inputs_ready.result()
            print(f"session and inputs ready at {time.perf_counter() - T0:.1f}s",
                  file=sys.stderr)
            wl.setup(spark)
            wl.cycle(rec, idle=False)  # warm-up: cold JIT, Python workers, page cache
            setup_s = time.perf_counter() - T0
            print(f"setup done in {setup_s:.1f}s", file=sys.stderr)

            tracer = Tracer(spark) if args.trace else None
            if tracer:
                tracer.observers.update(wl.observers(rec))
            targets = {k: (f"{PKG}.{m}", a) for k, (m, a) in SPANS.items()}
            rec.measuring = True
            deadline = time.perf_counter() + args.seconds
            cycles = traced = 0
            fewest, most = CYCLES[args.workload]
            # a traced run needs a traced and an untraced cycle at least
            fewest = max(fewest, 2 if tracer else 1)
            while cycles < fewest or (
                time.perf_counter() < deadline and (most is None or cycles < most)
            ):
                settle(spark)
                rec.tracer = tracer if tracer and cycles % 2 == 0 else None
                if rec.tracer:
                    tracer.install(targets)
                try:
                    wl.cycle(rec)
                finally:
                    if rec.tracer:
                        tracer.uninstall()
                        tracer.count_jobs()
                        traced += 1
                cycles += 1
            rec.tracer = None
            problems = wl.final_check()
            if problems:
                rec.failed += 1
                print(f"final check failed: {problems}", file=sys.stderr)
        finally:
            stop_spark(spark)

    if tracer:
        tracer.dump(os.path.join(
            ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.jsonl"
        ))
        metrics = per_layer(rec, tracer, traced, get_spark_s)
        units = PER_LAYER
    else:
        metrics = end_to_end(rec, setup_s, rss.peak_mb)
        units = END_TO_END
    print(f"{cycles} cycles, samples: "
          + ", ".join(f"{k}={len(v)}" for k, v in rec.samples.items()), file=sys.stderr)
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG}/ not found next to perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        os.sync()  # leave no writeback behind for the next run
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
