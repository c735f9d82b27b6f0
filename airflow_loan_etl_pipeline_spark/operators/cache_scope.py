"""Consistency materialization for operators whose plans reference a
mid-plan frame from MULTIPLE branches.

Several operators (topk.global_rank / global_prefix_sum /
pareto_frontier, timeseries.funnel, dedup.dup_span_stats /
substring_cut / minhash_estimate_quality, text.bigram_logprob,
stats.exact_percentiles_distributed) re-derive one frame from two or
more branches of the returned plan. For the ranked frames that is a
CORRECTNESS requirement, not just a perf one: the frame is
NONDETERMINISTIC under re-evaluation (repartitionByRange samples range
bounds per evaluation; ``spark_partition_id`` depends on the
materialized partitioning), so two independent evaluations can
disagree on partition assignment and silently desynchronize the
rank/offset branches.

History of the mechanism, because the failure modes are instructive:

1. ``persist()`` + unpersist-after-action: unavailable — the operators
   return LAZY frames; there is no "after the action" hook.
2. ``persist()`` + ``weakref.finalize`` on the returned DataFrame
   (rounds 4–5): released blocks when the *Python wrapper* of the
   result was garbage-collected. But derived frames
   (``result.select(...)``) hold no Python reference to the wrapper —
   in the dominant derive-then-drop call pattern (stats.zipf_fit,
   text.rank_fuse, ...) CPython refcounting fired the finalizer BEFORE
   any action ran, unpersisting the nondeterministic subtree and
   re-opening the branch desync (ADVICE r5, empirically confirmed).
   The Python wrapper's lifetime is simply the wrong proxy for the
   plan's lifetime.
3. Eager (local)checkpoint — this module, round 6. ``checkpoint``
   materializes the frame ONCE, up front; every downstream branch
   reads the SAME stored rows through a ``LogicalRDD`` scan, so
   re-evaluation nondeterminism is impossible by construction. The
   lifetime is owned by the thing that actually needs it: every
   derived plan holds a JVM reference to the materialized RDD, and
   Spark's ContextCleaner frees the blocks (and, with
   ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` — set in
   session.py — the reliable-checkpoint files) once the last JVM
   reference is gone. Long-lived sessions rebuilding the same operator
   per iteration (the bench loop, a notebook) therefore neither leak
   blocks nor ever free them out from under a live derived plan.

The cost vs persist(): materialization runs as its own job at operator
CONSTRUCTION time (one extra job launch, same total data work), and
the stored frame truncates lineage — on a real cluster an executor
loss cannot recompute localCheckpoint blocks, which is why
:func:`pin` (used by :func:`materialize_consistent`) upgrades to a
RELIABLE ``checkpoint()`` whenever the session has a durable
checkpoint directory configured.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame

# Explain strings of the most recent materialized frames —
# checkpointing truncates lineage, so the work a materialization does
# (its shuffles, its partitioning, its scans) is invisible in the
# RESULT plan's explain; this ring keeps it observable for
# plan-contract tests. Strings only: holding the frames themselves
# would keep their RDDs referenced and delay ContextCleaner block
# cleanup. Capture is OPT-IN: rendering a full explain string per
# materialization is pure driver-side diagnostics overhead in
# production paths, so only the plan-contract tests, which read the
# ring, switch it on.
_MATERIALIZATION_PLANS: deque[str] = deque(maxlen=64)
_CAPTURE_PLANS = False


def set_plan_capture(on: bool = True) -> None:
    """Enable/disable materialization-plan capture; clears the ring on
    every transition so readers never see entries from a previous
    capture scope."""
    global _CAPTURE_PLANS
    _CAPTURE_PLANS = on
    _MATERIALIZATION_PLANS.clear()


def clear_materialization_plans() -> None:
    """Empty the ring — call before building a query whose
    materialization plans you are about to assert on, so a stale entry
    from an earlier build can never satisfy the assertion."""
    _MATERIALIZATION_PLANS.clear()


def recent_materialization_plans() -> list[str]:
    """`explain("formatted")` text (node tree + per-node detail) of
    recently materialized frames, oldest first; empty unless
    :func:`set_plan_capture` enabled capture."""
    return list(_MATERIALIZATION_PLANS)


def materialize_consistent(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once so every downstream branch reads the
    same rows — REQUIRED before fanning a nondeterministic frame
    (range-sampled repartition, ``spark_partition_id``, sampling) into
    multiple plan branches, and the sanctioned way to share any
    expensive mid-plan frame across branches.

    Block lifetime is tied to the JVM plan graph (see module
    docstring), so callers may freely keep only frames DERIVED from an
    operator's result; there is no Python-side reference to hold.
    """
    if _CAPTURE_PLANS:
        try:
            _MATERIALIZATION_PLANS.append(
                df._jdf.queryExecution().explainString(
                    df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")
                )
            )
        except Exception:  # Connect / API drift — diagnostics only
            pass
    return pin(df, eager=True)


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate lineage for an iterative/replay-sensitive frame,
    cluster-survivably when the session allows it.

    ``localCheckpoint`` pins blocks on executors — fast, but an
    executor loss loses the blocks AND the lineage to rebuild them
    (fatal mid-iteration on a real cluster). When the session has a
    RELIABLE checkpoint directory configured
    (``spark.sparkContext.setCheckpointDir(...)`` — durable storage in
    production), iterative operators use ``checkpoint()`` there
    instead; without one they keep localCheckpoint, the right local
    default. One switch, every Lloyd/pointer-jumping/PageRank round
    (VERDICT r3 item 8). Old reliable-checkpoint files are deleted by
    the ContextCleaner once their RDD is unreferenced
    (``spark.cleaner.referenceTracking.cleanCheckpoints=true``,
    session.py) — iterative loops don't accumulate rounds of dead
    checkpoint data on durable storage.

    Spark Connect (round 10): the checkpoint-dir probe goes through
    the py4j gateway, which a Connect session doesn't have — fall back
    to the ``spark.checkpoint.dir`` SQL conf (the Connect-era way to
    configure a reliable checkpoint directory, SPARK-48258 family;
    df.checkpoint/localCheckpoint themselves are supported over
    Connect since 4.0). Same guarded-probe pattern as
    session.engine_parallelism / registry_mm._hadoop_isdir."""
    try:
        has_reliable_dir = bool(
            df.sparkSession.sparkContext._jsc.sc().checkpointDir().isDefined()
        )
    except Exception:  # Spark Connect / vendor runtimes: no py4j gateway
        try:
            has_reliable_dir = bool(
                df.sparkSession.conf.get("spark.checkpoint.dir", None)
            )
        except Exception:
            has_reliable_dir = False
    if has_reliable_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
