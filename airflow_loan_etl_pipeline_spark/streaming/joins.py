"""Stream-stream joins (SURVEY.md §2.9 extension; the reference's
pipeline is batch-only, but its micro-batch file stream —
drive_auto_compress_email.py:85-111 — is exactly the shape this operator
serves once two live feeds must be correlated).

The join is state-store backed: watermarks bound how long a row waits
for a match, which is what keeps state finite on an unbounded stream —
the 100 TB/day design point is "state proportional to the watermark
window, not to history".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    within: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Correlate two event streams on a key within a time interval:
    right row must land in [left_ts, left_ts + within].

    Spark plans this as a streaming symmetric hash join; the watermarks
    + the two-sided time bound let it EVICT state once no future match
    is possible. Without the interval condition a stream-stream inner
    join would buffer both streams forever.

    Works identically on batch frames (plain range-condition join) —
    handy for differential tests.
    """
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, "inner").select(
        lw[key].alias(key),
        lw[left_ts].alias(left_ts),
        rw[right_ts].alias(right_ts),
    )

