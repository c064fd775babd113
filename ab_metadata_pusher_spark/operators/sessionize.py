"""Batch sessionization — gap-based session assignment over an event log.

The reference has no event/time-series processing at all (its cadence is
cron, SURVEY.md §2.F F5); this is part of the engine's §2.G extension
surface, the batch twin of streaming/events.py's ``session_window`` query.

``sessionize`` is pure DataFrame: ``lag`` + conditional cumulative sum
over one ``(user, ts)`` window, then a hash aggregate.  All JVM,
whole-stage-codegen, no Python per row.

Output: one row per (key, session_idx): n_events, start_ts, end_ts.
``session_idx`` is 1-based in ts order per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["sessionize"]


def sessionize(events: DataFrame, gap_seconds: int = 1800,
               key: str = "user_id", ts: str = "ts") -> DataFrame:
    """JVM-native sessionization: new session when the gap from the previous
    event of the same key exceeds ``gap_seconds``."""
    w = Window.partitionBy(key).orderBy(ts)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # NTZ has no direct numeric cast; the session pins timeZone=UTC so the
    # NTZ->LTZ->double round-trip is an identity on the underlying micros.
    sec = F.col(ts).cast("timestamp_ltz").cast("double")
    gap = sec - F.lag(sec).over(w)
    tagged = (
        events.select(key, ts)
        .withColumn("_new", F.when(gap.isNull() | (gap > gap_seconds), 1)
                    .otherwise(0))
        .withColumn("session_idx", F.sum("_new").over(run))
    )
    return (
        tagged.groupBy(key, "session_idx")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min(ts).alias("start_ts"),
             F.max(ts).alias("end_ts"))
    )
