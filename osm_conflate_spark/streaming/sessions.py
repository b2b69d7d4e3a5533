"""Gap-based sessionization of the events table.

:func:`sessionize` is the classic lag/cumsum session assignment: two
window passes and one aggregate, all JVM-side.  This is the shape the
DuckDB driver oracle replays for the ``event_sessions`` query.  The
module stays under ``streaming/`` because the driver contract imports
``sessionize`` from this path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_GAP_SECONDS = 1800


def sessionize(
    events: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS
) -> DataFrame:
    """(user_id, session_start, session_end, n_events, total_value) —
    sessions split where the gap to the previous event of the same user
    exceeds ``gap_seconds``.  Epochs are LONG seconds (NTZ timestamps
    hop through LTZ; session tz is UTC)."""
    ep = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ep = F.lag(ep).over(w)
    is_new = F.when(
        prev_ep.isNull() | ((ep - prev_ep) > gap_seconds), 1
    ).otherwise(0)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    assigned = (
        events.withColumn("ep", ep)
        .withColumn("session_idx", F.sum(is_new).over(wcum))
    )
    return assigned.groupBy("user_id", "session_idx").agg(
        F.min("ep").alias("session_start"),
        F.max("ep").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    ).select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )
