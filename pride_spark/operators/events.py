"""Event-table window aggregation and the per-user event-pair join.

Batch operators over the ``events`` table (q36 sliding windows, q37
session windows, q52's time-range join).  Each takes and returns a
DataFrame; the caller picks the sink.

Scale notes: the window aggregations shuffle once on their grouping key
(``(window, event_type)`` or ``user_id``); the pair join shuffles once on
``user_id`` and bounds the match set with its time-range predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sliding_counts(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Overlapping (hopping) windows — each event lands in size/slide windows."""
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based, variable length)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n",
        )
    )


def correlate_event_pairs(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
) -> DataFrame:
    """Per-user correlation: each ``left_type`` event joined to the
    ``right_type`` events of the same user within ``[0, within]`` after it.

    The equi-key (``user_id``) bounds the shuffle.  Output: one row per
    (trigger, outcome) pair with the latency between them.
    """
    a = left.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("trigger_ts"),
        F.col("event_id").alias("trigger_id"),
    )
    b = right.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("uid_r"),
        F.col("ts").alias("outcome_ts"),
        F.col("event_id").alias("outcome_id"),
    )
    joined = a.join(
        b,
        (F.col("uid") == F.col("uid_r"))
        & (F.col("outcome_ts") >= F.col("trigger_ts"))
        & (F.col("outcome_ts") <= F.col("trigger_ts") + F.expr(f"INTERVAL {within}")),
    )
    return joined.select(
        F.col("uid").alias("user_id"),
        "trigger_id",
        "outcome_id",
        # timestampdiff works on TIMESTAMP and TIMESTAMP_NTZ alike — the
        # events parquet surfaces as NTZ (isAdjustedToUTC=false), where
        # unix_micros would fail analysis.
        F.expr("timestampdiff(MICROSECOND, trigger_ts, outcome_ts)").alias("latency_us"),
    )
