"""Event-time windowing & sessionization (SURVEY §2 Part C6).

Batch forms over the ``events`` fixture; the streaming forms (watermarked)
live in ``streaming/pipeline.py`` and share these semantics:

* tumbling/sliding windows — ``F.window`` (epoch-aligned buckets);
* session windows          — ``F.session_window`` (gap-based); the DuckDB
  oracle restates it as the equivalent lag+cumsum formulation.

Scale shape: both are a single shuffle on the grouping key
(user_id / user_id+window); map-side partial aggregation applies to the
tumbling case, and AQE coalesces the typically-skewed session partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_window_agg(events: DataFrame, duration: str = "15 minutes") -> DataFrame:
    """Per-(window, event_type) tumbling aggregation."""
    return (
        events.groupBy(
            F.window("ts", duration).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(
    events: DataFrame, duration: str = "30 minutes", slide: str = "15 minutes"
) -> DataFrame:
    return (
        events.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def sessionize(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session aggregation via ``session_window`` (gap-based merge)."""
    return (
        events.groupBy(
            F.col("user_id"), F.session_window("ts", gap).alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
