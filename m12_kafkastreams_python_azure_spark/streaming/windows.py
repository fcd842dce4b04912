"""Streaming time windows + watermarks — the scale-hygiene layer the
reference lacks.

The reference's aggregation is *unwindowed* (global keyed state, unbounded
by design — mirrors the ksql table; SURVEY.md §7 "hard parts"). That is fine
at 5 group keys but at 100 TB/day the engine must bound state: these
helpers provide the watermark+window variants, plus a streaming session
window — all built-in Structured Streaming operators, state expired by the
watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window keyed counts with late-data handling.

    State per (window, key) is dropped once the watermark passes the window
    end — bounded state regardless of stream length.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "value_sum",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (hopping) windows — each event lands in len/slide windows."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window_len, slide).alias("win"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (inactivity gap) — the streaming equivalent of the
    batch sessionization in ``operators.analytics2.q_sessionize_events``."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
            "session_value",
        )
    )
