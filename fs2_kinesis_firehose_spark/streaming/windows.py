"""Event-time windowed operators over streams (watermarks, tumbling/sliding/
session windows, streaming dedup).

All are thin declarative compositions — the streaming state store, watermark
bookkeeping, and incremental aggregation are Spark built-ins; at scale state
is partitioned by the grouping key across executors (RocksDB state store in
production deployments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# how late an event may arrive and still be counted: every windowed
# operator here drops state older than this behind the max event time
WATERMARK = "30 minutes"


def tumbling_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Per-10-minute-window per-key counts + value sums with late-data
    watermark."""
    return (
        events.withWatermark(ts_col, WATERMARK)
        .groupBy(F.window(ts_col, "10 minutes").alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_value_stats(
    events: DataFrame,
    *,
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window aggregate: 20-minute windows sliding by 10 minutes, so
    each event lands in two windows."""
    return (
        events.withWatermark(ts_col, WATERMARK)
        .groupBy(F.window(ts_col, "20 minutes", "10 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # engine-portable exact average: values have 2 decimals, so
            # round(sum*100) is integer-exact; one IEEE division after that is
            # bit-identical in any engine (a lossy round here would tie-break
            # differently on boundary values)
            (F.round(F.sum("value") * 100, 0) / (100 * F.count(F.lit(1)))).alias("avg_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


def session_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows: a session extends while events arrive within 5
    minutes of each other."""
    return (
        events.withWatermark(ts_col, WATERMARK)
        .groupBy(F.session_window(ts_col, "5 minutes").alias("sess"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.date_format("sess.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame,
    *,
    key_cols: list[str] | None = None,
    watermark: str | None = WATERMARK,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact-once filter on key columns.

    With a watermark the dedup state is dropped once keys age out
    (``dropDuplicatesWithinWatermark`` — bounded state at 100 TB/day); without
    one, state grows unboundedly (test-only)."""
    keys = key_cols or ["event_id"]
    if watermark:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)
