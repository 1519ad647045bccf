"""Stream-stream joins (Structured Streaming's two-sided stateful join).

The missing cell of the streaming matrix next to stream-static joins:
both sides are unbounded, each buffers rows in the state store, and the
time-range condition plus watermarks bound how long state is retained
(without them the join state grows forever — the 100 TB failure mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribution_join(
    events: DataFrame,
    other: DataFrame,
    *,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each ``purchase`` event matched to every
    ``click`` event of the SAME user within 10 minutes BEFORE it (the
    classic attribution shape).

    30-minute watermarks on both sides + the time-range predicate let the
    engine evict buffered rows once they can no longer match — state is
    O(users × window), not O(stream).  ``events`` and ``other`` must be two independent readers
    of the stream (a streaming self-join needs two source instances).

    ``how="left_outer"`` is the attribution-WITH-ABSENCE shape: a trigger
    with no qualifying touch still emits, with ``touch_id`` NULL — but only
    once its join state times out (the watermark passes the point where a
    match could still arrive), because until then the engine cannot know the
    touch is absent.  NULL rows therefore surface one-or-more batches after
    the trigger, gated by the PREVIOUS batch's eviction watermark (the same
    two-watermark contract the late-data query documents) — pinned in
    tests/test_streaming.py::test_stream_stream_left_outer_emits_null_on_timeout."""
    trig = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("t_user"),
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("trigger_id"),
        )
        .withWatermark("t_ts", "30 minutes")
    )
    touch = (
        other.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("touch_id"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    return trig.join(
        touch,
        F.expr(
            "t_user = c_user AND c_ts >= t_ts - interval 10 minutes AND c_ts <= t_ts"
        ),
        how,
    ).select(
        F.col("t_user").alias("user_id"), "trigger_id", "touch_id"
    )
