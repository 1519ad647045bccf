"""Tier A — Firehose-sink delivery accounting through the correctness harness.

Runs the REAL produce pipe (serialize → frame → ≤500 slicing → put with
retry) against the in-memory fake client, then returns delivery totals whose
arithmetic a SQL oracle can reproduce (request count = ceil(n/500) at
parallelism=1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.firehose.client import fake_client_factory
from fs2_kinesis_firehose_spark.firehose.serializers import serialize_and_frame
from fs2_kinesis_firehose_spark.firehose.settings import ProducerSettings
from fs2_kinesis_firehose_spark.firehose.sink import produce_acks
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table, scratch_dir

@query(
    "firehose_delivery_accounting",
    oracle="""
    SELECT CAST(CEIL(COUNT(*) / 500.0) AS BIGINT) AS n_requests,
           COUNT(*) AS n_records,
           CAST(0 AS BIGINT) AS failed_records
    FROM events
    """,
)
def firehose_delivery_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON+newline framing → produce pipe (parallelism=1 makes the
    request count exactly ceil(n/500), the reference's A2 batch bound)."""
    events = load_table(spark, sf_dir, "events")
    framed = serialize_and_frame(events.select("event_id", "event_type"), "json", b"\n")
    settings = ProducerSettings(stream_name="accounting", parallelism=1)
    acks = produce_acks(framed, settings, fake_client_factory())
    return acks.agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum("n_records").alias("n_records"),
        F.sum("failed_records").alias("failed_records"),
    )


@query(
    "firehose_ordered_delivery_accounting",
    oracle="""
    SELECT COUNT(*) AS n_records,
           CAST(SUM(LENGTH('{"event_id":' || event_id
                           || ',"event_type":"' || event_type || '"}') + 1)
                AS BIGINT) AS delivered_bytes,
           CAST(0 AS BIGINT) AS failed_records,
           CAST(0 AS BIGINT) AS order_violations,
           CAST(0 AS BIGINT) AS sparse_stamp_partitions
    FROM events
    """,
)
def firehose_ordered_delivery_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-order ack contract at parallelism > 1 (``produce_acks``
    with ``ordered=True`` — firehose.scala:41's order-preserving
    ``mapAsync(n)``) under oracle check.

    ``ordered=True`` at parallelism=3 cuts requests per SOURCE partition
    with ``(src_part, req_idx)`` stamps, round-robins the puts across 3
    tasks, and sorts the ack stream by stamp.  Request COUNT depends on the
    physical partition layout (Σ_p ceil(rows_p/500)), so the oracle pins the
    partition-independent invariants instead, each computed from the REAL
    ack stream:

    - ``n_records`` / ``delivered_bytes`` / ``failed_records`` — conservation
      through both shuffles (byte-exact framed lengths);
    - ``order_violations`` = 0 — the returned stream is strictly increasing
      in (partition_id, request_index), i.e. ack order == request-formation
      order (checked against ARRIVAL order via monotonically_increasing_id
      on the single output partition, not by re-sorting);
    - ``sparse_stamp_partitions`` = 0 — every source partition's stamps are
      dense 0..k-1: the shuffle neither lost nor duplicated a request.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    framed = serialize_and_frame(events.select("event_id", "event_type"), "json", b"\n")
    settings = ProducerSettings(stream_name="ordered", parallelism=3)
    acks = produce_acks(framed, settings, fake_client_factory(), ordered=True)
    # one materialization shared by the three aggregate branches (puts are
    # side effects — they must run exactly once)
    arr = acks.withColumn("_arr", F.monotonically_increasing_id()).localCheckpoint(
        eager=False
    )
    w = Window.orderBy("_arr")
    viol = (
        arr.select(F.struct("partition_id", "request_index").alias("s"), "_arr")
        .withColumn("_prev", F.lag("s").over(w))
        .agg(
            F.sum(
                F.when(F.col("_prev") >= F.col("s"), 1).otherwise(0)
            ).alias("order_violations")
        )
    )
    dense = (
        arr.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("request_index").alias("mx"),
            F.min("request_index").alias("mn"),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("n") != F.col("mx") + 1) | (F.col("mn") != 0), 1
                ).otherwise(0)
            ).alias("sparse_stamp_partitions")
        )
    )
    totals = arr.agg(
        F.sum("n_records").alias("n_records"),
        F.sum("request_bytes").alias("delivered_bytes"),
        F.sum("failed_records").alias("failed_records"),
    )
    return (
        totals.crossJoin(F.broadcast(viol))
        .crossJoin(F.broadcast(dense))
        .select(
            "n_records",
            "delivered_bytes",
            "failed_records",
            "order_violations",
            "sparse_stamp_partitions",
        )
    )


@query(
    "kinesis_roundtrip_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def kinesis_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full write+read loop: events → JSON framing → produce pipe → spool →
    ``format("kinesis_spool")`` READ (shard = spool file, seq = byte offset)
    → JSON parse → aggregate.  The oracle is the plain per-type counts, so a
    hash-match proves byte-exact round-trip fidelity of the sink+source pair
    — the read path the reference lacks.

    EAGER by necessity (unlike every other registry entry): the read side
    needs the spool populated, so construction runs the produce job.  The
    spool path is DETERMINISTIC per sf_dir under one managed tmp root and is
    wiped before each delivery — repeated catalog sweeps/bench passes reuse
    the same directory instead of leaking a fresh mkdtemp per invocation."""
    from fs2_kinesis_firehose_spark.sources.kinesis_spool_source import (
        SCHEMA,
        register_kinesis_spool_source,
    )

    spool = str(scratch_dir("fs2spark-spools", "roundtrip-{h}", sf_dir))
    events = load_table(spark, sf_dir, "events")
    framed = serialize_and_frame(events.select("event_id", "event_type"), "json", b"\n")
    # parallelism=8: the A5 in-flight bound is a tunable, and 2 writer tasks
    # serialize the whole table at larger SFs (the sf1 smoke was
    # overhead-bound at 2).  The oracle (per-type counts) is
    # parallelism-invariant; every put task appends to one spool file.
    settings = ProducerSettings(stream_name="roundtrip", parallelism=8)
    # deliver (eager: the read below needs the spool populated)
    produce_acks(framed, settings, fake_client_factory(spool_dir=spool)).count()

    register_kinesis_spool_source(spark)
    back = spark.read.format("kinesis_spool").schema(SCHEMA).option("spoolDir", spool).load()
    parsed = back.select(
        F.get_json_object(F.col("value").cast("string"), "$.event_type").alias("event_type")
    )
    return parsed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "pipeline_dedup_delivery_accounting",
    oracle="""
    WITH d AS (SELECT DISTINCT event_id, event_type FROM events)
    SELECT CAST(CEIL(COUNT(*) / 500.0) AS BIGINT) AS n_requests,
           COUNT(*) AS n_records,
           CAST(SUM(LENGTH('{"event_id":' || event_id
                           || ',"event_type":"' || event_type || '"}') + 1)
                AS BIGINT) AS delivered_bytes,
           CAST(0 AS BIGINT) AS failed_records
    FROM d
    """,
)
def pipeline_dedup_delivery_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole raison d'être as ONE verified path
    (firehose.scala:67-80): Kinesis-like source → Tier-C transform →
    Firehose sink, with byte-exact delivery accounting.

    Stage 1 (ingest): events → JSON+newline framing → produce pipe into a
    one-shard spool (all 8 put tasks append to one file).  Stage 2
    (at-least-once read): the spool is read TWICE through
    ``format("kinesis_spool")`` and unioned — the duplicate delivery a real
    at-least-once consumer sees after a checkpoint replay.  Stage 3
    (transform): ``exact_dedup`` (operators/dedup.py) over payload bytes
    with a unique (attempt, shard, seq) row key collapses the duplicates,
    reading each replay once.  Stage 4 (deliver): the surviving payloads (already framed)
    go through the produce pipe at parallelism=1 → request count is exactly
    ceil(n/500) and delivered bytes are the summed JSON+newline frame
    lengths, both restated independently by the oracle from the raw events
    table.  A hash match therefore proves the source, the dedup, and the
    sink agree byte-for-byte end to end.

    Eager like ``kinesis_roundtrip_counts`` (the read needs the spool
    populated) and uses the same deterministic per-sf_dir tmp root."""
    from fs2_kinesis_firehose_spark.operators.dedup import exact_dedup
    from fs2_kinesis_firehose_spark.sources.kinesis_spool_source import (
        SCHEMA,
        register_kinesis_spool_source,
    )

    root = scratch_dir("fs2spark-spools", "pipeline-{h}", sf_dir)
    ingest_spool, deliver_spool = str(root / "ingest"), str(root / "deliver")

    events = load_table(spark, sf_dir, "events")
    framed = serialize_and_frame(events.select("event_id", "event_type"), "json", b"\n")
    produce_acks(
        framed,
        ProducerSettings(stream_name="ingest", parallelism=8),
        fake_client_factory(spool_dir=ingest_spool),
    ).count()

    register_kinesis_spool_source(spark)

    def attempt(n: int) -> DataFrame:
        return (
            spark.read.format("kinesis_spool")
            .schema(SCHEMA)
            .option("spoolDir", ingest_spool)
            .load()
            .select(
                F.concat_ws(":", F.lit(n), F.col("shard"), F.col("seq")).alias("row_key"),
                F.col("value"),
            )
        )

    replayed = attempt(1).unionByName(attempt(2))
    deduped = exact_dedup(replayed, text_col="value", key_col="row_key")
    acks = produce_acks(
        deduped.select("value"),
        ProducerSettings(stream_name="delivered", parallelism=1),
        fake_client_factory(spool_dir=deliver_spool),
    )
    return acks.agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum("n_records").alias("n_records"),
        F.sum("request_bytes").alias("delivered_bytes"),
        F.sum("failed_records").alias("failed_records"),
    )
