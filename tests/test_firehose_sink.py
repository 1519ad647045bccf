"""Spark-integration tests for the produce pipe: serialize/frame byte-exactness,
≤500-record slicing, bounded parallelism, streaming delivery."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.firehose.client import fake_client_factory, read_spool
from fs2_kinesis_firehose_spark.firehose.serializers import (
    serialize_and_frame,
    string_serializer,
)
from fs2_kinesis_firehose_spark.firehose.settings import (
    MAX_BATCH_BYTES,
    MAX_RECORD_BYTES,
    ProducerSettings,
)
from fs2_kinesis_firehose_spark.firehose.sink import produce, produce_acks, write_batch, write_one
from fs2_kinesis_firehose_spark.tables import load_table


def test_serialize_and_frame_json_byte_exact(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    out = serialize_and_frame(df, "json", b"\n").collect()
    payloads = sorted(bytes(r.value) for r in out)
    assert payloads == [b'{"id":1,"s":"a"}\n', b'{"id":2,"s":"b"}\n']


def test_serialize_custom_separator_and_charset(spark):
    df = spark.createDataFrame([("héllo",)], "txt string")
    out = serialize_and_frame(df, string_serializer("txt", "UTF-8"), b"|").collect()
    assert bytes(out[0].value) == "héllo".encode("utf-8") + b"|"


def test_serialize_binary_passthrough(spark):
    df = spark.createDataFrame([(b"\x00\x01",)], "payload binary")
    out = serialize_and_frame(df, "binary", b"").collect()
    assert bytes(out[0].value) == b"\x00\x01"


def test_batch_slicing_500_cap(spark, tmp_path):
    # 1234 rows at parallelism=1 → ceil(1234/500)=3 requests of 500/500/234
    spool = str(tmp_path / "spool")
    df = spark.range(1234).selectExpr("CAST(string(id) AS BINARY) AS value")
    settings = ProducerSettings(stream_name="t", parallelism=1)
    acks = produce_acks(df, settings, fake_client_factory(spool_dir=spool)).collect()
    assert sorted(a.n_records for a in acks) == [234, 500, 500]
    assert all(a.failed_records == 0 for a in acks)
    assert len(read_spool(spool, "t")) == 1234


def _put_stage_tasks(spark, group, action):
    """Run ``action`` under a job group; return its result and the task
    count of the put stage — the last stage of the group's last job, since
    unordered acks are collected straight from it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, "put-stage task count")
    try:
        result = action()
    finally:
        sc.setJobGroup(None, None)
    last_job = max(tracker.getJobIdsForGroup(group))
    put_stage = max(tracker.getJobInfo(last_job).stageIds)
    return result, tracker.getStageInfo(put_stage).numTasks


def test_bounded_parallelism_partition_count(spark, tmp_path):
    spool = str(tmp_path / "spool")
    df = spark.range(1000).selectExpr("CAST(string(id) AS BINARY) AS value")
    settings = ProducerSettings(stream_name="t", parallelism=4, batch_size=100)
    acks, put_tasks = _put_stage_tasks(
        spark,
        "bounded-parallelism",
        produce_acks(df, settings, fake_client_factory(spool_dir=spool)).collect,
    )
    assert put_tasks == 4  # the in-flight bound
    assert sum(a.n_records for a in acks) == 1000
    assert len(read_spool(spool, "t")) == 1000


def test_write_batch_typed_json_delivery(spark, tmp_path):
    spool = str(tmp_path / "spool")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string")
    settings = ProducerSettings(stream_name="t")
    ack_df = write_batch(df, settings, fake_client_factory(spool_dir=spool))
    assert not ack_df.isStreaming  # lazy ack DataFrame, no driver collect
    acks = ack_df.collect()
    assert sum(a.n_records for a in acks) == 2
    delivered = sorted(read_spool(spool, "t"))
    assert delivered == [b'{"id":1,"s":"x"}\n', b'{"id":2,"s":"y"}\n']
    for p in delivered:
        assert p.endswith(b"\n")
        json.loads(p.decode())


def _binary_records(spark, n, size):
    return spark.range(n).select(
        F.expr(f"cast(repeat('A', {size}) as binary)").alias("value")
    )


def test_byte_bound_flushes_early(spark, tmp_path):
    """6 records of 900 KiB under the 4 MiB request quota → requests of 4
    and 2 records (4×900 KiB ≤ 4 MiB < 5×900 KiB), well below the
    500-record cap."""
    spool = str(tmp_path / "spool")
    df = _binary_records(spark, 6, 900 * 1024)
    settings = ProducerSettings(stream_name="t", parallelism=1)
    acks = produce_acks(df, settings, fake_client_factory(spool_dir=spool)).collect()
    assert [a.n_records for a in acks] == [4, 2]
    assert all(a.request_bytes <= MAX_BATCH_BYTES for a in acks)
    assert len(read_spool(spool, "t")) == 6


def test_oversized_record_rejected(spark):
    df = _binary_records(spark, 1, MAX_RECORD_BYTES + 1)
    settings = ProducerSettings(stream_name="t", parallelism=1)
    with pytest.raises(Exception, match="per-record limit"):
        produce_acks(df, settings, fake_client_factory()).collect()


def test_settings_reject_quota_overrides_past_aws(spark):
    # the AWS byte quotas are fixed, not settings
    with pytest.raises(TypeError):
        ProducerSettings(stream_name="t", max_batch_bytes=5 * 1024 * 1024)
    with pytest.raises(TypeError):
        ProducerSettings(stream_name="t", max_record_bytes=2_000 * 1024)


def test_write_one(tmp_path):
    spool = str(tmp_path / "spool")
    settings = ProducerSettings(stream_name="t", separator=b"\n")
    resp = write_one("hello", settings, fake_client_factory(spool_dir=spool))
    assert resp["RecordId"]
    assert read_spool(spool, "t") == [b"hello\n"]


def test_produce_rejects_batch_df(spark):
    df = spark.range(1)
    with pytest.raises(ValueError):
        produce(df, ProducerSettings(stream_name="t"), fake_client_factory())


def test_streaming_produce_delivers_all_events(spark, sf_smoke, tmp_path):
    """End-to-end EP1: file streaming source → produce pipe → fake Firehose.

    Replays the events parquet as a stream; availableNow trigger processes
    everything; each record must arrive exactly once (no injected failures)."""
    spool = str(tmp_path / "spool")
    events = load_table(spark, sf_smoke, "events")
    n = events.count()
    # raw footer schema (ts = int64 nanos under nanosAsLong), not the
    # converted load_table schema — the file source validates against the file
    raw_schema = spark.read.parquet(f"{sf_smoke}/events.parquet").schema
    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    shutil.copy(f"{sf_smoke}/events.parquet", src_dir / "events.parquet")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    settings = ProducerSettings(stream_name="ev", parallelism=2)
    q = produce(
        stream.select("event_id", "event_type", "value"),
        settings,
        fake_client_factory(spool_dir=spool),
        serializer="json",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    delivered = read_spool(spool, "ev")
    assert len(delivered) == n
    ids = sorted(json.loads(p.decode().rstrip("\n"))["event_id"] for p in delivered)
    assert ids == sorted(r.event_id for r in events.select("event_id").collect())


@pytest.mark.parametrize("ordered", [True, False])
def test_ordered_acks_follow_input_order(spark, tmp_path, ordered):
    """At parallelism > 1 requests are cut per SOURCE partition and stamped
    (src_part, req_idx) BEFORE any shuffle: 4 source partitions of 300 ids
    → 3 requests each → 12 dense stamps, whichever way the acks come back.
    ``ordered=True`` adds the stamp sort, so the ack sequence equals
    request-formation order at ANY parallelism, like the reference's
    order-preserving ``mapAsync`` (firehose.scala:41)."""
    spool = str(tmp_path / "spool")
    df = spark.range(0, 1200, 1, 4).selectExpr(
        "CAST(lpad(string(id), 6, '0') AS BINARY) AS value"
    )
    settings = ProducerSettings(stream_name="t", parallelism=2, batch_size=100)
    acks = produce_acks(
        df, settings, fake_client_factory(spool_dir=spool), ordered=ordered
    ).collect()
    order = [(a.partition_id, a.request_index) for a in acks]
    expect = [(p, i) for p in range(4) for i in range(3)]
    # exact when ordered: source order, NOT put-task order (puts complete
    # concurrently, like mapAsync)
    assert (order if ordered else sorted(order)) == expect
    assert all(a.n_records == 100 for a in acks)
    # every payload delivered exactly once
    delivered = sorted(p.decode() for p in read_spool(spool, "t"))
    assert delivered == [f"{i:06d}" for i in range(1200)]


def test_ordered_acks_exact_under_noncontiguous_grouping(spark, tmp_path):
    """Non-contiguous grouping simulation: 5 source partitions (uneven
    sizes) over parallelism=3 — coalesce-style contiguity assumptions
    CANNOT hold here (5 partitions don't split into 3 contiguous equal
    groups), and the round-robin request shuffle scrambles which put task
    serves which request.  The stamp, captured pre-shuffle, still yields
    exact source order."""
    spool = str(tmp_path / "spool")
    # partition p holds ids [200p, 200p+150+10p): uneven row counts
    df = (
        spark.range(0, 1000, 1, 5)
        .filter("id % 200 < 150 + 10 * CAST(id / 200 AS INT)")
        .selectExpr("CAST(lpad(string(id), 6, '0') AS BINARY) AS value")
    )
    settings = ProducerSettings(stream_name="t", parallelism=3, batch_size=64)
    acks = produce_acks(
        df, settings, fake_client_factory(spool_dir=spool), ordered=True
    ).collect()
    order = [(a.partition_id, a.request_index) for a in acks]
    # exact source order: per partition p, ceil(rows_p / 64) requests
    rows_per_part = [150 + 10 * p for p in range(5)]
    expect = [
        (p, i)
        for p in range(5)
        for i in range((rows_per_part[p] + 63) // 64)
    ]
    assert order == expect
    # per-partition remainder requests match the per-source-partition cut
    by_part: dict[int, list] = {}
    for a in acks:
        by_part.setdefault(a.partition_id, []).append(a.n_records)
    for p, counts in by_part.items():
        n = rows_per_part[p]
        assert counts == [64] * (n // 64) + ([n % 64] if n % 64 else [])
    assert len(read_spool(spool, "t")) == sum(rows_per_part)


def test_default_is_ordered_at_parallelism_1(spark, tmp_path):
    """Missing #2 closure: the DEFAULT plan matches the
    reference's defaults — parallelism=1 (ProducerSettings.scala:80) +
    order-preserving mapAsync (firehose.scala:41) means globally
    sequential, globally ordered delivery.  Records must land in the spool
    in exact source order across a multi-partition input."""
    spool = str(tmp_path / "spool")
    df = spark.range(0, 900, 1, 3).selectExpr(
        "CAST(lpad(string(id), 6, '0') AS BINARY) AS value"
    )
    settings = ProducerSettings(stream_name="t", parallelism=1, batch_size=100)
    acks = produce_acks(df, settings, fake_client_factory(spool_dir=spool)).collect()
    order = [(a.partition_id, a.request_index) for a in acks]
    assert order == [(0, i) for i in range(9)]  # one task, source order
    delivered = [p.decode() for p in read_spool(spool, "t")]
    assert delivered == sorted(delivered), "delivery not in source order"
    # at parallelism 1 the one coalesced task is already in order, so
    # ordered=False plans the same single task
    spool2 = str(tmp_path / "spool2")
    acks2 = produce_acks(
        df, settings, fake_client_factory(spool_dir=spool2), ordered=False
    ).collect()
    assert len(read_spool(spool2, "t")) == 900
    assert {a.partition_id for a in acks2} == {0}


def test_unordered_acks_still_repartition(spark, tmp_path):
    spool = str(tmp_path / "spool")
    df = spark.range(0, 1200, 1, 4).selectExpr("CAST(string(id) AS BINARY) AS value")
    settings = ProducerSettings(stream_name="t", parallelism=2, batch_size=200)
    acks, put_tasks = _put_stage_tasks(
        spark,
        "unordered-repartition",
        produce_acks(df, settings, fake_client_factory(spool_dir=spool)).collect,
    )
    assert put_tasks == 2
    assert {a.partition_id for a in acks} == set(range(4))  # source partitions
    assert len(read_spool(spool, "t")) == 1200


# Runs in its own interpreter: ``local[4,2]`` lets a failed task run once
# more, which the shared test session (plain ``local[N]``) never does.
_REEXECUTION = """
import collections, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from fs2_kinesis_firehose_spark.firehose.client import fake_client_factory, read_spool
from fs2_kinesis_firehose_spark.firehose.settings import ProducerSettings, RetryPolicy
from fs2_kinesis_firehose_spark.firehose.sink import produce_acks
from fs2_kinesis_firehose_spark.operators.dedup import exact_dedup
from fs2_kinesis_firehose_spark.sources.kinesis_spool_source import (
    SCHEMA, register_kinesis_spool_source,
)


# fake clients whose task dies on its second put while it runs its first
# attempt, so Spark runs the task again from its first record
class FirstAttemptDies:
    def __init__(self, spool_dir):
        self.kwargs = {"spool_dir": spool_dir}

    def __call__(self):
        return FlakyClient(fake_client_factory(**self.kwargs)())


class FlakyClient:
    def __init__(self, inner):
        self.inner = inner
        self.calls = collections.Counter()

    def put_record_batch(self, **request):
        ctx = TaskContext.get()
        self.calls[ctx.taskAttemptId()] += 1
        if ctx.attemptNumber() == 0 and self.calls[ctx.taskAttemptId()] == 2:
            raise ConnectionError("task dies mid-delivery")
        return self.inner.put_record_batch(**request)


spark = SparkSession.builder.master("local[4,2]").config("spark.ui.enabled", "false").getOrCreate()
register_kinesis_spool_source(spark)
n = 2000
df = spark.range(0, n, 1, 4).selectExpr("CAST(lpad(string(id), 6, '0') AS BINARY) AS value")
for parallelism, ordered in ((1, False), (4, True)):
    spool = f"{sys.argv[1]}/p{parallelism}"
    settings = ProducerSettings(
        stream_name="t", parallelism=parallelism, retry=RetryPolicy(max_retries=0)
    )
    acks = produce_acks(df, settings, FirstAttemptDies(spool), ordered=ordered).collect()
    assert sum(a.n_records for a in acks) == n, acks
    if parallelism == 1:
        assert len(acks) == -(-n // 500), acks
    delivered = [p.decode() for p in read_spool(spool, "t")]
    assert set(delivered) == {f"{i:06d}" for i in range(n)}
    assert len(delivered) > n, "no task was re-executed"
    back = spark.read.format("kinesis_spool").schema(SCHEMA).option("spoolDir", spool).load()
    assert exact_dedup(back, text_col="value", key_col="seq").count() == n
"""


def test_task_reexecution_delivers_at_least_once(tmp_path):
    """A put task that dies mid-delivery is run again by Spark from its
    first record: the retried attempt re-puts what the dead one delivered,
    so the spool holds every record and some twice (at-least-once), the
    acks of the attempt that finished count each record once, and
    ``exact_dedup`` over the spool read back gives the input again.  Both
    plans: the one ``coalesce(1)`` task at parallelism 1, and the stamped
    put tasks behind a shuffle at parallelism 4 with ordered acks."""
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(_REEXECUTION), str(tmp_path)],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(Path(__file__).resolve().parents[1])},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
