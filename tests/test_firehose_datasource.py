"""Tests for the registered ``format("firehose")`` Python DataSource."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.firehose.client import read_spool
from fs2_kinesis_firehose_spark.firehose.serializers import serialize_and_frame
from fs2_kinesis_firehose_spark.firehose.settings import MAX_RECORD_BYTES
from fs2_kinesis_firehose_spark.sources import register_firehose_source
from fs2_kinesis_firehose_spark.tables import load_table


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_firehose_source(spark)


def test_batch_write_delivers_all(spark, tmp_path):
    spool = str(tmp_path / "spool")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, s string")
    framed = serialize_and_frame(df, "json", b"\n")
    (
        framed.write.format("firehose")
        .option("streamName", "ds-test")
        .option("spoolDir", spool)
        .mode("append")
        .save()
    )
    delivered = sorted(read_spool(spool, "ds-test"))
    assert len(delivered) == 3
    assert delivered[0] == b'{"id":1,"s":"a"}\n'


def test_batch_write_slices_500(spark, tmp_path):
    spool = str(tmp_path / "spool")
    framed = spark.range(1100).coalesce(1).selectExpr("CAST(string(id) AS BINARY) AS value")
    (
        framed.write.format("firehose")
        .option("streamName", "big")
        .option("spoolDir", spool)
        .mode("append")
        .save()
    )
    assert len(read_spool(spool, "big")) == 1100


def test_batch_write_rejects_oversized_record(spark, tmp_path):
    # one record 1 byte over the AWS 1,000 KiB per-record quota
    framed = spark.range(1).select(
        F.expr(f"cast(repeat('z', {MAX_RECORD_BYTES + 1}) as binary)").alias("value")
    )
    with pytest.raises(Exception, match="per-record limit"):
        (
            framed.write.format("firehose")
            .option("streamName", "big-rec")
            .option("spoolDir", str(tmp_path))
            .mode("append")
            .save()
        )


def test_writer_rejects_batch_size_past_aws_cap():
    from fs2_kinesis_firehose_spark.sources.firehose_datasource import _WriterCore

    # validated by ProducerSettings, the one home of the quota checks
    with pytest.raises(ValueError, match="batch_size"):
        _WriterCore({"streamName": "t", "batchSize": "501"})


def test_rejects_wrong_schema(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id int, s string")
    with pytest.raises(Exception, match="value"):
        df.write.format("firehose").option("streamName", "x").option(
            "spoolDir", str(tmp_path)
        ).mode("append").save()


def test_requires_stream_name(spark, tmp_path):
    framed = spark.range(3).selectExpr("CAST(string(id) AS BINARY) AS value")
    with pytest.raises(Exception, match="streamName"):
        framed.write.format("firehose").option("spoolDir", str(tmp_path)).mode("append").save()


def test_streaming_write(spark, sf_smoke, tmp_path):
    spool = str(tmp_path / "spool")
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    shutil.copy(f"{sf_smoke}/events.parquet", src_dir / "events.parquet")
    raw_schema = spark.read.parquet(f"{sf_smoke}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).parquet(str(src_dir))
    framed = serialize_and_frame(stream.select("event_id", "event_type"), "json", b"\n")
    q = (
        framed.writeStream.format("firehose")
        .option("streamName", "ev-stream")
        .option("spoolDir", spool)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = load_table(spark, sf_smoke, "events").count()
    assert len(read_spool(spool, "ev-stream")) == n
