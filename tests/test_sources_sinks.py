"""Tier B sources/sinks row: rate streaming source, parquet streaming sink,
memory sink (used throughout), console excluded (side-effect only)."""

from __future__ import annotations

from fs2_kinesis_firehose_spark.streaming.replay import replay_parquet


def test_rate_source_produces_rows(spark):
    stream = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_mem")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline and spark.table("rate_mem").count() == 0:
            time.sleep(0.5)
        assert spark.table("rate_mem").count() > 0
        assert set(spark.table("rate_mem").columns) == {"timestamp", "value"}
    finally:
        q.stop()


def test_console_sink_runs(spark, sf_smoke):
    stream = replay_parquet(spark, sf_smoke, "events")
    q = (
        stream.select("event_id")
        .writeStream.format("console")
        .option("numRows", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None


def test_parquet_streaming_sink_roundtrip(spark, sf_smoke, tmp_path):
    out = str(tmp_path / "out")
    stream = replay_parquet(spark, sf_smoke, "events")
    q = (
        stream.select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from fs2_kinesis_firehose_spark.tables import load_table

    written = spark.read.parquet(out)
    assert written.count() == load_table(spark, sf_smoke, "events").count()
    assert set(written.columns) == {"event_id", "event_type", "value"}


def test_idempotent_parquet_sink_replay_safe(spark, tmp_path):
    """Replaying the SAME batch id must overwrite its own partition, not
    append a duplicate — at-least-once + idempotent sink = exactly-once."""
    from fs2_kinesis_firehose_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path / "out")
    sink = idempotent_parquet_sink(out)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    sink(b0, 0)
    sink(b0, 0)  # replay of batch 0 (failure-recovery path)
    sink(b1, 1)
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_idempotent_sink_wired_into_streaming_query(spark, sf_smoke, tmp_path):
    from fs2_kinesis_firehose_spark.streaming.replay import replay_parquet
    from fs2_kinesis_firehose_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path / "out")
    stream = replay_parquet(spark, sf_smoke, "events")
    q = (
        stream.select("event_id", "event_type")
        .writeStream.foreachBatch(idempotent_parquet_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.read.parquet(out).count()
    from fs2_kinesis_firehose_spark.tables import load_table

    assert n == load_table(spark, sf_smoke, "events").count()


def _spool_write(spool_dir, stream, payloads):
    import os

    os.makedirs(spool_dir, exist_ok=True)
    with open(os.path.join(spool_dir, f"{stream}.spool"), "ab") as f:
        for p in payloads:
            f.write(len(p).to_bytes(4, "big") + p)


def test_kinesis_spool_batch_read_shards_and_seq(spark, tmp_path):
    from fs2_kinesis_firehose_spark.sources import register_kinesis_spool_source

    spool = str(tmp_path / "spool")
    _spool_write(spool, "shard_a", [b"a1", b"a22"])
    _spool_write(spool, "shard_b", [b"b1"])
    register_kinesis_spool_source(spark)
    rows = (
        spark.read.format("kinesis_spool").option("spoolDir", spool).load().collect()
    )
    got = sorted((r.shard, r.seq, bytes(r.value)) for r in rows)
    # seq = byte offset within the shard (4-byte length prefix framing)
    assert got == [("shard_a", 0, b"a1"), ("shard_a", 6, b"a22"), ("shard_b", 0, b"b1")]


def test_kinesis_spool_streaming_is_incremental(spark, tmp_path):
    from fs2_kinesis_firehose_spark.sources import register_kinesis_spool_source

    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _spool_write(spool, "s", [b"r1", b"r2"])
    register_kinesis_spool_source(spark)
    stream = spark.readStream.format("kinesis_spool").option("spoolDir", spool).load()

    def run_once():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 2
    # append more records; the next run resumes from the checkpointed offset
    # and picks up ONLY the delta (no re-delivery of r1/r2)
    _spool_write(spool, "s", [b"r3"])
    run_once()
    vals = sorted(bytes(r.value) for r in spark.read.parquet(out).collect())
    assert vals == [b"r1", b"r2", b"r3"]


def test_kinesis_spool_ignores_partial_trailing_record(spark, tmp_path):
    """A concurrently-appending producer can leave a half-written record at
    the file tail; the source must align offsets to the last complete record
    and pick the rest up once it is whole."""
    import os

    from fs2_kinesis_firehose_spark.sources import register_kinesis_spool_source

    spool = str(tmp_path / "spool")
    _spool_write(spool, "s", [b"whole1"])
    # simulate a torn write: header promises 100 bytes, only 3 present
    with open(os.path.join(spool, "s.spool"), "ab") as f:
        f.write((100).to_bytes(4, "big") + b"par")
    register_kinesis_spool_source(spark)
    rows = spark.read.format("kinesis_spool").option("spoolDir", spool).load().collect()
    assert [bytes(r.value) for r in rows] == [b"whole1"]
    # complete the torn record; it becomes visible
    with open(os.path.join(spool, "s.spool"), "ab") as f:
        f.write(b"x" * 97)
    rows = spark.read.format("kinesis_spool").option("spoolDir", spool).load().collect()
    assert sorted(len(bytes(r.value)) for r in rows) == [6, 100]


def test_pipeline_line_spools_where_the_benchmark_reads(spark, sf_smoke):
    """pipeline_dedup_delivery_accounting spools under
    ``<tmp>/fs2spark-spools/pipeline-<sha256(sf_dir)[:12]>``, wiped before
    use; the benchmark (perfbench/workloads.py) reads the line's delivery
    back from exactly that path."""
    import hashlib
    import os
    import tempfile

    import fs2_kinesis_firehose_spark.queries as q
    from fs2_kinesis_firehose_spark.firehose.client import read_spool

    q.load_all()
    h = hashlib.sha256(sf_smoke.encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), "fs2spark-spools", f"pipeline-{h}")
    stale = os.path.join(root, "stale")
    os.makedirs(stale, exist_ok=True)
    (totals,) = q.QUERIES["pipeline_dedup_delivery_accounting"](spark, sf_smoke).collect()
    assert not os.path.exists(stale)
    delivered = read_spool(os.path.join(root, "deliver"), "delivered")
    assert len(delivered) == totals.n_records > 0
    assert any(f.endswith(".spool") for f in os.listdir(os.path.join(root, "ingest")))
