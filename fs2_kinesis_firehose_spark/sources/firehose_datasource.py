"""Firehose as a first-class Spark data source (Spark 4 Python DataSource API).

Gives the reference's produce pipe (firehose.scala:67-80) the same surface as
the built-in Kafka sink::

    register_firehose_source(spark)
    framed.write.format("firehose").option("streamName", "s").save()        # batch
    stream.writeStream.format("firehose").option("streamName", "s").start() # streaming

Contract (mirrors the Kafka sink): the DataFrame must have a single ``value``
column (binary or string) — use ``firehose.serializers.serialize_and_frame``
to serialize+frame arbitrary rows.  Each executor partition slices its rows
into ≤500-record requests (A2's count bound) and delivers with
shrink-to-failed retry (A8, Firehose.scala:70-105 semantics); commit messages
aggregate per-partition delivery accounting back on the driver.

Options: ``streamName`` (required), ``batchSize`` (≤500), ``maxRetries``,
``baseBackoffMs``, ``separator`` (appended if the upstream didn't frame),
``spoolDir`` (use the in-memory fake client, spooling for observation —
tests/CI), region/endpoint passthrough for the real boto3 client.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

from fs2_kinesis_firehose_spark.firehose.client import (
    ClientFactory,
    boto3_client_factory,
    fake_client_factory,
)
from fs2_kinesis_firehose_spark.firehose.settings import (
    MAX_BATCH_SIZE,
    ProducerSettings,
    RetryPolicy,
)
from fs2_kinesis_firehose_spark.firehose.sink import (
    _executor_client,
    _partition_id,
    cut,
    put,
)


@dataclass
class FirehoseCommitMessage(WriterCommitMessage):
    partition_id: int
    n_requests: int
    n_records: int
    failed_records: int


def _client_factory(options: dict[str, str]) -> ClientFactory:
    if options.get("spooldir"):
        return fake_client_factory(spool_dir=options["spooldir"])
    kwargs: dict[str, Any] = {}
    if options.get("endpoint"):
        kwargs["endpoint_url"] = options["endpoint"]
    return boto3_client_factory(options.get("region"), **kwargs)


class _WriterCore:
    """Shared executor-side write for batch and streaming writers: the
    produce pipe's own ``put(cut(...))`` over one partition."""

    def __init__(self, options: dict[str, str]) -> None:
        # normalize option keys (Spark lowercases DataSource option names)
        options = {k.lower(): v for k, v in options.items()}
        if not options.get("streamname"):
            raise ValueError("firehose source requires .option('streamName', ...)")
        # ProducerSettings validates the count; the slicer enforces the AWS
        # byte quotas
        self.settings = ProducerSettings(
            stream_name=options["streamname"],
            batch_size=int(options.get("batchsize", MAX_BATCH_SIZE)),
            separator=options.get("separator", "").encode(),
            retry=RetryPolicy(
                max_retries=int(options.get("maxretries", 6)),
                base_backoff_s=float(options.get("basebackoffms", 500)) / 1000.0,
            ),
        )
        self.client_factory = _client_factory(options)

    def write(self, iterator: Iterator[Any]) -> FirehoseCommitMessage:
        sep = self.settings.separator
        payloads = (
            (v.encode() if isinstance(v, str) else bytes(v)) + sep
            for v in (row["value"] for row in iterator)
        )
        pid = _partition_id()
        client = _executor_client(self.client_factory)
        n_requests = n_records = failed = 0
        for ack in put(client, self.settings, cut(payloads, self.settings, pid)):
            n_requests += 1
            n_records += ack["n_records"]
            failed += ack["failed_records"]
        return FirehoseCommitMessage(
            partition_id=pid, n_requests=n_requests, n_records=n_records, failed_records=failed
        )


class FirehoseBatchWriter(DataSourceWriter):
    def __init__(self, options: dict[str, str]) -> None:
        self.core = _WriterCore(options)

    def write(self, iterator: Iterator[Any]) -> FirehoseCommitMessage:
        return self.core.write(iterator)

    def commit(self, messages: list[FirehoseCommitMessage]) -> None:  # driver-side
        total_failed = sum(m.failed_records for m in messages if m)
        if total_failed:
            raise RuntimeError(f"firehose delivery incomplete: {total_failed} records failed")


class FirehoseStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict[str, str]) -> None:
        self.core = _WriterCore(options)

    def write(self, iterator: Iterator[Any]) -> FirehoseCommitMessage:
        return self.core.write(iterator)

    def commit(self, messages: list[FirehoseCommitMessage], batchId: int) -> None:
        total_failed = sum(m.failed_records for m in messages if m)
        if total_failed:
            raise RuntimeError(
                f"firehose delivery incomplete in batch {batchId}: {total_failed} failed"
            )

    def abort(self, messages: list[FirehoseCommitMessage], batchId: int) -> None:
        # at-least-once: delivered records of an aborted batch may duplicate
        # (same contract as the reference's retry, SURVEY.md §7 hard-part 3)
        pass


class FirehoseDataSource(DataSource):
    """``format("firehose")`` — write-only (Firehose is write-only by nature;
    SURVEY.md §2: the reference never reads a stream)."""

    @classmethod
    def name(cls) -> str:
        return "firehose"

    def schema(self) -> str:
        return "value binary"

    def writer(self, schema: Any, overwrite: bool) -> FirehoseBatchWriter:
        self._check_schema(schema)
        return FirehoseBatchWriter(self.options)

    def streamWriter(self, schema: Any, overwrite: bool) -> FirehoseStreamWriter:
        self._check_schema(schema)
        return FirehoseStreamWriter(self.options)

    @staticmethod
    def _check_schema(schema: Any) -> None:
        names = [f.name for f in schema.fields]
        if names != ["value"]:
            raise ValueError(
                f"firehose sink expects exactly one 'value' column (binary/string), got {names}; "
                "use serialize_and_frame() upstream"
            )


def register_firehose_source(spark) -> None:
    spark.dataSource.register(FirehoseDataSource)
