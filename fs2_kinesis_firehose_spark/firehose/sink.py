"""The produce pipe: serialize → frame → batch(count) → bounded-parallel put
with shrink-to-failed retry → ack stream (firehose.scala:67-80 on Spark).

Execution-model mapping (SURVEY.md §1.3, §3 EP1):

- fs2 ``groupWithin(batchSize, timeWindow)``  → streaming trigger gives the
  TIME bound; the 500-record COUNT bound is re-imposed inside the sink by
  slicing each partition iterator (Spark triggers are time-only — SURVEY.md §7
  hard-part 1).
- ``mapAsync(parallelism)(putWithRetry)``    → ``put(cut(...))``, one
  delivery loop for every plan; the put-stage task count bounds in-flight
  requests.  At parallelism 1 cut and put share one coalesced task and the
  acks come out in request order; at parallelism > 1 ``ordered=True``
  sorts the acks by their pre-shuffle ``(src_part, req_idx)`` stamps,
  reproducing mapAsync's order-preserving ack stream exactly.
- blocking-pool isolation (Firehose.scala:65) → puts run inside partition
  functions on executors; the driver never blocks on AWS I/O.
- ack stream (``Pipe[F, T, PutRecordBatchResult]``) → ``produce_acks`` returns
  a DataFrame of per-request ack rows; consuming it executes the puts (lazy,
  like pulling the fs2 stream).

At 100 TB scale the sink is embarrassingly parallel: no shuffle other than the
request ``repartition(parallelism)`` at parallelism > 1, no driver collect,
per-executor client singletons, and per-partition batching keeps memory at
O(batch_size).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fs2_kinesis_firehose_spark.firehose.batching import slice_requests
from fs2_kinesis_firehose_spark.firehose.client import ClientFactory
from fs2_kinesis_firehose_spark.firehose.retry import put_batch_with_retry
from fs2_kinesis_firehose_spark.firehose.serializers import serialize_and_frame
from fs2_kinesis_firehose_spark.firehose.settings import (
    MAX_BATCH_BYTES,
    MAX_RECORD_BYTES,
    ProducerSettings,
)

ACK_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("request_index", LongType(), False),
        StructField("n_records", LongType(), False),
        StructField("failed_records", LongType(), False),
        StructField("attempts", LongType(), False),
        StructField("request_bytes", LongType(), False),
        StructField("stream_name", StringType(), False),
    ]
)

# request rows between the cut stage and the put stage at parallelism > 1
_REQUEST_SCHEMA = StructType(
    [
        StructField("src_part", IntegerType(), False),
        StructField("req_idx", LongType(), False),
        StructField("payloads", ArrayType(BinaryType(), False), False),
        StructField("request_bytes", LongType(), False),
    ]
)

# per-executor-process client singleton (A22: client lifecycle — the Resource
# analog; built once per Python worker, reused across partitions)
_CLIENT_CACHE: dict[Any, Any] = {}


def _factory_key(factory: ClientFactory) -> Any:
    """Stable cache key for a client factory.

    Spark unpickles a FRESH factory object per task, so object identity can't
    key a per-process singleton (and CPython reuses id() after GC — two
    different factories could alias a slot and deliver to the wrong
    endpoint).  Contract: factories expose their configuration as a
    ``kwargs`` attribute (both built-in factories do); the key is
    (type, sorted kwargs).  Arbitrary callables fall back to their
    cloudpickle bytes — stable across unpickling, unlike id()."""
    kw = getattr(factory, "kwargs", None)
    if kw is not None:
        return (type(factory).__module__, type(factory).__qualname__,
                repr(sorted(kw.items())))
    try:
        from pyspark import cloudpickle

        return ("pickled", cloudpickle.dumps(factory))
    except Exception as e:
        # never fall back to id(): CPython reuses addresses after GC, so two
        # factories could alias one slot and deliver to the wrong endpoint —
        # the exact bug stable keying exists to prevent
        raise TypeError(
            "client factory must expose a `kwargs` attribute or be "
            "cloudpickle-able to key the per-executor client cache"
        ) from e


def _executor_client(factory: ClientFactory) -> Any:
    key = _factory_key(factory)
    client = _CLIENT_CACHE.get(key)
    if client is None:
        client = factory()
        _CLIENT_CACHE[key] = client
    return client


def cut(
    payloads: Iterable[bytes], settings: ProducerSettings, src_part: int
) -> Iterator[tuple[int, int, list[bytes], int]]:
    """Cut a payload stream into requests (A2's count bound + the AWS byte
    quotas, see ``slice_requests``), each stamped with its source partition
    and its index within that partition:
    ``(src_part, req_idx, payloads, request_bytes)``."""
    for req_idx, (buf, buf_bytes) in enumerate(
        slice_requests(
            payloads,
            batch_size=settings.batch_size,
            max_batch_bytes=MAX_BATCH_BYTES,
            max_record_bytes=MAX_RECORD_BYTES,
        )
    ):
        yield src_part, req_idx, buf, buf_bytes


def put(
    client: Any,
    settings: ProducerSettings,
    requests: Iterable[tuple[int, int, list[bytes], int]],
) -> Iterator[dict[str, Any]]:
    """Put each request with shrink-to-failed retry (Firehose.scala:70-105)
    and yield one ack dict per request, in request order."""
    for src_part, req_idx, buf, buf_bytes in requests:
        resp = put_batch_with_retry(
            client, settings.stream_name, [{"Data": p} for p in buf], settings.retry
        )
        yield {
            "partition_id": src_part,
            "request_index": req_idx,
            "n_records": len(buf),
            "failed_records": int(resp.get("FailedPutCount", 0)),
            "attempts": int(resp.get("Attempts", 1)),
            "request_bytes": buf_bytes,
            "stream_name": settings.stream_name,
        }


def _partition_id() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


def _payloads(batches: "Iterator[pd.DataFrame]") -> Iterator[bytes]:
    return (bytes(v) for pdf in batches for v in pdf["value"])


def produce_acks(
    framed: DataFrame,
    settings: ProducerSettings,
    client_factory: ClientFactory,
    *,
    ordered: bool = False,
) -> DataFrame:
    """Batch-mode produce over a ``value: binary`` DataFrame → ack DataFrame.

    The returned DataFrame is lazy; an action on it performs the puts — the
    direct analog of the reference's ack ``Pipe`` output (firehose.scala:69).
    Every plan is ``put(cut(...))`` — the reference's one delivery loop,
    ``mapAsync(parallelism)(putWithRetry)`` (firehose.scala:41) — run in
    Arrow-batched ``mapInPandas`` so payload bytes cross the JVM→Python
    boundary as Arrow buffers.  Requests hold ≤ ``batch_size`` records and
    ≤ ``MAX_BATCH_BYTES`` bytes; a single record over ``MAX_RECORD_BYTES``
    raises on the executor (the real service would reject it on every
    retry).

    The plan follows ``settings.parallelism`` (the in-flight bound):

    - ``parallelism == 1`` (the reference's default, ProducerSettings.scala:80):
      an order-preserving ``coalesce(1)`` runs cut and put in ONE task, which
      consumes input partitions in source order.  Requests are cut from the
      globally sequential record stream — ``n_requests == ceil(n /
      batch_size)`` — and the acks come out in request order with no
      shuffle, so ``ordered`` changes nothing here.
    - ``parallelism > 1``: each SOURCE partition is cut into requests at
      source parallelism, the request rows round-robin into exactly
      ``parallelism`` put tasks, and each put task acks its requests.
      Request boundaries never span source partitions (each flushes its
      remainder as a partial request, like ``groupWithin``'s time bound),
      so ``n_requests`` is Σ_p ceil(rows_p / batch_size).  With
      ``ordered=True`` the acks are sorted by ``(partition_id,
      request_index)`` — request-formation order, as ``mapAsync(n)``
      returns it while its puts complete concurrently.

    An ack's ``partition_id`` is the source partition its request was cut
    from (0 at ``parallelism == 1``, the one coalesced partition), and
    ``request_index`` counts requests within that partition from 0.
    """
    if "value" not in framed.columns:
        raise ValueError("produce expects a framed DataFrame with a 'value' column")
    values = framed.select("value")

    if settings.parallelism == 1:

        def cut_put(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            import pandas as pd

            requests = cut(_payloads(batches), settings, _partition_id())
            acks = put(_executor_client(client_factory), settings, requests)
            yield pd.DataFrame(list(acks), columns=ACK_SCHEMA.fieldNames())

        return values.coalesce(1).mapInPandas(cut_put, ACK_SCHEMA)

    def cut_rows(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        # ONE frame per request: peak task memory stays proportional to
        # MAX_BATCH_BYTES, never to the source partition size
        for request in cut(_payloads(batches), settings, _partition_id()):
            yield pd.DataFrame([request], columns=_REQUEST_SCHEMA.fieldNames())

    def put_rows(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        requests = (
            (int(r.src_part), int(r.req_idx), [bytes(p) for p in r.payloads],
             int(r.request_bytes))
            for pdf in batches
            for r in pdf.itertuples(index=False)
        )
        acks = put(_executor_client(client_factory), settings, requests)
        yield pd.DataFrame(list(acks), columns=ACK_SCHEMA.fieldNames())

    acks_df = (
        values.mapInPandas(cut_rows, _REQUEST_SCHEMA)
        .repartition(settings.parallelism)
        .mapInPandas(put_rows, ACK_SCHEMA)
    )
    if ordered:
        # NOT orderBy: a global sort range-samples its input, which would
        # execute the put pipeline a second time (duplicate delivery!).
        # Ack rows are request-count-sized, so one round-robin shuffle to a
        # single partition + an in-partition sort is both safe and cheap.
        acks_df = acks_df.repartition(1).sortWithinPartitions(
            "partition_id", "request_index"
        )
    return acks_df


def write_batch(
    df: DataFrame,
    settings: ProducerSettings,
    client_factory: ClientFactory,
    serializer: str = "json",
) -> DataFrame:
    """One-shot typed batch put (FirehoseOps.batchPut analog,
    FirehoseOps.scala:48-54) — serialize+frame then deliver.

    Returns the LAZY ack DataFrame (one row per ≤500-record request): an
    action on it performs the puts.  No driver materialization — at 100 TB /
    1 KB records the ack stream is ~2×10⁸ rows; aggregate or sink it
    cluster-side (e.g. ``acks.groupBy().agg(F.sum("failed_records"))``)."""
    framed = serialize_and_frame(df, serializer, settings.separator)
    return produce_acks(framed, settings, client_factory)


def write_one(
    obj: bytes | str,
    settings: ProducerSettings,
    client_factory: ClientFactory,
    charset: str = "UTF-8",
) -> dict[str, Any]:
    """Typed single put (FirehoseOps.put analog, FirehoseOps.scala:42-46).

    Driver-side, no cluster involvement — one record, one request."""
    payload = obj.encode(charset) if isinstance(obj, str) else bytes(obj)
    payload += settings.separator
    client = client_factory()
    return client.put_record(
        DeliveryStreamName=settings.stream_name, Record={"Data": payload}
    )


def produce(
    stream_df: DataFrame,
    settings: ProducerSettings,
    client_factory: ClientFactory,
    serializer: str = "json",
    checkpoint_dir: str | None = None,
    query_name: str = "firehose_produce",
):
    """The streaming produce pipe (firehose.scala:67-80 analog).

    ``stream_df`` is a streaming DataFrame; each micro-batch (time bound =
    trigger interval ≈ groupWithin's timeWindow) is serialized, framed,
    split into ≤500-record requests and delivered with retry at bounded
    parallelism.  Returns the StreamingQuery handle.
    """
    if not stream_df.isStreaming:
        raise ValueError("produce expects a streaming DataFrame; use write_batch for batch")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        framed = serialize_and_frame(batch_df, serializer, settings.separator)
        # one action runs the puts on executors; no ack row reaches the
        # driver (the per-request acks are unbounded at scale)
        acks = produce_acks(framed, settings, client_factory)
        acks.write.format("noop").mode("overwrite").save()

    writer = (
        stream_df.writeStream.foreachBatch(sink)
        .queryName(query_name)
        .trigger(processingTime=f"{settings.time_window_s} seconds")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
