"""Request slicing shared by the produce sink and the firehose DataSource.

One pure generator holds the batching invariants (so both write paths can't
drift, and hypothesis can exercise the logic without a SparkSession):

- a request never exceeds ``batch_size`` records (AWS: 500/PutRecordBatch);
- a request never exceeds ``max_batch_bytes`` payload bytes (AWS: 4 MiB) —
  the buffer flushes BEFORE the record that would overflow it;
- a single record larger than ``max_record_bytes`` (AWS: 1,000 KiB) raises —
  the real service rejects it on every retry, so failing fast on the
  executor is strictly better;
- record order within the stream of payloads is preserved.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator


def slice_requests(
    payloads: Iterable[bytes],
    *,
    batch_size: int,
    max_batch_bytes: int,
    max_record_bytes: int,
) -> Iterator[tuple[list[bytes], int]]:
    """Yield (request_payloads, request_bytes) slices observing all quotas.

    ``max_record_bytes`` is clamped to ``max_batch_bytes``: a record may
    never exceed the request quota, otherwise a single accepted record
    would form an over-quota request — the generator alone holds every
    invariant whatever quotas the caller passes."""
    max_record_bytes = min(max_record_bytes, max_batch_bytes)
    buf: list[bytes] = []
    buf_bytes = 0
    for payload in payloads:
        if len(payload) > max_record_bytes:
            raise ValueError(
                f"record of {len(payload)} bytes exceeds the "
                f"{max_record_bytes}-byte per-record limit "
                f"(AWS rejects it on every retry); filter or split "
                f"oversized records upstream"
            )
        if buf and buf_bytes + len(payload) > max_batch_bytes:
            yield buf, buf_bytes
            buf, buf_bytes = [], 0
        buf.append(payload)
        buf_bytes += len(payload)
        if len(buf) >= batch_size:
            yield buf, buf_bytes
            buf, buf_bytes = [], 0
    if buf:
        yield buf, buf_bytes
