"""Partial-failure batch retry — the reference's most distinctive semantics.

Reproduces ``Firehose.putWithRetry`` (Firehose.scala:70-105) exactly:

- success predicate: ``FailedPutCount <= 0`` (Firehose.scala:81);
- on partial failure, the retried request contains ONLY the records whose
  response entry lacks a ``RecordId`` (Firehose.scala:86-97 — the reference
  filters ``rec.getRecordId eq null``);
- a whole-call error retries the UNCHANGED request (Firehose.scala:99-103);
- retries follow the policy (exponential backoff, default 500 ms base / 6
  retries, ProducerSettings.scala:82); when retries exhaust, the last
  whole-call error is re-raised (Firehose.scala:103), otherwise the final
  (still partially failed) result is returned.

Delta from the reference (documented): the reference returns the *last*
response, which covers only the final shrunken request; we merge responses so
``RequestResponses`` aligns 1:1 with the ORIGINAL record order — strictly more
informative, same delivery semantics (at-least-once; SURVEY.md §7 hard-part 3).
"""

from __future__ import annotations

import time
from typing import Any

from fs2_kinesis_firehose_spark.firehose.settings import RetryPolicy


def put_batch_with_retry(
    client: Any,
    stream_name: str,
    records: list[dict[str, bytes]],
    retry: RetryPolicy,
    *,
    sleep=time.sleep,
) -> dict[str, Any]:
    """Submit one PutRecordBatch (≤500 records) with shrink-to-failed retry.

    Returns a boto3-shaped response whose ``RequestResponses`` is aligned to
    the original ``records`` order, plus an ``Attempts`` count.
    """
    # index into the ORIGINAL list of each record still pending
    pending = list(range(len(records)))
    final: list[dict[str, Any] | None] = [None] * len(records)
    attempts = 0
    last_error: BaseException | None = None

    while True:
        attempts += 1
        request = [records[i] for i in pending]
        try:
            resp = client.put_record_batch(DeliveryStreamName=stream_name, Records=request)
            last_error = None
        except Exception as e:  # whole-call failure: retry unchanged request
            last_error = e
            delay = retry.delay_s(attempts - 1)
            if delay is None:  # schedule exhausted (GiveUp)
                raise
            # clamp: a custom schedule_fn returning a negative float would
            # otherwise raise from time.sleep INSIDE the loop, losing the
            # merged partial result and the original call error
            sleep(max(0.0, delay))
            continue

        responses = resp["RequestResponses"]
        still_failed: list[int] = []
        for idx, entry in zip(pending, responses):
            final[idx] = entry
            if not entry.get("RecordId"):  # null RecordId == failed (Firehose.scala:86-97)
                still_failed.append(idx)

        if not still_failed:  # success predicate (Firehose.scala:81)
            break
        pending = still_failed
        delay = retry.delay_s(attempts - 1)
        if delay is None:  # schedule exhausted: return the partial result
            break
        sleep(max(0.0, delay))  # clamp negative custom-schedule delays

    failed = sum(1 for entry in final if not (entry or {}).get("RecordId"))
    return {
        "FailedPutCount": failed,
        "RequestResponses": [entry or {} for entry in final],
        "Attempts": attempts,
    }
