"""Unit tests for shrink-to-failed retry (Firehose.scala:70-105 semantics) —
the path the reference itself never tested (SURVEY.md §5)."""

from __future__ import annotations

import shutil

import pytest

from fs2_kinesis_firehose_spark.firehose.client import FakeFirehose, read_spool
from fs2_kinesis_firehose_spark.firehose.retry import put_batch_with_retry
from fs2_kinesis_firehose_spark.firehose.settings import RetryPolicy

NO_SLEEP = lambda _: None  # noqa: E731


def recs(*payloads: bytes) -> list[dict[str, bytes]]:
    return [{"Data": p} for p in payloads]


def test_all_success_single_attempt(tmp_path):
    client = FakeFirehose(spool_dir=str(tmp_path))
    resp = put_batch_with_retry(client, "s", recs(b"a", b"b"), RetryPolicy(), sleep=NO_SLEEP)
    assert resp["FailedPutCount"] == 0
    assert resp["Attempts"] == 1
    assert read_spool(str(tmp_path), "s") == [b"a", b"b"]


def test_fault_free_client_retains_no_per_payload_state():
    # executors cache their client across queries: without a fault to
    # inject, it must not keep a per-payload attempt count
    client = FakeFirehose()
    for i in range(3):
        resp = client.put_record_batch(DeliveryStreamName="s", Records=recs(b"%d" % i, b"x"))
        assert resp["FailedPutCount"] == 0
    assert not client._record_attempts


def test_shrink_to_failed_resubmits_only_failures(tmp_path):
    # every record fails once, succeeds on second submission
    client = FakeFirehose(fail_record_times=1, spool_dir=str(tmp_path))
    resp = put_batch_with_retry(client, "s", recs(b"a", b"b", b"c"), RetryPolicy(), sleep=NO_SLEEP)
    assert resp["FailedPutCount"] == 0
    assert resp["Attempts"] == 2
    # each record delivered exactly once (shrunken retry, no duplicates)
    assert sorted(read_spool(str(tmp_path), "s")) == [b"a", b"b", b"c"]
    assert client.put_batch_calls == 2


def test_partial_failure_shrinks_request(tmp_path):
    # only records ending in x fail, and only on their first attempt
    client = FakeFirehose(
        record_should_fail=lambda p, attempt: p.endswith(b"x") and attempt == 0,
        spool_dir=str(tmp_path),
    )
    resp = put_batch_with_retry(
        client, "s", recs(b"ax", b"b", b"cx", b"d"), RetryPolicy(), sleep=NO_SLEEP
    )
    assert resp["FailedPutCount"] == 0
    assert resp["Attempts"] == 2
    # second request contained only the two failed records
    assert sorted(read_spool(str(tmp_path), "s")) == [b"ax", b"b", b"cx", b"d"]
    # responses aligned to original order, all with RecordId
    assert all(e.get("RecordId") for e in resp["RequestResponses"])


def test_retries_exhaust_returns_failed_result(tmp_path):
    client = FakeFirehose(fail_record_times=100, spool_dir=str(tmp_path))
    policy = RetryPolicy(max_retries=2)
    resp = put_batch_with_retry(client, "s", recs(b"a", b"b"), policy, sleep=NO_SLEEP)
    assert resp["FailedPutCount"] == 2
    assert resp["Attempts"] == 3  # 1 initial + 2 retries
    assert read_spool(str(tmp_path), "s") == []


def test_whole_call_failure_retries_unchanged_then_succeeds(tmp_path):
    client = FakeFirehose(raise_call_times=2, spool_dir=str(tmp_path))
    resp = put_batch_with_retry(client, "s", recs(b"a", b"b"), RetryPolicy(), sleep=NO_SLEEP)
    assert resp["FailedPutCount"] == 0
    assert resp["Attempts"] == 3
    assert read_spool(str(tmp_path), "s") == [b"a", b"b"]


def test_whole_call_failure_exhausts_raises_last_error():
    client = FakeFirehose(raise_call_times=100)
    with pytest.raises(ConnectionError):
        put_batch_with_retry(client, "s", recs(b"a"), RetryPolicy(max_retries=2), sleep=NO_SLEEP)
    assert client.put_batch_calls == 3


def test_no_retry_policy_passthrough():
    client = FakeFirehose(fail_record_times=1)
    resp = put_batch_with_retry(client, "s", recs(b"a"), RetryPolicy(max_retries=0), sleep=NO_SLEEP)
    assert resp["FailedPutCount"] == 1
    assert resp["Attempts"] == 1


def test_spool_dir_recreated_after_wipe(tmp_path):
    # executors cache the client across queries, and each query wipes its
    # spool dir first: a cached client must deliver into the new dir
    spool = str(tmp_path / "spool")
    client = FakeFirehose(spool_dir=spool)
    put_batch_with_retry(client, "s", recs(b"first"), RetryPolicy(), sleep=NO_SLEEP)
    shutil.rmtree(spool)
    resp = put_batch_with_retry(client, "s", recs(b"second"), RetryPolicy(), sleep=NO_SLEEP)
    assert resp["FailedPutCount"] == 0
    assert read_spool(spool, "s") == [b"second"]


def test_exponential_backoff_schedule():
    sleeps: list[float] = []
    client = FakeFirehose(fail_record_times=3)
    put_batch_with_retry(
        client, "s", recs(b"a"), RetryPolicy(max_retries=6, base_backoff_s=0.5), sleep=sleeps.append
    )
    assert sleeps == [0.5, 1.0, 2.0]  # 500ms base, doubling (ProducerSettings.scala:82)


def test_custom_schedule_fn_drives_delays_and_giveup():
    """Missing #1 closure (cats-retry composability,
    ProducerSettings.scala:41-42): a user-supplied schedule_fn(attempt) ->
    delay | None fully replaces the expo family — delays follow the
    schedule exactly, and the first None gives up (partial result
    returned, like an exhausted max_retries)."""
    sleeps: list[float] = []
    # fibonacci-with-jitter-ish schedule, capped at 3 retries
    sched = {0: 0.1, 1: 0.1, 2: 0.25}
    policy = RetryPolicy(schedule_fn=lambda a: sched.get(a))
    client = FakeFirehose(fail_record_times=100)
    resp = put_batch_with_retry(client, "s", recs(b"a", b"b"), policy, sleep=sleeps.append)
    assert sleeps == [0.1, 0.1, 0.25]
    assert resp["Attempts"] == 4  # 1 initial + 3 scheduled retries
    assert resp["FailedPutCount"] == 2
    # max_retries is ignored while schedule_fn is set
    assert RetryPolicy(max_retries=0, schedule_fn=lambda a: 0.5).delay_s(7) == 0.5


def test_custom_schedule_fn_whole_call_giveup_raises():
    client = FakeFirehose(raise_call_times=100)
    policy = RetryPolicy(schedule_fn=lambda a: 0.0 if a < 1 else None)
    with pytest.raises(ConnectionError):
        put_batch_with_retry(client, "s", recs(b"a"), policy, sleep=lambda _: None)
    assert client.put_batch_calls == 2  # initial + the single scheduled retry


def test_custom_schedule_fn_negative_delay_clamped(tmp_path):
    """A schedule returning a negative float must not blow up time.sleep
    mid-loop (which would lose the merged partial result): negative delays
    are clamped to 0 and the retry proceeds (r9 ADVICE)."""
    import time

    client = FakeFirehose(fail_record_times=1, spool_dir=str(tmp_path))
    policy = RetryPolicy(schedule_fn=lambda a: -1.5 if a < 5 else None)
    # real time.sleep: the clamp is what keeps this from raising ValueError
    resp = put_batch_with_retry(client, "s", recs(b"a", b"b"), policy, sleep=time.sleep)
    assert resp["FailedPutCount"] == 0
    assert resp["Attempts"] == 2
    assert sorted(read_spool(str(tmp_path), "s")) == [b"a", b"b"]


def test_custom_schedule_fn_recovers_partial_failures(tmp_path):
    """The schedule interacts correctly with shrink-to-failed: records that
    succeed on their second submission are delivered once, under a custom
    constant-delay schedule."""
    client = FakeFirehose(fail_record_times=1, spool_dir=str(tmp_path))
    policy = RetryPolicy(schedule_fn=lambda a: 0.0 if a < 5 else None)
    resp = put_batch_with_retry(
        client, "s", recs(b"a", b"b", b"c"), policy, sleep=lambda _: None
    )
    assert resp["FailedPutCount"] == 0
    assert resp["Attempts"] == 2
    assert sorted(read_spool(str(tmp_path), "s")) == [b"a", b"b", b"c"]
