"""Control-plane tests: the reference's own five test scenarios
(FirehoseTest.scala:58-106) minus LocalStack, plus tag/encryption coverage."""

from __future__ import annotations

import pytest

from fs2_kinesis_firehose_spark.firehose import admin
from fs2_kinesis_firehose_spark.firehose.client import FakeFirehose, read_spool
from fs2_kinesis_firehose_spark.firehose.settings import ProducerSettings


@pytest.fixture
def client():
    return FakeFirehose()


def test_put_single_record(client):
    # FirehoseTest.scala:58-68: single 20-byte record → nonempty RecordId
    admin.create_stream(client, "t")
    resp = client.put_record(DeliveryStreamName="t", Record={"Data": b"\x01" * 20})
    assert resp["RecordId"]


def test_batch_put_500x1000(tmp_path):
    # FirehoseTest.scala:70-78: 500 × 1000-byte records → failedPutCount == 0
    client = FakeFirehose(spool_dir=str(tmp_path))
    admin.create_stream(client, "t")
    records = [{"Data": bytes([i % 256]) * 1000} for i in range(500)]
    resp = client.put_record_batch(DeliveryStreamName="t", Records=records)
    assert resp["FailedPutCount"] == 0
    assert len(read_spool(str(tmp_path), "t")) == 500


def test_describe_non_existing_stream_is_none(client):
    # FirehoseTest.scala:80-85: 404 contract → None
    assert admin.describe_stream(client, "nope") is None


def test_describe_existing_stream(client):
    # FirehoseTest.scala:87-97
    with admin.delivery_stream(client, "exists"):
        desc = admin.describe_stream(client, "exists")
        assert desc is not None
        assert desc["DeliveryStreamDescription"]["DeliveryStreamName"] == "exists"


def test_list_streams_exactly_created(client):
    # FirehoseTest.scala:99-106
    with admin.delivery_stream(client, "only-one"):
        assert admin.list_streams(client) == ["only-one"]
    assert admin.list_streams(client) == []


def test_delete_non_existing_is_none(client):
    assert admin.delete_stream(client, "nope") is None


def test_delivery_stream_deletes_on_error(client):
    with pytest.raises(RuntimeError):
        with admin.delivery_stream(client, "tmp"):
            raise RuntimeError("boom")
    assert admin.describe_stream(client, "tmp") is None


def test_tags_roundtrip_and_404(client):
    with admin.delivery_stream(client, "t"):
        admin.tag_stream(client, "t", {"env": "test", "team": "data"})
        tags = admin.list_tags(client, "t")
        assert {t["Key"]: t["Value"] for t in tags} == {"env": "test", "team": "data"}
        admin.untag_stream(client, "t", ["env"])
        assert [t["Key"] for t in admin.list_tags(client, "t")] == ["team"]
    assert admin.list_tags(client, "t") is None
    assert admin.tag_stream(client, "t", {"a": "b"}) is None
    assert admin.untag_stream(client, "t", ["a"]) is None


def test_encryption_start_stop_and_404(client):
    with admin.delivery_stream(client, "t"):
        admin.start_encryption(client, "t")
        desc = admin.describe_stream(client, "t")["DeliveryStreamDescription"]
        assert desc["DeliveryStreamEncryptionConfiguration"]["Status"] == "ENABLED"
        admin.stop_encryption(client, "t")
        desc = admin.describe_stream(client, "t")["DeliveryStreamDescription"]
        assert desc["DeliveryStreamEncryptionConfiguration"]["Status"] == "DISABLED"
    assert admin.start_encryption(client, "t") is None
    assert admin.stop_encryption(client, "t") is None


def test_update_destination_and_404(client):
    with admin.delivery_stream(client, "t"):
        admin.update_destination(client, "t", DestinationId="d1", S3DestinationUpdate={})
        desc = admin.describe_stream(client, "t")["DeliveryStreamDescription"]
        assert desc["Destinations"][0]["DestinationId"] == "d1"
    assert admin.update_destination(client, "t", DestinationId="d1") is None


def test_producer_settings_require_batch_cap():
    # ProducerSettings.scala:61 hard require
    with pytest.raises(ValueError):
        ProducerSettings(stream_name="s", batch_size=501)
    with pytest.raises(ValueError):
        ProducerSettings(stream_name="s", batch_size=0)
    s = ProducerSettings(stream_name="s").with_batch_size(100).with_parallelism(4)
    assert s.batch_size == 100 and s.parallelism == 4
