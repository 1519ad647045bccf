"""Firehose client abstraction: boto3-shaped duck type + a failure-injecting
fake.

The reference wraps the AWS SDK client behind an algebra (Firehose.scala:28-63)
and manages its lifecycle as a Resource (Firehose.scala:143-151).  Here the
contract is simply "anything boto3-firehose-shaped"; executors build their own
client via a picklable zero-arg factory (per-executor singleton — the analog of
the reference's client Resource, SURVEY.md §2 A22).

``FakeFirehose`` is the test double the reference lacks (SURVEY.md §5
"notably untested"): it injects per-record partial failures and whole-call
faults deterministically, and can spool delivered records to a directory so
Spark executor processes and the driver-side test can share observations.

This module owns the spool format: ``FakeFirehose._spool`` is its one
writer and ``spool_frames`` its one parser, shared by ``read_spool`` and
the ``kinesis_spool`` source (sources/kinesis_spool_source.py).
"""

from __future__ import annotations

import os
import threading
import uuid
from collections import defaultdict
from typing import Any, BinaryIO, Callable, Iterator

ClientFactory = Callable[[], Any]


class ResourceNotFoundError(Exception):
    """Engine-level analog of AWS ResourceNotFoundException."""


def is_resource_not_found(exc: BaseException) -> bool:
    """True for our fake's error AND botocore's ClientError with the matching
    code (the reference matches on the SDK exception type, ErrorUtils.scala:28)."""
    if isinstance(exc, ResourceNotFoundError):
        return True
    response = getattr(exc, "response", None)
    if isinstance(response, dict):
        return response.get("Error", {}).get("Code") == "ResourceNotFoundException"
    return exc.__class__.__name__ == "ResourceNotFoundException"


def boto3_client_factory(region_name: str | None = None, **kwargs: Any) -> ClientFactory:
    """Factory for the real AWS client (import gated: boto3 is optional).

    Returns a class instance (not a closure) exposing ``kwargs`` so the
    per-executor client cache can key on stable configuration rather than
    object identity (closures unpickle to fresh objects per task and id()
    can alias after GC)."""
    return _Boto3Factory({"region_name": region_name, **kwargs})


class _Boto3Factory:
    def __init__(self, kwargs: dict[str, Any]) -> None:
        self.kwargs = kwargs

    def __call__(self) -> Any:
        try:
            import boto3  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - boto3 absent in CI
            raise RuntimeError(
                "boto3 is not installed; use FakeFirehose for local runs"
            ) from e
        return boto3.client("firehose", **self.kwargs)


class FakeFirehose:
    """boto3-firehose-shaped fake with deterministic fault injection.

    Failure injection:
    - ``fail_record_times``: a record payload fails (RecordId omitted in the
      response entry) the first N times it is submitted — exercises the
      shrink-to-failed retry path (Firehose.scala:86-97 semantics).
    - ``raise_call_times``: the first N ``put_record_batch`` calls raise —
      exercises the whole-call retry path (Firehose.scala:99-103).
    - ``record_should_fail``: arbitrary predicate ``(payload, attempt) -> bool``.

    ``spool_dir`` persists each successful record as a length-prefixed frame
    in a per-stream spool file, the fake's one record of delivery, so it is
    observable across process boundaries (Spark executors run in separate
    Python workers); ``read_spool`` reads it back.
    """

    def __init__(
        self,
        *,
        fail_record_times: int = 0,
        raise_call_times: int = 0,
        record_should_fail: Callable[[bytes, int], bool] | None = None,
        spool_dir: str | None = None,
    ) -> None:
        self._lock = threading.Lock()
        self.streams: dict[str, dict[str, Any]] = {}
        self.put_batch_calls = 0
        # per-payload submission counts, kept only when a fault needs them:
        # an executor-cached fault-free client would otherwise hold every
        # payload it ever accepted
        self._record_attempts: dict[bytes, int] | None = (
            defaultdict(int) if fail_record_times > 0 or record_should_fail else None
        )
        self._fail_record_times = fail_record_times
        self._raise_call_times = raise_call_times
        self._record_should_fail = record_should_fail
        self._spool_dir = spool_dir
        if spool_dir:
            os.makedirs(spool_dir, exist_ok=True)

    # -- helpers ------------------------------------------------------------
    def _require_stream(self, name: str) -> dict[str, Any]:
        if name not in self.streams:
            raise ResourceNotFoundError(f"delivery stream not found: {name}")
        return self.streams[name]

    def _spool(self, stream: str, payloads: list[bytes]) -> None:
        """Append ``payloads`` to the stream's spool in one open and one
        write, before the call that delivered them returns.  Executors cache
        the client across queries, so the spool dir may have been wiped
        since ``__init__``; it is recreated then."""
        if self._spool_dir and payloads:
            path = os.path.join(self._spool_dir, f"{stream}.spool")
            frames = b"".join(len(p).to_bytes(4, "big") + p for p in payloads)
            try:
                f = open(path, "ab")
            except FileNotFoundError:
                os.makedirs(self._spool_dir, exist_ok=True)
                f = open(path, "ab")
            with f:
                f.write(frames)

    def _record_fails(self, payload: bytes) -> bool:
        if self._record_attempts is None:
            return False
        attempt = self._record_attempts[payload]
        self._record_attempts[payload] += 1
        if self._record_should_fail is not None:
            return self._record_should_fail(payload, attempt)
        return attempt < self._fail_record_times

    # -- data plane (boto3 shape) --------------------------------------------
    def put_record(self, DeliveryStreamName: str, Record: dict[str, bytes]) -> dict[str, Any]:
        with self._lock:
            self._spool(DeliveryStreamName, [bytes(Record["Data"])])
            return {"RecordId": uuid.uuid4().hex, "Encrypted": False}

    def put_record_batch(
        self, DeliveryStreamName: str, Records: list[dict[str, bytes]]
    ) -> dict[str, Any]:
        with self._lock:
            if len(Records) > 500:
                raise ValueError("PutRecordBatch accepts at most 500 records")
            self.put_batch_calls += 1
            if self.put_batch_calls <= self._raise_call_times:
                raise ConnectionError("injected transport failure")
            responses: list[dict[str, Any]] = []
            ok: list[bytes] = []
            for rec in Records:
                payload = bytes(rec["Data"])
                if self._record_fails(payload):
                    responses.append(
                        {"ErrorCode": "ServiceUnavailableException", "ErrorMessage": "injected"}
                    )
                else:
                    ok.append(payload)
                    responses.append({"RecordId": uuid.uuid4().hex})
            self._spool(DeliveryStreamName, ok)
            return {"FailedPutCount": len(Records) - len(ok), "RequestResponses": responses}

    # -- control plane (boto3 shape; 404 contract per Firehose.scala:36-56) ---
    def create_delivery_stream(self, **kwargs: Any) -> dict[str, Any]:
        with self._lock:
            name = kwargs["DeliveryStreamName"]
            self.streams[name] = {
                "DeliveryStreamName": name,
                "DeliveryStreamType": kwargs.get("DeliveryStreamType", "DirectPut"),
                "DeliveryStreamStatus": "ACTIVE",
                "DeliveryStreamEncryptionConfiguration": {"Status": "DISABLED"},
                "Tags": {},
                "Destinations": [kwargs.get("ExtendedS3DestinationConfiguration", {})],
            }
            return {"DeliveryStreamARN": f"arn:aws:firehose:local::deliverystream/{name}"}

    def delete_delivery_stream(self, DeliveryStreamName: str, **_: Any) -> dict[str, Any]:
        with self._lock:
            self._require_stream(DeliveryStreamName)
            del self.streams[DeliveryStreamName]
            return {}

    def describe_delivery_stream(self, DeliveryStreamName: str, **_: Any) -> dict[str, Any]:
        with self._lock:
            return {"DeliveryStreamDescription": dict(self._require_stream(DeliveryStreamName))}

    def list_delivery_streams(self, **_: Any) -> dict[str, Any]:
        with self._lock:
            return {
                "DeliveryStreamNames": sorted(self.streams),
                "HasMoreDeliveryStreams": False,
            }

    def list_tags_for_delivery_stream(self, DeliveryStreamName: str, **_: Any) -> dict[str, Any]:
        with self._lock:
            stream = self._require_stream(DeliveryStreamName)
            tags = [{"Key": k, "Value": v} for k, v in sorted(stream["Tags"].items())]
            return {"Tags": tags, "HasMoreTags": False}

    def tag_delivery_stream(
        self, DeliveryStreamName: str, Tags: list[dict[str, str]], **_: Any
    ) -> dict[str, Any]:
        with self._lock:
            stream = self._require_stream(DeliveryStreamName)
            for t in Tags:
                stream["Tags"][t["Key"]] = t.get("Value", "")
            return {}

    def untag_delivery_stream(
        self, DeliveryStreamName: str, TagKeys: list[str], **_: Any
    ) -> dict[str, Any]:
        with self._lock:
            stream = self._require_stream(DeliveryStreamName)
            for k in TagKeys:
                stream["Tags"].pop(k, None)
            return {}

    def start_delivery_stream_encryption(self, DeliveryStreamName: str, **_: Any) -> dict[str, Any]:
        with self._lock:
            stream = self._require_stream(DeliveryStreamName)
            stream["DeliveryStreamEncryptionConfiguration"] = {"Status": "ENABLED"}
            return {}

    def stop_delivery_stream_encryption(self, DeliveryStreamName: str, **_: Any) -> dict[str, Any]:
        with self._lock:
            stream = self._require_stream(DeliveryStreamName)
            stream["DeliveryStreamEncryptionConfiguration"] = {"Status": "DISABLED"}
            return {}

    def update_destination(self, DeliveryStreamName: str, **kwargs: Any) -> dict[str, Any]:
        with self._lock:
            stream = self._require_stream(DeliveryStreamName)
            stream["Destinations"] = [kwargs]
            return {}


def spool_frames(
    f: BinaryIO, start: int = 0, end: int | None = None
) -> Iterator[tuple[int, int]]:
    """Walk the whole frames of the open spool file ``f`` in ``[start, end)``
    and yield each one's ``(offset, length)``: the byte offset of its 4-byte
    big-endian length header and the length of its payload.  ``end``
    defaults to, and is capped at, the file's size; ``start`` must be a
    frame boundary.

    Each yield leaves ``f`` just past the frame's header, so a reader takes
    the payload with ``f.read(length)``, one record at a time; a walk that
    only plans offsets reads headers and seeks past payloads.  A short
    header or a frame running past ``end`` (a producer's half-written
    append) stops the walk."""
    size = os.fstat(f.fileno()).st_size
    end = size if end is None else min(end, size)
    pos = start
    while pos + 4 <= end:
        f.seek(pos)
        n = int.from_bytes(f.read(4), "big")
        if pos + 4 + n > end:
            return
        yield pos, n
        pos += 4 + n


def read_spool(spool_dir: str, stream: str) -> list[bytes]:
    """Read back the whole records FakeFirehose spooled for ``stream``."""
    path = os.path.join(spool_dir, f"{stream}.spool")
    if not os.path.exists(path):
        return []
    with open(path, "rb") as f:
        return [f.read(n) for _, n in spool_frames(f)]


def fake_client_factory(**kwargs: Any) -> ClientFactory:
    """Picklable factory: each executor builds its own FakeFirehose (state is
    per-process; use ``spool_dir`` for cross-process observation)."""
    return _FakeFactory(kwargs)


class _FakeFactory:
    def __init__(self, kwargs: dict[str, Any]) -> None:
        self.kwargs = kwargs

    def __call__(self) -> FakeFirehose:
        return FakeFirehose(**self.kwargs)
