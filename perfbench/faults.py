"""Fault injection for ``FakeFirehose(record_should_fail=...)``.

The predicate lives at module level so cloudpickle sends it by reference:
every executor resolves the same function object, and the sink's
per-executor client cache keys it stably.  A by-value pickled closure would
carry a fresh function address into the cache key on every job.

Which records fail is decided by the payload bytes alone, so the share is
fixed by the seeded inputs: about one record in ``FAIL_MODULUS`` fails its
first attempt and succeeds on the retry.
"""

from __future__ import annotations

import zlib

FAIL_MODULUS = 10


def fails_first_attempt(payload: bytes) -> bool:
    return zlib.crc32(payload) % FAIL_MODULUS == 0


def fail_first_attempt(payload: bytes, attempt: int) -> bool:
    """``record_should_fail`` predicate: fail attempt 0 of the chosen records."""
    return attempt == 0 and fails_first_attempt(payload)
