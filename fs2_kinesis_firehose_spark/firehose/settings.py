"""Producer configuration.

Mirrors the reference's ``ProducerSettings`` (ProducerSettings.scala:25-85):
batch size (hard-capped at 500, the AWS PutRecordBatch limit —
ProducerSettings.scala:61), flush time window (default 5 s,
ProducerSettings.scala:81), bounded put parallelism (default 1,
ProducerSettings.scala:80), separator framing (default b"\\n",
ProducerSettings.scala:29-30), and the retry policy (exponential backoff from
500 ms, max 6 retries — ProducerSettings.scala:82).  "No retry" is
``RetryPolicy(max_retries=0)``.  The AWS byte quotas (``MAX_BATCH_BYTES``,
``MAX_RECORD_BYTES``) are fixed, not settings: the sink's slicer enforces
them on every request.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable

MAX_BATCH_SIZE = 500  # AWS PutRecordBatch hard limit; ProducerSettings.scala:61
MAX_BATCH_BYTES = 4 * 1024 * 1024  # 4 MiB per PutRecordBatch call (AWS quota)
MAX_RECORD_BYTES = 1_000 * 1024  # 1,000 KiB per record (AWS quota)


@dataclass(frozen=True)
class RetryPolicy:
    """Retry schedule for a PutRecordBatch call.

    Default: exponential backoff — sleep ``base_backoff_s * 2**attempt``
    between attempts, at most ``max_retries`` retries (defaults match
    ProducerSettings.scala:82: 500 ms base, 6 retries).

    ``schedule_fn`` closes the composability gap vs the reference's
    cats-retry ``RetryPolicy`` (ProducerSettings.scala:41-42, which accepts
    ANY policy — ``join``/``meet`` composition, jitter, follow-based caps):
    when set, ``schedule_fn(attempt)`` alone decides the delay before retry
    #``attempt`` (0-based), and returning ``None`` means give up — exactly
    cats-retry's ``DelayAndRetry``/``GiveUp`` decision shape, so any custom
    schedule ports as one function instead of a fork of the sink loop.
    ``max_retries``/``base_backoff_s`` are ignored while ``schedule_fn``
    is set."""

    max_retries: int = 6
    base_backoff_s: float = 0.5
    schedule_fn: Callable[[int], float | None] | None = None

    def backoff_s(self, attempt: int) -> float:
        return self.base_backoff_s * (2**attempt)

    def delay_s(self, attempt: int) -> float | None:
        """Delay before retry #``attempt`` (0-based), or ``None`` to stop
        retrying — the single decision point ``put_batch_with_retry``
        consults (cats-retry's ``PolicyDecision`` shape)."""
        if self.schedule_fn is not None:
            return self.schedule_fn(attempt)
        if attempt >= self.max_retries:
            return None
        return self.backoff_s(attempt)


@dataclass(frozen=True)
class ProducerSettings:
    stream_name: str
    batch_size: int = MAX_BATCH_SIZE
    time_window_s: float = 5.0
    parallelism: int = 1
    separator: bytes = b"\n"
    retry: RetryPolicy = RetryPolicy()

    def __post_init__(self) -> None:
        if not (0 < self.batch_size <= MAX_BATCH_SIZE):
            raise ValueError(
                f"batch_size must be in (0, {MAX_BATCH_SIZE}], got {self.batch_size}"
            )
        if self.parallelism < 1:
            raise ValueError(f"parallelism must be >= 1, got {self.parallelism}")
        if self.time_window_s <= 0:
            raise ValueError(f"time_window_s must be > 0, got {self.time_window_s}")

    # with* builders mirroring ProducerSettings.scala:27-42
    def with_batch_size(self, n: int) -> "ProducerSettings":
        return replace(self, batch_size=n)

    def with_time_window(self, seconds: float) -> "ProducerSettings":
        return replace(self, time_window_s=seconds)

    def with_parallelism(self, n: int) -> "ProducerSettings":
        return replace(self, parallelism=n)

    def with_separator(self, sep: bytes) -> "ProducerSettings":
        return replace(self, separator=sep)

    def with_retry(self, policy: RetryPolicy) -> "ProducerSettings":
        return replace(self, retry=policy)
