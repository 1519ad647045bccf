"""Seeded input generators.  The program under test sees only what these
write; the same seed always gives the same bytes.

- ``write_records``: the delivery records of FIXTURES.md family A
  (``record_id``, a 20-1000 B binary ``payload``, ``ts``) plus a fixed-width
  repetition ``nonce``, so no payload repeats across repetitions.
- ``write_events``: an ``events`` table in the driver fixture's schema
  and value ranges (FIXTURES.md family B).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_DAY_US = 86_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _write_split(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` part files under directory ``path`` so
    Spark reads it as that many input partitions."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def write_records(path: str, n: int, seed: int, rep: int, files: int = 8) -> None:
    rng = _rng(seed, 1, rep)
    sizes = rng.integers(20, 1001, n)
    blob = rng.integers(0, 256, int(sizes.sum()), dtype=np.uint8).tobytes()
    offsets = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64)
    payload = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(blob)]
    ).cast(pa.binary())
    ts = _EPOCH_2024_US + np.sort(rng.integers(0, _DAY_US, n))
    table = pa.table(
        {
            "record_id": pa.array(np.arange(n, dtype=np.int64)),
            "nonce": pa.array([f"{rep:08d}"] * n),
            "payload": payload,
            "ts": pa.array(ts, pa.timestamp("us")),
        }
    )
    _write_split(table, path, files)


def events_table(n: int, seed: int, n_users: int, id_base: int = 0) -> pa.Table:
    rng = _rng(seed, 2)
    ts = _EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n)
    value = np.round(np.minimum(rng.exponential(60.0, n), 490.0) + 0.01, 2)
    return pa.table(
        {
            "event_id": pa.array(id_base + np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_events(path: str, n: int, seed: int, rep: int) -> None:
    """One parquet file of events whose ids start at a per-repetition base
    (the layout of the driver fixture's ``events.parquet``)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(events_table(n, seed, max(1, n // 60), id_base=rep * 1_000_000_000), path)
