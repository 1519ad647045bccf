"""Mergeable quantile sketch: KLL (Karnin, Lang & Liberty, FOCS 2016).

The quantiles companion to the Misra–Gries heavy hitters in
``operators/sketches.py``: doc-length / perplexity / latency distributions
over a 100 TB corpus without an exact percentile pass (which needs a global
sort or Spark's own ``percentile_approx`` whose internals are not
cross-engine checkable).  KLL keeps a hierarchy of "compactors": level ``h``
holds items of weight ``2^h``; when a level overflows its capacity
(``k·(2/3)^(depth-h)``, geometrically decaying toward the bottom), it is
sorted and every other item is promoted to level ``h+1`` with doubled
weight, the rest discarded.  Rank error concentrates in the low levels,
giving O(1/k) normalized rank error with O(k·log(n/k)) space.

DETERMINISTIC variant: the paper flips a fair coin for the odd/even
compaction offset; this implementation alternates the offset per level
(the classic derandomization — same alternation Manku-style summaries use)
so a given input in a given order yields a bit-identical sketch.  The
worst-case guarantee degrades from the randomized bound to the
deterministic compactor bound (error still O(log²(n/k)/k)); in exchange,
reruns reproduce exactly — the property every driver-checkable operator in
this repo trades for.  Determinism is per (data, partitioning, merge
order): ``kll_sketch`` merges partition summaries in partition-id order so
a fixed input layout always yields the same sketch.

Scale shape of ``kll_sketch``: ONE narrow Arrow pass builds a per-partition
sketch (O(k log(n_p/k)) state), each partition emits its levels as packed
float64 rows — metadata, a few KB — and the driver folds P summaries with
the mergeable-summaries merge (concatenate levels pairwise, re-compact).
No keyed shuffle, no sort, skew-irrelevant.  Total weight is conserved
exactly (odd levels retain their largest item instead of dropping it), so
``rank(+inf) == n`` always.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["KLLSketch", "kll_sketch"]

_CAP_DECAY = 2.0 / 3.0


class KLLSketch:
    """In-memory KLL summary over float64 values.  ``k`` trades space for
    accuracy (normalized rank error ≈ c/k).  Level ``h`` items carry weight
    ``2^h``; ``levels[h]`` is a plain python list (sorted lazily at
    compaction / query time)."""

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError(f"k must be >= 8, got {k}")
        self.k = k
        self.levels: list[list[float]] = [[]]
        self._parity: list[int] = [0]
        self.n = 0

    # -- capacity rule ------------------------------------------------------
    def _cap(self, h: int) -> int:
        depth = len(self.levels) - 1
        return max(int(math.ceil(self.k * (_CAP_DECAY ** (depth - h)))), 2)

    def _grow_to(self, h: int) -> None:
        while len(self.levels) <= h:
            self.levels.append([])
            self._parity.append(0)

    # -- updates ------------------------------------------------------------
    def update_many(self, values: np.ndarray) -> None:
        """Bulk insert (NaNs must be filtered by the caller).  Inserted in
        k-sized chunks so every compaction sorts O(k) items, keeping the
        per-item cost O(log k · log(n/k)) even for huge Arrow batches."""
        chunk = max(self.k, 64)
        for i in range(0, len(values), chunk):
            part = values[i : i + chunk]
            self.levels[0].extend(float(v) for v in part)
            self.n += len(part)
            self._compress()

    def merge(self, other: "KLLSketch") -> "KLLSketch":
        """Mergeable-summaries merge: concatenate levels pairwise, then
        re-compact.  Returns self (mutated)."""
        self._grow_to(len(other.levels) - 1)
        for h, items in enumerate(other.levels):
            self.levels[h].extend(items)
        self.n += other.n
        self._compress()
        return self

    def _compress(self) -> None:
        while sum(len(lv) for lv in self.levels) > sum(
            self._cap(h) for h in range(len(self.levels))
        ):
            for h in range(len(self.levels)):
                if len(self.levels[h]) > self._cap(h):
                    self._compact_level(h)
                    break
            else:
                break  # no level individually over capacity — stop

    def _compact_level(self, h: int) -> None:
        items = sorted(self.levels[h])
        m = len(items)
        even = m - (m % 2)
        # odd length: RETAIN the largest item at this level (weight is then
        # conserved exactly — rank(+inf) == n stays an invariant)
        keep = items[even:]
        offset = self._parity[h]
        self._parity[h] ^= 1
        promoted = items[offset:even:2]
        self.levels[h] = keep
        self._grow_to(h + 1)
        self.levels[h + 1].extend(promoted)

    # -- queries ------------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vals: list[float] = []
        wts: list[int] = []
        for h, items in enumerate(self.levels):
            vals.extend(items)
            wts.extend([1 << h] * len(items))
        if not vals:
            return np.array([]), np.array([])
        v = np.asarray(vals)
        w = np.asarray(wts, dtype=np.int64)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def rank(self, x: float) -> int:
        """Estimated number of inserted items <= x."""
        v, w = self._weighted()
        if len(v) == 0:
            return 0
        return int(w[v <= x].sum())

    def quantile(self, phi: float) -> float:
        """Estimated phi-quantile: smallest summary item whose cumulative
        weight reaches ``phi * n`` (phi in [0, 1])."""
        if not (0.0 <= phi <= 1.0):
            raise ValueError(f"phi must be in [0, 1], got {phi}")
        v, w = self._weighted()
        if len(v) == 0:
            raise ValueError("quantile of an empty sketch")
        target = phi * self.n
        cum = np.cumsum(w)
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(v[min(idx, len(v) - 1)])

    # -- (de)serialization for the Arrow boundary ---------------------------
    def level_rows(self) -> list[tuple[int, bytes]]:
        return [
            (h, np.asarray(sorted(items), dtype=np.float64).tobytes())
            for h, items in enumerate(self.levels)
        ]

    @classmethod
    def from_level_rows(
        cls, k: int, n: int, rows: Sequence[tuple[int, bytes]]
    ) -> "KLLSketch":
        sk = cls(k)
        for h, blob in rows:
            sk._grow_to(h)
            sk.levels[h].extend(np.frombuffer(blob, dtype=np.float64).tolist())
        sk.n = n
        sk._compress()
        return sk


def kll_sketch(df: DataFrame, col: str, *, k: int = 200) -> KLLSketch:
    """Distributed KLL build over a numeric column (NULLs ignored): one
    Arrow pass emits per-partition level rows (metadata — O(k log(n_p/k))
    float64s per partition); the driver folds them in partition-id order
    (deterministic for a fixed input layout)."""
    from pyspark import TaskContext

    def build(batches):
        sk = KLLSketch(k)
        n_before_compress = 0
        for pdf in batches:
            vals = pdf[col].to_numpy(dtype=np.float64)
            vals = vals[~np.isnan(vals)]
            n_before_compress += len(vals)
            sk.update_many(vals)
        if n_before_compress == 0:
            return
        pid = TaskContext.get().partitionId()
        rows = sk.level_rows()
        yield pd.DataFrame(
            {
                "pid": [pid] * len(rows),
                "n": [sk.n] * len(rows),
                "level": [h for h, _ in rows],
                "items": [b for _, b in rows],
            }
        )

    collected = (
        df.select(F.col(col).cast("double").alias(col))
        .where(F.col(col).isNotNull())
        .mapInPandas(build, "pid int, n long, level int, items binary")
        .collect()
    )
    by_pid: dict[int, dict] = {}
    for r in collected:
        part = by_pid.setdefault(r["pid"], {"n": r["n"], "rows": []})
        part["rows"].append((r["level"], r["items"]))
    out = KLLSketch(k)
    for pid in sorted(by_pid):
        part = by_pid[pid]
        out.merge(KLLSketch.from_level_rows(k, part["n"], part["rows"]))
    return out

