"""Skew-mitigation join (SURVEY.md "salting for skew").

AQE's skew-join splitting handles most cases at runtime; explicit salting is
for the pathological hot-key join AQE can't fix (e.g. a null-heavy or
power-law foreign key joining a table too big to broadcast).

``salted_join``: replicate each right-side row ``salt_factor`` times with a
salt column; salt the left side with a *random-but-deterministic* salt
(hash-derived, so retries/replays pick the same salt); join on
(key, salt) — each hot key's rows spread over ``salt_factor`` reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``key`` with the hot-key shuffle spread over
    ``salt_factor`` partitions per key.

    The left salt is a hash of all left columns — deterministic, so the
    same row always lands on the same reducer (idempotent under task
    retry, unlike rand()-based salting).

    ``how`` is restricted to inner/left/left_semi: the right side is
    replicated ``salt_factor`` times, so right/full-outer would surface each
    unmatched right row ``salt_factor`` times.
    """
    if how not in {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi"}:
        raise ValueError(
            f"salted_join supports inner/left/left_semi joins only (right rows are "
            f"replicated {salt_factor}x, breaking right/full-outer semantics); got {how!r}"
        )
    salt_src = F.xxhash64(*[F.col(c) for c in left.columns])
    lsalted = left.withColumn("_salt", F.pmod(salt_src, F.lit(salt_factor)).cast("int"))
    rsalted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1)))
    )
    out = lsalted.join(rsalted, [key, "_salt"], how)
    return out.drop("_salt")
