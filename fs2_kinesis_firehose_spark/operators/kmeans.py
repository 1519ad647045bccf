"""Distributed k-means (Lloyd's algorithm), fixed-iteration.

The clustering primitive the curation stack keeps reaching for —
`ivf_train_centroids` (similarity.py) runs Lloyd on a driver-side SAMPLE;
SemDeDup blocks on fixed seeded cells.  This operator is the full
DISTRIBUTED training loop: the corpus never leaves the cluster.

Per iteration:

- **assignment** — argmin over the comparable distance ``|c|² − 2·(v·c)``
  (same rule, same first-min tie-break as ``ivf_assign``); executed as one
  numpy GEMM per Arrow batch (``ivf_assign_blas``) on the hot path, with the
  HOF Column-expression form (``assign_clusters``) as the oracle-exact
  reference — the established dual from operators/similarity.py, where
  fixture-exact agreement between the two is pytest-asserted.
- **update** — per-(cluster, dim) mean via ``posexplode`` + ONE hash
  aggregate; only the k×dim centroid table (metadata, not data) is collected
  and re-broadcast, the same boundedness argument as BPE's vocab-capped
  collect.  Means are rounded to ``round_to`` decimals so the next
  iteration's assignment literals are identical across engines (summation-
  order ulps quantized away) — this is what makes the whole training loop
  restatable as unrolled SQL CTEs for the correctness oracle.

Empty clusters keep their previous centroid (standard Lloyd fallback),
mirrored by a COALESCE in the oracle.  Fixed iteration count (not a
convergence test) keeps the result deterministic.

At 100 TB: each iteration is one narrow mapInPandas pass + one shuffle on
(cluster, dim) — k·dim cells regardless of corpus size; no driver-side data.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators.similarity import (
    _centroid_dist_exprs,
    ivf_assign_blas,
)

__all__ = ["kmeans_lloyd", "assign_clusters"]


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Append ``cluster`` = argmin-distance centroid (first-min tie-break) —
    the oracle-exact HOF form; ``kmeans_lloyd`` trains on the BLAS path."""
    dists = F.array(
        *_centroid_dist_exprs(vec_col, np.asarray(centroids, dtype=np.float64))
    )
    return df.withColumn(
        "cluster", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    )


def _assign_blas(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    out = ivf_assign_blas(df, np.asarray(centroids, dtype=np.float64), vec_col)
    return out.withColumnRenamed("ivf_cell", "cluster")


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    *,
    k: int = 8,
    iterations: int = 3,
    round_to: int = 9,
) -> list[list[float]]:
    """Train centroids; returns the k×dim centroid list (metadata).

    Deterministic init: the embeddings of the ``k`` smallest ``key_col``
    values, cluster ``i`` = i-th smallest key (Forgy with a deterministic
    choice — restatable as ``ROW_NUMBER() OVER (ORDER BY key) <= k``).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    init = df.orderBy(key_col).limit(k).select(vec_col).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} rows, got {len(init)}")
    centroids = [[float(x) for x in r[0]] for r in init]
    dim = len(centroids[0])
    for _ in range(iterations):
        assigned = _assign_blas(df, centroids, vec_col)
        means = (
            assigned.select(
                "cluster", F.posexplode(F.col(vec_col)).alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("val"), round_to).alias("m"))
            .collect()  # bounded: k*dim rows (centroids are metadata)
        )
        new: dict[int, dict[int, float]] = {}
        for r in means:
            new.setdefault(r["cluster"], {})[r["dim"]] = float(r["m"])
        centroids = [
            [new[c][d] for d in range(dim)] if c in new else centroids[c]
            for c in range(k)
        ]
    return centroids
