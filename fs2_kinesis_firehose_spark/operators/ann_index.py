"""Persisted ANN index: LSH-bucketed parquet with partition pruning.

The scale path for similarity search (SURVEY.md Tier C): write the corpus
``partitionBy(bucket)``; queries read only the probed buckets' partitions —
the scan is pruned at the *file listing* level, so a top-k probe over a
100 TB corpus touches ~(multiprobe buckets / 2^n_planes) of the data instead
of scanning it all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fs2_kinesis_firehose_spark.operators.similarity import (
    brute_force_topk,
    lsh_probe_buckets,
    random_hyperplane_lsh,
)


def write_ann_index(
    df: DataFrame,
    path: str,
    *,
    dim: int,
    n_planes: int = 6,
    vec_col: str = "embedding",
) -> None:
    """Bucket by sign-LSH and write partitioned parquet (the on-disk index)."""
    bucketed = random_hyperplane_lsh(df, dim, n_planes=n_planes, vec_col=vec_col)
    bucketed.write.partitionBy("bucket").mode("overwrite").parquet(path)


def ann_index_topk(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    *,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """Top-k against the persisted index: the bucket IN-filter becomes a
    partition filter → only probed directories (the query's bucket and
    every bucket within two bit flips) are listed/read."""
    probes = lsh_probe_buckets(query_vec, dim, n_planes, 2)
    index = spark.read.parquet(path)
    candidates = index.filter(index["bucket"].isin(*probes))
    return brute_force_topk(candidates, query_vec, k, vec_col, key_col)
