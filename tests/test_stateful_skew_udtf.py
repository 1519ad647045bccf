"""Tests: applyInPandasWithState accumulation, salted join equivalence,
UDTF expansion, ANN index partition pruning."""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    random_hyperplane_lsh,
)
from fs2_kinesis_firehose_spark.operators.skew import salted_join
from fs2_kinesis_firehose_spark.operators.udtf_ops import NgramExploder, register_udtfs
from fs2_kinesis_firehose_spark.plans import explain_str
from fs2_kinesis_firehose_spark.streaming.replay import run_to_memory
from fs2_kinesis_firehose_spark.streaming.stateful import running_user_stats
from fs2_kinesis_firehose_spark.tables import load_table


def test_stateful_accumulates_across_batches(spark, tmp_path):
    """Two micro-batches; per-user state must carry over (update mode emits a
    row per batch, the LAST one holds the cumulative totals)."""
    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1)
    rows1 = [(1, t0, 7, "click", 10.0), (2, t0, 7, "click", 5.0)]
    rows2 = [(3, t0, 7, "click", 2.5)]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_to_memory(running_user_stats(stream), output_mode="update")
    per_batch = [
        (r.n_events, r.total_value) for r in out.orderBy("n_events").collect()
    ]
    assert per_batch == [(2, 15.0), (3, 17.5)]  # cumulative, not per-batch


def test_salted_join_equals_plain_join(spark, sf_smoke):
    l = load_table(spark, sf_smoke, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    o = load_table(spark, sf_smoke, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    plain = l.join(o, "orderkey").count()
    salted = salted_join(l, o, "orderkey", salt_factor=4).count()
    assert salted == plain


def test_salted_join_rejects_right_and_full_outer(spark):
    import pytest

    l = spark.createDataFrame([(1, "a")], "k long, v string")
    r = spark.createDataFrame([(1, 10)], "k long, w long")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(l, r, "k", salt_factor=4, how=how)


def test_salted_join_left_outer_preserves_unmatched(spark):
    l = spark.createDataFrame([(1, "a"), (99, "z")], "k long, v string")
    r = spark.createDataFrame([(1, "x")], "k long, w string")
    out = salted_join(l, r, "k", salt_factor=4, how="left")
    rows = {(row.k, row.w) for row in out.collect()}
    assert rows == {(1, "x"), (99, None)}


def test_udtf_direct_and_lateral(spark):
    register_udtfs(spark)
    rows = NgramExploder.func().eval("a b c", 2)
    assert list(rows) == [("a b", 0, 2), ("b c", 1, 2)]
    spark.createDataFrame([("a b c",)], "text string").createOrReplaceTempView("t3")
    got = spark.sql(
        "SELECT g.ngram FROM t3, LATERAL ngrams(t3.text, 2) g ORDER BY g.start_pos"
    ).collect()
    assert [r.ngram for r in got] == ["a b", "b c"]


def test_ann_index_partition_pruning(spark, sf_smoke, tmp_path):
    emb = load_table(spark, sf_smoke, "embeddings")
    path = str(tmp_path / "annidx")
    # the on-disk index: the corpus written partitioned by its LSH bucket
    random_hyperplane_lsh(emb, 64, n_planes=6).write.partitionBy("bucket").parquet(path)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    topk = ann_topk(
        spark.read.parquet(path), qv, 64, k=5, n_planes=6, multiprobe_hamming=2
    )
    got = [r.vec_id for r in topk.collect()]
    assert got[0] == 0 and len(got) == 5
    # the bucket IN-filter must prune partitions at the scan
    plan = explain_str(topk, mode="formatted")
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:200]
    # pruned candidate set really is a subset of the corpus
    exact = [r.vec_id for r in brute_force_topk(emb, qv, k=5).collect()]
    assert got[0] == exact[0] == 0
