#!/usr/bin/env python
"""Round-10 one-off cost audit (r9 verdict ask #8), recorded in
PLANS.md.  Run on a QUIET box: `PYTHONPATH=. python scripts/audit_r10.py
[sf_dir]` (default /tmp/sf1 — the 10x diagnostic replica).

Audit B — streaming_upsert_accounting join-vs-write split: per batch,
times the MERGE compute (count() of the upsert output — join only, no
write) separately from the parquet write+read chain, converting the
PLANS.md write-amplification claim into measurement.
"""
from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.session import get_spark
from fs2_kinesis_firehose_spark.tables import load_table

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"


def audit_upsert(spark):
    from fs2_kinesis_firehose_spark.operators.upsert import upsert_snapshot
    from fs2_kinesis_firehose_spark.streaming import replay_parquet

    root = Path(tempfile.gettempdir()) / "fs2spark-audit-upsert"
    if root.exists():
        shutil.rmtree(root)
    staging, snaps = str(root / "staging"), root / "snaps"
    snaps.mkdir(parents=True)
    base = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    current: dict = {"path": None}
    stats: list[tuple[int, float, float]] = []

    def apply_batch(df, batch_id):
        key = F.col("o_orderkey")
        upd = df.where(key % 10 == 3).select(
            key.alias("o_orderkey"),
            (F.col("o_totalprice") + F.lit(7.77)).alias("o_totalprice"),
            F.lit(False).alias("is_delete"),
        )
        dele = df.where(key % 100 == 55).select(
            "o_orderkey", "o_totalprice", F.lit(True).alias("is_delete")
        )
        ins = df.where(key % 100 == 7).select(
            (-key).alias("o_orderkey"), F.col("o_totalprice"),
            F.lit(False).alias("is_delete"),
        )
        changes = upd.unionByName(dele).unionByName(ins)
        snap = base if current["path"] is None else df.sparkSession.read.parquet(current["path"])
        out = upsert_snapshot(snap, changes, "o_orderkey", delete_col="is_delete")
        t0 = time.monotonic()
        out.count()  # MERGE compute only (join + union), no write
        t_join = time.monotonic() - t0
        dst = str(snaps / f"v{batch_id}")
        t0 = time.monotonic()
        out.write.mode("overwrite").parquet(dst)
        t_write = time.monotonic() - t0
        stats.append((batch_id, round(t_join, 2), round(t_write, 2)))
        current["path"] = dst

    stream = replay_parquet(
        spark, SF, "orders", copies=3, staging_dir=staging, max_files_per_trigger=1
    ).select("o_orderkey", "o_totalprice")
    q = stream.writeStream.foreachBatch(apply_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    print("AUDIT_B per-batch (batch_id, join_count_s, write_s):", stats)


if __name__ == "__main__":
    spark = get_spark("audit-r10", shuffle_partitions=32)
    audit_upsert(spark)
