"""Source-format coverage: CSV, JSON-lines, and ORC read paths verified
through the driver gate as LOSSLESS ROUNDTRIPS.

Parquet is the repo's canonical storage, but every real ingest surface also
lands CSV and JSON-lines drops (API exports, crawler shards, vendor feeds).
The 100-TB discipline for text sources is encoded here and pinned by the
oracle: EXPLICIT schemas (schema inference is a full extra scan of the
data — never pay it on a large read), explicit timestamp formats (silent
cross-format parse drift is a correctness bug, not a style choice), and
gzip for the JSON drop (text without compression is ~4x the bytes).

The roundtrip query proves value fidelity per format: every typed column
(bigint, double, timestamp, string) flows parquet → text → DataFrame and
the aggregates — exact cents, timestamp extremes, an md5 hash-sum over the
string columns — must equal what the oracle computes straight from parquet.
A quoting, precision, or timezone bug in either text path breaks the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table, scratch_dir

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

_ROUNDTRIP_ARM = """
    SELECT '{fmt}' AS fmt,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order,
           CAST(SUM(CAST(CONCAT('0x',
                SUBSTRING(md5(o_orderstatus || '|' || o_orderpriority), 1, 8))
                AS BIGINT)) AS BIGINT) AS string_hash_sum
    FROM orders
"""


@query(
    "text_format_roundtrip_counts",
    oracle=" UNION ALL ".join(
        _ROUNDTRIP_ARM.format(fmt=f) for f in ("csv", "json", "orc")
    ),
)
def text_format_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders written to CSV (header + explicit timestamp format), gzipped
    JSON-lines, and ORC, read back with EXPLICIT schemas, and aggregated —
    one row per format, each of which the oracle restates from the parquet
    original.  EAGER by necessity (like zorder_pruning_stats): the read
    needs the text files written; output directories are deterministic per
    sf_dir under one managed tmp root, wiped per invocation."""
    root = scratch_dir("fs2spark-format", "orders-{h}", sf_dir)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    )
    schema = orders.schema  # the explicit-read schema: no inference scan

    (
        orders.write.option("header", True)
        .option("timestampFormat", _TS_FMT)
        .mode("overwrite").csv(str(root / "csv"))
    )
    (
        orders.write.option("compression", "gzip")
        .mode("overwrite").json(str(root / "json"))
    )
    # the other columnar format large deployments interop with (Hive/Trino
    # estates are often ORC-native); typed end-to-end, no text parse at all
    orders.write.mode("overwrite").orc(str(root / "orc"))

    csv_back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampFormat", _TS_FMT)
        .csv(str(root / "csv"))
    )
    json_back = spark.read.schema(schema).json(str(root / "json"))
    orc_back = spark.read.schema(schema).orc(str(root / "orc"))

    def arm(df: DataFrame, fmt: str) -> DataFrame:
        status = F.concat(F.col("o_orderstatus"), F.lit("|"), F.col("o_orderpriority"))
        str_hash = T.md5_int(status, 8).cast("long")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("o_orderkey").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.sum(str_hash).cast("long").alias("string_hash_sum"),
        ).select(F.lit(fmt).alias("fmt"), "*")

    return (
        arm(csv_back, "csv")
        .unionByName(arm(json_back, "json"))
        .unionByName(arm(orc_back, "orc"))
    )
