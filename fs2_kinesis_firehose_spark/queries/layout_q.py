"""File-layout queries: Z-order clustering verified through the driver gate.

The pruning outcome of a clustered layout is normally an emergent physical
property (which files a min/max reader skips).  ``zorder_write_bucketed``
makes the row→file mapping a pure function of the data (fixed Z-grid
buckets), so a SQL oracle can recompute the exact per-file statistics and
the exact pruning decision from the raw table — turning "does Z-order prune?"
into a hash-checkable correctness row rather than a pytest-only measurement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators.layout import (
    file_stats,
    zorder_write_bucketed,
)
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table, scratch_dir

# 2-D query box over events(user_id, value) — selective on both clustered
# dimensions, which is exactly the workload Z-order exists for (a 1-D sort
# would prune on one dimension only).
_BOX = {"user_id": (20.0, 50.0), "value": (50.0, 150.0)}


def _grid_ctes(top: int) -> str:
    """``b``: the min/max of events(user_id, value); ``g``: every event's
    cell (ug, vg) on the [0, top] min-max grid, with layout.py's scaling
    and clamps."""
    return f"""b AS (
        SELECT MIN(CAST(user_id AS DOUBLE)) AS lo_u, MAX(CAST(user_id AS DOUBLE)) AS hi_u,
               MIN(CAST(value   AS DOUBLE)) AS lo_v, MAX(CAST(value   AS DOUBLE)) AS hi_v
        FROM events
    ),
    g AS (
        SELECT event_id, user_id, value,
               CASE WHEN hi_u > lo_u THEN LEAST({top}, GREATEST(0,
                    CAST(FLOOR((CAST(user_id AS DOUBLE) - lo_u) / (hi_u - lo_u) * {top}) AS BIGINT)))
                    ELSE 0 END AS ug,
               CASE WHEN hi_v > lo_v THEN LEAST({top}, GREATEST(0,
                    CAST(FLOOR((CAST(value AS DOUBLE) - lo_v) / (hi_v - lo_v) * {top}) AS BIGINT)))
                    ELSE 0 END AS vg
        FROM events, b
    )"""


# Over the per-file boxes ``fk`` (bucket, flo_u, fhi_u, flo_v, fhi_v, n):
# the files the _BOX predicate opens and the scan accounting.
_BOX_PRUNING = """
    op AS (
        SELECT * FROM fk
        WHERE NOT (fhi_u < 20.0 OR flo_u > 50.0 OR fhi_v < 50.0 OR flo_v > 150.0)
    )
    SELECT (SELECT COUNT(*) FROM fk)                     AS n_files_total,
           (SELECT COUNT(*) FROM op)                     AS n_files_opened,
           (SELECT CAST(SUM(n) AS BIGINT) FROM fk)       AS n_rows_total,
           (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM op) AS n_rows_scanned,
           (SELECT COUNT(*) FROM events
             WHERE user_id BETWEEN 20.0 AND 50.0
               AND value   BETWEEN 50.0 AND 150.0)       AS n_rows_match
"""


def _in_box(s: dict) -> bool:
    """Whether a min/max reader must open the file with footer stats
    ``s`` for the _BOX predicate (a column without stats cannot prune)."""
    for c, (qlo, qhi) in _BOX.items():
        lo, hi = s[c]
        if lo is None or hi is None:
            continue
        if hi < qlo or lo > qhi:
            return False
    return True


def _pruning_stats(
    spark: SparkSession, out_dir: str, stats: list[dict], opened: list[dict], match
) -> DataFrame:
    """One row: files and rows of the layout in ``out_dir`` in total and
    in the ``opened`` files, and the rows matching the ``match`` predicate."""
    n_rows_match = spark.read.parquet(out_dir).filter(match).count()
    row = (
        len(stats),
        len(opened),
        sum(s["n_rows"] for s in stats),
        sum(s["n_rows"] for s in opened),
        n_rows_match,
    )
    return spark.createDataFrame(
        [row],
        "n_files_total bigint, n_files_opened bigint, n_rows_total bigint, "
        "n_rows_scanned bigint, n_rows_match bigint",
    )

def _box_pruning_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """_pruning_stats of the (user_id, value) layout in ``out_dir`` for the
    _BOX predicate, from its real parquet footers."""
    stats = file_stats(out_dir, ["user_id", "value"])
    return _pruning_stats(
        spark, out_dir, stats, [s for s in stats if _in_box(s)],
        F.col("user_id").between(*_BOX["user_id"])
        & F.col("value").between(*_BOX["value"]),
    )


# The oracle recomputes the ENTIRE layout in SQL: identical min-max grid
# scaling (same double arithmetic, same clamps), identical Morton bit
# interleave (col i bit b → position 2b+i), identical top-4-bit bucket
# assignment, then per-bucket min/max boxes and the conjunctive-range
# pruning decision.  A scaling/interleave/bucketing bug on the Spark side,
# or footer stats that disagree with the data, breaks the hash.
_ZORDER_ORACLE = f"""
    WITH {_grid_ctes(65535)},
    z AS (
        SELECT event_id, user_id, value,
               CAST(SUM((((ug >> CAST(i AS INT)) & 1) << (2 * CAST(i AS INT)))
                      + (((vg >> CAST(i AS INT)) & 1) << (2 * CAST(i AS INT) + 1))) AS BIGINT) AS zkey
        FROM g, UNNEST(range(16)) AS t(i)
        GROUP BY event_id, user_id, value, ug, vg
    ),
    fk AS (
        SELECT zkey >> 28 AS bucket,
               MIN(user_id) AS flo_u, MAX(user_id) AS fhi_u,
               MIN(value)   AS flo_v, MAX(value)   AS fhi_v,
               COUNT(*) AS n
        FROM z GROUP BY 1
    ),
{_BOX_PRUNING}"""


@query("zorder_pruning_stats", oracle=_ZORDER_ORACLE)
def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout end-to-end under the correctness gate: cluster events
    by (user_id, value) into fixed Morton-grid bucket files
    (operators/layout.py:zorder_write_bucketed), read the REAL parquet footer
    statistics back, and report what a min/max-pruning reader does for a 2-D
    box predicate — files opened, rows scanned, rows matching.

    EAGER by necessity (like kinesis_roundtrip_counts): the footer read needs
    the layout written.  The output directory is deterministic per sf_dir
    under one managed tmp root and wiped per invocation."""
    out_dir = scratch_dir("fs2spark-zorder", "events-{h}", sf_dir)

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    zorder_write_bucketed(events, str(out_dir), ["user_id", "value"], bits=16, n_buckets=16)

    return _box_pruning_stats(spark, str(out_dir))


# ---------------------------------------------------------------------------
# Bucketed co-located join: the layout that removes the join shuffle.
# ---------------------------------------------------------------------------
@query(
    "bucketed_colocated_join_revenue",
    # The oracle restates the JOIN RESULT from the raw tables (bucketing
    # must not change a single row) and the layout CONTRACT as constants:
    # a bucket-aligned sort-merge join plans with ZERO Exchange nodes.
    # A bucket-hash mismatch between the two writes, a dropped bucket
    # file, or a spec that silently falls back to a shuffled join breaks
    # either the values or the plan facts.
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)) * 10000, 0) / 10000
             AS revenue,
           CAST(0 AS BIGINT) AS join_exchanges,
           TRUE AS join_is_sort_merge
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def bucketed_colocated_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed tables — the layout decision that
    removes the dominant exchange from repeated fact-fact joins at 100 TB:
    both sides are written ``bucketBy(8, orderkey).sortBy(orderkey)`` (one
    file per bucket via an aligned pre-repartition), and the sort-merge
    join then reads bucket-aligned splits with NO shuffle on either side.

    The zero-shuffle property is not just pytest-pinned
    (tests/test_bucketing.py): the plan of the measured join — hinted to
    sort-merge, so the co-location is what saves the exchange —
    is inspected and emitted as columns (``join_exchanges`` = count of
    Exchange nodes, ``join_is_sort_merge``), which the oracle states as
    0/TRUE; the revenue aggregate proves the bucketed write+read round-
    trips every row.  EAGER by necessity (like zorder_pruning_stats): the
    join needs the layout written.  Tables live in a per-sf database under
    one managed tmp root, dropped and rewritten per invocation."""
    loc = scratch_dir("fs2spark-bucket", "db-{h}", sf_dir)
    db = f"bktdb_{loc.name.removeprefix('db-')}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")

    n_buckets = 8
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # Pre-repartition on the bucket column with the bucket count: Spark's
    # repartition hash == the bucketing hash, so every bucket's rows land
    # in exactly one task -> one file per bucket (keeps the read-side sort
    # elided and the file count fixed at n_buckets regardless of input
    # parallelism).
    (
        orders.repartition(n_buckets, F.col("o_orderkey"))
        .write.bucketBy(n_buckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(f"{db}.orders_b")
    )
    (
        lineitem.repartition(n_buckets, F.col("l_orderkey"))
        .write.bucketBy(n_buckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(f"{db}.lineitem_b")
    )

    o = spark.table(f"{db}.orders_b")
    li = spark.table(f"{db}.lineitem_b")
    # the merge hint keeps the small side from broadcasting, so the plan
    # is the co-located sort-merge join whose exchanges are counted
    joined = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    is_smj = "SortMergeJoin" in plan
    out = (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.count_distinct("o_orderkey").alias("n_orders"),
            (
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    * 10000,
                    0,
                )
                / 10000
            ).alias("revenue"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            "n_orders",
            "revenue",
            F.lit(n_exchanges).cast("long").alias("join_exchanges"),
            F.lit(is_smj).alias("join_is_sort_merge"),
        )
    )
    # Materialize now: the per-sf database is dropped and rewritten on
    # every call, so a lazy result could read a dropped table.
    return out.localCheckpoint(eager=True)


# The oracle recomputes the Hilbert layout end-to-end: identical grid
# scaling (8 bits), the xy2d recurrence replayed per row by a RECURSIVE
# CTE (8 levels of quadrant-rank accumulation + rot(n) reflect/swap —
# exactly the chained projections the Spark side compiles), the top-4-bit
# bucket assignment, per-bucket min/max boxes, and the pruning decision.
_HILBERT_ORACLE = f"""
    WITH RECURSIVE {_grid_ctes(255)},
    walk AS (
        SELECT event_id, user_id, value, ug AS x, vg AS y,
               CAST(0 AS BIGINT) AS d, 7 AS lev
        FROM g
        UNION ALL
        SELECT event_id, user_id, value,
               CASE WHEN ((y >> lev) & 1) = 1 THEN x
                    WHEN ((x >> lev) & 1) = 1 THEN 255 - y
                    ELSE y END,
               CASE WHEN ((y >> lev) & 1) = 1 THEN y
                    WHEN ((x >> lev) & 1) = 1 THEN 255 - x
                    ELSE x END,
               d + (CAST(1 AS BIGINT) << (2 * lev)) * CASE
                    WHEN ((x >> lev) & 1) = 1 AND ((y >> lev) & 1) = 1 THEN 2
                    WHEN ((x >> lev) & 1) = 1 THEN 3
                    WHEN ((y >> lev) & 1) = 1 THEN 1
                    ELSE 0 END,
               lev - 1
        FROM walk WHERE lev >= 0
    ),
    fk AS (
        SELECT d >> 12 AS bucket,
               MIN(user_id) AS flo_u, MAX(user_id) AS fhi_u,
               MIN(value)   AS flo_v, MAX(value)   AS fhi_v,
               COUNT(*) AS n
        FROM walk WHERE lev = -1
        GROUP BY 1
    ),
{_BOX_PRUNING}"""


@query("hilbert_pruning_stats", oracle=_HILBERT_ORACLE)
def hilbert_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout under the correctness gate — the Z-order
    query's locality-preserving sibling (operators/layout.py:
    hilbert_write_bucketed): cluster events by the 2-D Hilbert address of
    (user_id, value), read the REAL parquet footers back, and report the
    min/max-pruning outcome for the same 2-D box.  The oracle replays the
    full xy2d recurrence with a recursive CTE, so a single rotation or
    reflection bug on either side breaks the hash.  Consecutive Hilbert
    addresses are always grid neighbors (pytest-pinned adjacency), which
    is why its per-file boxes measure tighter than Morton's on a uniform
    grid (tests/test_layout.py)."""
    from fs2_kinesis_firehose_spark.operators.layout import hilbert_write_bucketed

    out_dir = scratch_dir("fs2spark-hilbert", "events-{h}-{pid}", sf_dir)

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    hilbert_write_bucketed(
        events, str(out_dir), ["user_id", "value"], bits=8, n_buckets=16
    )

    return _box_pruning_stats(spark, str(out_dir))


# The oracle replays the ENTIRE index: the fixed Z-grid bucket of every
# row (the _ZORDER_ORACLE chain), every bucket's Bloom set-bit set from
# the identical md5 positions, the probe's positions, the all-bits-hit
# bucket decision, and the resulting scan accounting.  A hash mismatch
# catches a wrong bit formula, a dropped sidecar row, OR a false negative
# (the probed event's own bucket failing the membership test).
_BLOOM_IDX_ORACLE = f"""
    WITH {_grid_ctes(65535)},
    z AS (
        SELECT event_id,
               CAST(SUM((((ug >> CAST(i AS INT)) & 1) << (2 * CAST(i AS INT)))
                      + (((vg >> CAST(i AS INT)) & 1) << (2 * CAST(i AS INT) + 1))) AS BIGINT) >> 28 AS bucket
        FROM g, UNNEST(range(16)) AS t(i)
        GROUP BY event_id, ug, vg
    ),
    bloomrows AS (
        SELECT DISTINCT bucket,
               CAST(CONCAT('0x', SUBSTRING(md5(CAST(event_id AS VARCHAR)
                    || ':' || CAST(j AS VARCHAR) || 'bloomidx'), 1, 8))
                    AS BIGINT) % 4096 AS pos
        FROM z, UNNEST(range(3)) AS t(j)
    ),
    probe AS (
        SELECT DISTINCT CAST(CONCAT('0x', SUBSTRING(md5('421:'
                    || CAST(j AS VARCHAR) || 'bloomidx'), 1, 8))
                    AS BIGINT) % 4096 AS pos
        FROM UNNEST(range(3)) AS t(j)
    ),
    hit AS (
        SELECT br.bucket
        FROM bloomrows br JOIN probe p ON br.pos = p.pos
        GROUP BY br.bucket
        HAVING COUNT(DISTINCT br.pos) = (SELECT COUNT(*) FROM probe)
    )
    SELECT (SELECT COUNT(DISTINCT bucket) FROM z)            AS n_files_total,
           (SELECT COUNT(*) FROM hit)                        AS n_files_opened,
           (SELECT COUNT(*) FROM z WHERE bucket IN (SELECT bucket FROM hit))
                                                             AS n_rows_scanned,
           (SELECT COUNT(*) FROM events WHERE event_id = 421) AS n_rows_match
"""


@query("bloom_index_pruning_stats", oracle=_BLOOM_IDX_ORACLE)
def bloom_index_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted Bloom-filter index sidecar (operators/layout.py:
    bloom_index_write) under the correctness gate — Delta-style data
    skipping on a column the LAYOUT does not cluster: events are
    Z-bucketed by (user_id, value), the sidecar indexes event_id, and a
    point lookup (event_id = 421) opens only the buckets whose Bloom
    bits all match.  Footer min/max can't skip anything here (a uniform
    high-cardinality column covers every file's range); the Bloom
    sidecar typically prunes to ~1 file + false positives, with zero
    false negatives (the oracle's n_rows_match is computed from the raw
    table).  Eager like the other layout queries; per-sf deterministic
    tmp dir."""
    from fs2_kinesis_firehose_spark.operators.layout import (
        bloom_index_prune_stats,
        bloom_index_write,
    )

    out_dir = scratch_dir("fs2spark-bloomidx", "events-{h}-{pid}", sf_dir)

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    bloom_index_write(
        events, str(out_dir), ["user_id", "value"], "event_id",
        bits=16, n_buckets=16,
    )
    stats = bloom_index_prune_stats(spark, str(out_dir), "event_id", 421)
    return spark.createDataFrame(
        [tuple(stats[k] for k in (
            "n_files_total", "n_files_opened", "n_rows_scanned", "n_rows_match"
        ))],
        "n_files_total bigint, n_files_opened bigint, n_rows_scanned bigint, "
        "n_rows_match bigint",
    )


@query(
    "compaction_accounting",
    oracle="""
    SELECT CAST(64 AS BIGINT) AS files_before,
           CAST(8 AS BIGINT) AS files_after,
           COUNT(*) AS rows_before,
           COUNT(*) AS rows_after,
           (SELECT COUNT(*) FROM (
               SELECT DISTINCT event_id, user_id, value FROM events
           )) AS distinct_roundtrip
    FROM events
    """,
)
def compaction_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/layout.py:compact_files) under
    the correctness gate: events fragmented into 64 files (a streaming
    sink's typical damage), compacted to exactly 8, with the layout
    CONTRACT stated as oracle constants — file counts before/after — and
    row conservation + content fidelity (distinct key roundtrip) computed
    from the REAL rewritten files.  A dropped/duplicated row, a lost
    file, or a partial rewrite breaks the hash.  Eager like the other
    layout queries (the compaction is the thing being measured)."""
    from fs2_kinesis_firehose_spark.operators.layout import compact_files

    root = scratch_dir("fs2spark-compact", "events-{h}-{pid}", sf_dir)
    src, dst = str(root / "fragmented"), str(root / "compacted")

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    events.repartition(64).write.parquet(src)
    stats = compact_files(spark, src, dst, n_files=8)
    distinct_roundtrip = (
        spark.read.parquet(dst)
        .select("event_id", "user_id", "value")
        .distinct()
        .count()
    )
    row = (
        stats["files_before"],
        stats["files_after"],
        stats["rows_before"],
        stats["rows_after"],
        distinct_roundtrip,
    )
    return spark.createDataFrame(
        [row],
        "files_before bigint, files_after bigint, rows_before bigint, "
        "rows_after bigint, distinct_roundtrip bigint",
    )


_RANGE_N = 16
_RANGE_LO, _RANGE_HI = 100000.0, 200000.0
# the oracle recomputes boundaries, bucket assignment, per-bucket footer
# stats (min/max/count over the SAME assignment) and the min/max-pruning
# outcome for the price range predicate — entirely in closed form, because
# range_write_clustered's row→file mapping is a pure function of the data.
_RANGE_ORACLE = f"""
WITH qs AS (
    SELECT {", ".join(
        f"ROUND(quantile_cont(o_totalprice, {i / _RANGE_N!r}), 6) AS q{i}"
        for i in range(1, _RANGE_N)
    )}
    FROM orders
),
b AS (
    SELECT o_totalprice,
           CASE {" ".join(
               f"WHEN o_totalprice <= q{i} THEN {i - 1}"
               for i in range(1, _RANGE_N)
           )} ELSE {_RANGE_N - 1} END AS bucket
    FROM orders, qs
),
f AS (
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM b GROUP BY bucket
)
SELECT COUNT(*) AS n_files_total,
       CAST(SUM(CASE WHEN hi >= {_RANGE_LO!r} AND lo <= {_RANGE_HI!r}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_files_opened,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows_total,
       CAST(SUM(CASE WHEN hi >= {_RANGE_LO!r} AND lo <= {_RANGE_HI!r}
                     THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_scanned,
       (SELECT COUNT(*) FROM orders
        WHERE o_totalprice BETWEEN {_RANGE_LO!r} AND {_RANGE_HI!r}) AS n_rows_match
FROM f
"""


@query("range_layout_pruning_stats", oracle=_RANGE_ORACLE)
def range_layout_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered (ORDER BY) layout end-to-end under the correctness
    gate: cluster orders by exact-quantile o_totalprice ranges
    (operators/layout.py:range_write_clustered — deterministic boundaries,
    one file per bucket, sorted within), read the REAL parquet footer
    statistics back, and report what a min/max-pruning reader does for a
    25%-selective price range — files opened, rows scanned, rows matching.
    The 1-D companion to zorder/hilbert_pruning_stats: most production
    predicates are single-column ranges, and this is the layout that
    serves them with ~selectivity-proportional I/O.

    EAGER by necessity (the footer read needs the layout written); per-sf
    PID-suffixed tmp dir, wiped per invocation."""
    from fs2_kinesis_firehose_spark.operators.layout import (
        file_stats,
        range_write_clustered,
    )

    out_dir = scratch_dir("fs2spark-rangelayout", "orders-{h}-{pid}", sf_dir)

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    range_write_clustered(orders, str(out_dir), "o_totalprice", n_buckets=_RANGE_N)

    stats = file_stats(str(out_dir), ["o_totalprice"])
    opened = [
        s
        for s in stats
        if s["o_totalprice"][0] is not None
        and s["o_totalprice"][1] >= _RANGE_LO
        and s["o_totalprice"][0] <= _RANGE_HI
    ]
    return _pruning_stats(
        spark, str(out_dir), stats, opened,
        F.col("o_totalprice").between(_RANGE_LO, _RANGE_HI),
    )
