"""Z-order layout (operators/layout.py): Morton key correctness and the
measured file-pruning advantage over an unclustered layout."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators import layout as L
from fs2_kinesis_firehose_spark.tables import load_table


def test_morton_key_interleaves_bits(spark):
    df = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (3, 3)], "x long, y long")
    out = df.select(
        "x", "y", L.morton_key([F.col("x"), F.col("y")], bits=2).alias("z")
    ).collect()
    got = {(r["x"], r["y"]): r["z"] for r in out}
    # bit b of col i → position b*2+i: (1,0)→1, (0,1)→2, (3,3)→15
    assert got == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (3, 3): 15}


def test_morton_key_rejects_long_overflow(spark):
    import pytest

    with pytest.raises(ValueError):
        L.morton_key([F.col("a"), F.col("b")], bits=32)


def test_zorder_write_prunes_multidim_box(spark, sf_oracle):
    """The measured claim: a 2-D range predicate over a Z-ordered layout
    opens a fraction of the files an unclustered write needs."""
    orders = load_table(spark, sf_oracle, "orders").withColumn(
        "o_day", F.datediff("o_orderdate", F.lit("1995-01-01"))
    )
    n_files = 16
    with tempfile.TemporaryDirectory() as tmp:
        zpath, rpath = f"{tmp}/zorder", f"{tmp}/random"
        L.zorder_write_bucketed(orders, zpath, ["o_custkey", "o_day"], n_buckets=n_files)
        orders.repartition(n_files).write.parquet(rpath)

        cols = ["o_custkey", "o_day"]
        zstats = L.file_stats(zpath, cols)
        rstats = L.file_stats(rpath, cols)
        assert len(zstats) == n_files

        # a central box covering ~1/16 of each dimension
        ck_hi = orders.agg(F.max("o_custkey")).collect()[0][0]
        day_hi = orders.agg(F.max("o_day")).collect()[0][0]
        box = {
            "o_custkey": (ck_hi // 2, ck_hi // 2 + ck_hi // 16),
            "o_day": (day_hi // 2, day_hi // 2 + day_hi // 16),
        }
        z_open = L.files_overlapping_box(zstats, box)
        r_open = L.files_overlapping_box(rstats, box)
        # unclustered: every file spans the whole domain → zero pruning
        assert r_open == len(rstats)
        # z-ordered: the box hits a strict minority of files
        assert z_open <= len(zstats) // 2, (z_open, len(zstats))

        # and the data still round-trips completely
        assert spark.read.parquet(zpath).count() == orders.count()


# --- Hilbert curve ------------------------------------------------------------


def _xy2d_ref(n: int, x: int, y: int) -> int:
    """Plain-python reference (Wikipedia xy2d, rot(n) orientation)."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_and_is_a_true_hilbert_curve(spark):
    """Full 32x32 grid: (1) Spark == python reference everywhere,
    (2) bijective onto [0, n²), (3) THE Hilbert property — consecutive
    addresses are always grid NEIGHBORS (manhattan distance exactly 1),
    which no Z/Morton layout satisfies (Z has long diagonal jumps)."""
    from fs2_kinesis_firehose_spark.operators.layout import hilbert_key_2d

    bits, n = 5, 32
    pts = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x int, y int"
    )
    got = {
        (r.x, r.y): r._hkey
        for r in hilbert_key_2d(pts, "x", "y", bits=bits).collect()
    }
    assert all(got[(x, y)] == _xy2d_ref(n, x, y) for x in range(n) for y in range(n))
    inv = {d: xy for xy, d in got.items()}
    assert sorted(inv) == list(range(n * n))  # bijective
    assert all(
        abs(inv[i][0] - inv[i + 1][0]) + abs(inv[i][1] - inv[i + 1][1]) == 1
        for i in range(n * n - 1)
    )


def test_hilbert_key_is_codegen_no_python(spark):
    from fs2_kinesis_firehose_spark.operators.layout import hilbert_key_2d
    from fs2_kinesis_firehose_spark.plans import assert_plan_lacks

    pts = spark.range(10).selectExpr("CAST(id % 4 AS INT) x", "CAST(id % 3 AS INT) y")
    df = hilbert_key_2d(pts, "x", "y", bits=4)
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython")


def test_hilbert_boxes_tighter_than_zorder_on_uniform_grid(spark, tmp_path):
    """The locality payoff, measured: bucketing a uniform 2-D grid into 16
    files by Hilbert vs Morton top-bits, Hilbert's per-file min/max boxes
    cover no more total area (strictly less on this grid) — tighter boxes
    = more pruning for the same file count."""
    from fs2_kinesis_firehose_spark.operators.layout import (
        file_stats,
        hilbert_write_bucketed,
        zorder_write_bucketed,
    )

    n = 64
    pts = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "px int, py int"
    )

    def total_box_area(stats):
        return sum(
            (s["px"][1] - s["px"][0] + 1) * (s["py"][1] - s["py"][0] + 1)
            for s in stats
        )

    hdir, zdir = str(tmp_path / "h"), str(tmp_path / "z")
    hilbert_write_bucketed(pts, hdir, ["px", "py"], bits=6, n_buckets=16)
    zorder_write_bucketed(pts, zdir, ["px", "py"], bits=6, n_buckets=16)
    h_area = total_box_area(file_stats(hdir, ["px", "py"]))
    z_area = total_box_area(file_stats(zdir, ["px", "py"]))
    assert h_area <= z_area, (h_area, z_area)


def test_hilbert_write_validates_args(spark):
    import pytest as _pt

    from fs2_kinesis_firehose_spark.operators.layout import (
        hilbert_key_2d,
        hilbert_write_bucketed,
    )

    pts = spark.range(4).selectExpr("CAST(id AS INT) a", "CAST(id AS INT) b", "id c")
    with _pt.raises(ValueError):
        hilbert_write_bucketed(pts, "/tmp/x", ["a", "b", "c"])
    with _pt.raises(ValueError):
        hilbert_write_bucketed(pts, "/tmp/x", ["a", "b"], n_buckets=3)
    with _pt.raises(ValueError):
        hilbert_key_2d(pts, "a", "b", bits=0)


def test_bloom_index_prunes_and_never_false_negative(spark, tmp_path):
    """The sidecar must actually skip files on a point lookup over the
    non-layout column (uniform high-cardinality ids — footer min/max
    can't), and membership must have zero false negatives: every probed
    id's full row count survives the pruned read."""
    from fs2_kinesis_firehose_spark.operators.layout import (
        bloom_index_prune_stats,
        bloom_index_write,
    )

    n = 4000
    df = spark.range(n).selectExpr(
        "id AS event_id", "CAST(id % 97 AS DOUBLE) AS user_id",
        "CAST((id * 31) % 211 AS DOUBLE) AS value",
    )
    path = str(tmp_path / "bidx")
    bloom_index_write(df, path, ["user_id", "value"], "event_id", n_buckets=16)
    opened = []
    for probe in (0, 17, 1234, 3999):
        s = bloom_index_prune_stats(spark, path, "event_id", probe)
        assert s["n_rows_match"] == 1, s          # no false negatives
        assert s["n_files_opened"] >= 1
        opened.append(s["n_files_opened"])
    # across several probes the index must skip most files
    assert sum(opened) < 4 * 16, opened
    # absent value: usually zero files opened, never a match
    s = bloom_index_prune_stats(spark, path, "event_id", 10**9)
    assert s["n_rows_match"] == 0


def test_compact_files_rows_conserved_and_sized(spark, tmp_path):
    from fs2_kinesis_firehose_spark.operators.layout import compact_files

    src, dst = str(tmp_path / "frag"), str(tmp_path / "comp")
    spark.range(1000).repartition(32).write.parquet(src)
    s = compact_files(spark, src, dst, n_files=4)
    assert s == {
        "files_before": 32, "files_after": 4,
        "rows_before": 1000, "rows_after": 1000,
    }
    # sizing by rows: ceil(1000/300) = 4 files
    s2 = compact_files(spark, src, str(tmp_path / "c2"), target_rows_per_file=300)
    assert s2["files_after"] == 4 and s2["rows_after"] == 1000
    # sort restoration: each output file's ids are locally sorted
    compact_files(spark, src, str(tmp_path / "c3"), n_files=4, sort_cols=["id"])
    from pyspark.sql import functions as F

    df = spark.read.parquet(str(tmp_path / "c3"))
    bad = (
        df.withColumn("_f", F.input_file_name())
        .withColumn("_prev", F.lag("id").over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("_f").orderBy(F.monotonically_increasing_id())))
        .where(F.col("_prev") > F.col("id"))
        .count()
    )
    assert bad == 0


def test_compact_files_validates_args(spark, tmp_path):
    import pytest as _pt

    from fs2_kinesis_firehose_spark.operators.layout import compact_files

    src = str(tmp_path / "x")
    spark.range(10).write.parquet(src)
    with _pt.raises(ValueError):
        compact_files(spark, src, str(tmp_path / "y"))
    with _pt.raises(ValueError):
        compact_files(spark, src, str(tmp_path / "y"), n_files=2, target_rows_per_file=5)


def test_range_write_clustered_sorted_nonoverlapping_files(spark, tmp_path):
    from fs2_kinesis_firehose_spark.operators.layout import (
        file_stats,
        range_write_clustered,
    )

    df = spark.range(400).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    out = str(tmp_path / "range")
    bounds = range_write_clustered(df, out, "v", n_buckets=4)
    assert bounds == sorted(bounds) and len(bounds) == 3
    stats = file_stats(out, ["v"])
    assert len(stats) == 4  # one file per non-empty bucket
    # files cover disjoint value ranges (range clustering, not hashing)
    spans = sorted(s["v"] for s in stats)
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo
    # every row survives the round-trip
    assert spark.read.parquet(out).count() == 400


def test_range_write_clustered_validates_buckets(spark, tmp_path):
    import pytest

    from fs2_kinesis_firehose_spark.operators.layout import range_write_clustered

    df = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS v")
    with pytest.raises(ValueError, match="n_buckets"):
        range_write_clustered(df, str(tmp_path / "x"), "v", n_buckets=1)


def test_range_write_clustered_null_value_raises(spark, tmp_path):
    """NULL clustering values have no range position; the write must fail
    loudly instead of silently routing them into the highest bucket
    (r12 advisory fix)."""
    import pytest

    from fs2_kinesis_firehose_spark.operators.layout import range_write_clustered

    df = spark.createDataFrame(
        [(float(i),) for i in range(20)] + [(None,)], "v double"
    )
    with pytest.raises(Exception, match="NULL in clustering column"):
        range_write_clustered(df, str(tmp_path / "nulls"), "v", n_buckets=2)
