"""File-layout control for scan pruning: Z-order (Morton) clustering.

At 100 TB the cheapest rows are the ones never read.  Parquet keeps per-file
and per-row-group min/max statistics; a reader prunes a file when the
predicate range misses its [min, max].  One-dimensional sorting gives
perfect pruning on ONE column and none on the others — Z-ordering interleaves
the bits of several columns so every clustered column gets partial locality,
which is the standard lakehouse technique for multi-dimensional point/range
queries (public: Morton 1966; Databricks/Iceberg/Hudi all expose it as
Z-ORDER clustering).

Everything here is pure Column arithmetic (codegen) plus one
``repartition`` on the file bucket — the layout job is a single shuffle of
the data being written, which is the floor for ANY clustered write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T


def _scale_to_grid(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Min-max scale a numeric column onto the integer grid [0, 2^bits)."""
    span = (hi.cast("double") - lo.cast("double"))
    unit = F.when(span > 0, (col.cast("double") - lo.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    max_cell = (1 << bits) - 1
    return F.least(
        F.lit(max_cell).cast("long"),
        F.greatest(F.lit(0).cast("long"), F.floor(unit * max_cell).cast("long")),
    )


def _gridded(df: DataFrame, cols: list[str], bits: int) -> tuple[DataFrame, list[Column]]:
    """``df`` with each column's min/max bounds cross-joined in from ONE
    broadcast one-row aggregate (lazy: it runs inside the consuming job,
    no separate driver action), and each column's grid cell over them."""
    agg = df.agg(
        *[
            m
            for c in cols
            for m in (
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            )
        ]
    )
    keyed = df.crossJoin(F.broadcast(agg))
    grid = [
        _scale_to_grid(F.col(c), F.col(f"_lo_{c}"), F.col(f"_hi_{c}"), bits)
        for c in cols
    ]
    return keyed, grid


def _bucket_bits(n_buckets: int) -> int:
    """log2 of a power-of-two bucket count: the address bits a file owns."""
    bucket_bits = (n_buckets - 1).bit_length()
    if n_buckets != 1 << bucket_bits:
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    return bucket_bits


def _zbucketed(df: DataFrame, cols: list[str], bits: int, n_buckets: int) -> DataFrame:
    """``df`` plus ``_zbucket``: the top ``log2(n_buckets)`` bits of the
    Morton address of ``cols`` on their fixed min/max grid."""
    bucket_bits = _bucket_bits(n_buckets)
    keyed, grid = _gridded(df, cols, bits)
    z = morton_key(grid, bits)
    total_bits = len(cols) * bits
    return keyed.withColumn(
        "_zbucket", F.shiftright(z, total_bits - bucket_bits)
    ).select(*df.columns, "_zbucket")


def _write_buckets(bucketed: DataFrame, n_buckets: int, bucket_col: str, path: str) -> None:
    """One parquet partition directory per ``bucket_col`` value, one file each."""
    (
        bucketed.repartition(n_buckets, bucket_col)
        .write.mode("overwrite")
        .partitionBy(bucket_col)
        .parquet(path)
    )


def morton_key(grid_cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each pre-gridded column into one
    long (the Z-address).  ``len(grid_cols) * bits`` must be ≤ 63.

    Bit b of column i lands at position ``b * n_cols + i`` — the classic
    Morton layout, a flat chain of shift/mask terms that stays inside
    whole-stage codegen (2 cols × 16 bits = 32 terms; far below the method
    limit that giant literal-vector expressions hit)."""
    n = len(grid_cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(grid_cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, b * n + i)
    return key


def zorder_write_bucketed(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 16,
    n_buckets: int = 16,
) -> None:
    """Write ``df`` clustered by FIXED Z-grid buckets: file = the top
    ``log2(n_buckets)`` bits of the Morton address (bounds from one broadcast
    min/max aggregate, lazy: it runs inside the write job, no second scan).

    vs a ``repartitionByRange`` on the Z-address: range partitioning
    balances file SIZES via reservoir sampling but makes the file boundaries
    sample-dependent; fixed grid buckets make the row→file mapping a PURE
    FUNCTION of the data, so an external checker (the driver's DuckDB
    oracle) can recompute the exact per-file statistics and the exact
    pruning outcome.  Same single-shuffle cost; skew tolerance is what's
    traded away.  Readers filtering on ANY subset of ``cols`` prune files
    via footer stats alone (tests/test_layout.py measures the pruning
    factor against an unclustered layout)."""
    _write_buckets(_zbucketed(df, cols, bits, n_buckets), n_buckets, "_zbucket", path)


def file_stats(path: str, cols: list[str]) -> list[dict]:
    """Per-file [min, max] footer statistics for ``cols`` — the exact
    information a pruning reader uses.  Driver-side pyarrow metadata read
    (footers only, no data pages).  Walks partition subdirectories, so it
    covers both flat output and the bucketed writers' ``_zbucket=N/``
    layout."""
    import os

    import pyarrow.parquet as pq

    files = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files.append(os.path.join(root, name))

    out = []
    for fpath in sorted(files):
        name = os.path.relpath(fpath, path)
        md = pq.ParquetFile(fpath).metadata
        stats: dict = {"file": name, "n_rows": md.num_rows}
        schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
        for c in cols:
            idx = schema_names.index(c)
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            stats[c] = (lo, hi)
        out.append(stats)
    return out


def files_overlapping_box(
    stats: list[dict], box: dict[str, tuple[float, float]]
) -> int:
    """How many files a min/max-pruning reader must open for a conjunctive
    range predicate (the skipping metric the layout is optimized for)."""
    n = 0
    for s in stats:
        hit = True
        for c, (qlo, qhi) in box.items():
            lo, hi = s[c]
            if lo is None or hi is None:
                continue  # no stats → cannot prune
            if hi < qlo or lo > qhi:
                hit = False
                break
        n += int(hit)
    return n


def hilbert_key_2d(
    df: DataFrame, xgrid: str, ygrid: str, *, bits: int = 8, out: str = "_hkey"
) -> DataFrame:
    """Append the 2-D Hilbert-curve address of pre-gridded coordinates
    (each in [0, 2^bits)) — the locality-preserving alternative to the
    Morton key: consecutive addresses are ALWAYS grid neighbors (no Z-curve
    long jumps), so per-file min/max boxes are tighter for the same file
    count (public: Hilbert 1891; the curve Delta Lake's OPTIMIZE offers
    beside Z-order).

    The address is the classic xy2d recurrence (the rot(n,·) orientation,
    whose intermediates stay in [0, n) — the s-variant goes negative, and
    negative ``>>``/``&`` are not engine-portable).  Each of the ``bits``
    levels is ONE chained projection materializing (x, y, d) as real
    columns, so expression size stays linear in ``bits`` (a naive Column
    fold doubles the tree per level) and the whole key is codegen — no
    Python, no UDF.
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    n = 1 << bits
    keep = df.columns
    cur = (
        df.withColumn("_hx", F.col(xgrid).cast("long"))
        .withColumn("_hy", F.col(ygrid).cast("long"))
        .withColumn(out, F.lit(0).cast("long"))
    )
    for lev in range(bits - 1, -1, -1):
        rx = F.shiftright(F.col("_hx"), lev).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("_hy"), lev).bitwiseAND(F.lit(1))
        # quadrant rank ((3*rx) XOR ry): (0,0)->0 (0,1)->1 (1,1)->2 (1,0)->3
        quad = (
            F.when((rx == 1) & (ry == 1), 2)
            .when(rx == 1, 3)
            .when(ry == 1, 1)
            .otherwise(0)
        )
        d = (F.col(out) + F.shiftleft(F.lit(1).cast("long"), 2 * lev) * quad).alias(out)
        # rot(n): ry==1 -> unchanged; ry==0,rx==1 -> reflect then swap;
        # ry==0,rx==0 -> swap
        nx = (
            F.when(ry == 1, F.col("_hx"))
            .when(rx == 1, F.lit(n - 1) - F.col("_hy"))
            .otherwise(F.col("_hy"))
            .alias("_hx")
        )
        ny = (
            F.when(ry == 1, F.col("_hy"))
            .when(rx == 1, F.lit(n - 1) - F.col("_hx"))
            .otherwise(F.col("_hx"))
            .alias("_hy")
        )
        cur = cur.select(*keep, d, nx, ny)
    return cur.select(*keep, F.col(out))


def hilbert_write_bucketed(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 8,
    n_buckets: int = 16,
) -> None:
    """Write ``df`` clustered by FIXED Hilbert-grid buckets (file = top
    ``log2(n_buckets)`` bits of the Hilbert address) — same pure-function
    row→file contract as ``zorder_write_bucketed`` (an external checker can
    recompute exact file membership), with the Hilbert curve's tighter
    per-file boxes.  2-D only: the rotation recurrence is
    dimension-specific (the Morton key generalizes to any d; the curve is
    the 2-D specialist)."""
    if len(cols) != 2:
        raise ValueError(f"hilbert_write_bucketed is 2-D only, got {cols}")
    bucket_bits = _bucket_bits(n_buckets)
    keyed, (gx, gy) = _gridded(df, cols, bits)
    out_cols = df.columns
    gridded = keyed.withColumn("_gx", gx).withColumn("_gy", gy).select(
        *out_cols, "_gx", "_gy"
    )
    hk = hilbert_key_2d(gridded, "_gx", "_gy", bits=bits, out="_hkey")
    bucketed = hk.withColumn(
        "_hbucket", F.shiftright(F.col("_hkey"), 2 * bits - bucket_bits)
    ).select(*out_cols, "_hbucket")
    _write_buckets(bucketed, n_buckets, "_hbucket", path)


# --- persisted Bloom-filter index sidecars (Delta-style data skipping) -------

_BLOOM_SIDECAR = "_bloomidx"
_BLOOM_DATA = "data"
# the Bloom sidecar's shape, shared by its writer and its reader; the SQL
# oracle (queries/layout_q.py) restates all three
_BLOOM_BITS = 4096
_BLOOM_HASHES = 3
_BLOOM_SALT = "bloomidx"


def _md5_pos(value, j: int) -> int:
    """Python twin of the engine-portable md5 bit position (same formula
    as the Column/SQL forms below — first 32 md5 bits mod _BLOOM_BITS)."""
    import hashlib

    h = hashlib.md5(f"{value}:{j}{_BLOOM_SALT}".encode()).hexdigest()[:8]
    return int(h, 16) % _BLOOM_BITS


def _md5_pos_col(col: Column, j: int) -> Column:
    salted = F.concat(col.cast("string"), F.lit(f":{j}{_BLOOM_SALT}"))
    return T.md5_int(salted, 8).cast("long") % _BLOOM_BITS


def bloom_index_write(
    df: DataFrame,
    path: str,
    layout_cols: list[str],
    bloom_col: str,
    *,
    bits: int = 16,
    n_buckets: int = 16,
) -> None:
    """Write ``df`` Z-order-bucketed by ``layout_cols`` (the fixed-grid
    pure-function layout of ``zorder_write_bucketed``) PLUS a persisted
    per-file Bloom-filter sidecar over ``bloom_col`` — the Delta-style
    index that lets point lookups on a column the LAYOUT does not cluster
    skip files anyway (footer min/max on a uniform high-cardinality
    column covers every file; the Bloom sidecar does not).

    Sidecar layout: ``<path>/_bloomidx`` holds the DISTINCT
    ``(_zbucket, pos)`` set-bit rows (≤ n_buckets·4096 rows — index
    metadata, thousands of times smaller than the data).  Bit positions
    are the engine-portable md5 formula for each of 3 hashes j (first 32
    bits of ``md5(value || ':' || j || 'bloomidx')`` mod 4096), so an external
    SQL checker can replay the whole index; no false negatives by
    construction.  At 100 TB: the sidecar build is one extra distinct
    over (bucket, k positions) — map-side combined, output bounded by
    the index size, not the data."""
    bucketed = _zbucketed(df, layout_cols, bits, n_buckets)
    _write_buckets(bucketed, n_buckets, "_zbucket", f"{path}/{_BLOOM_DATA}")
    positions = bucketed.select(
        "_zbucket",
        F.explode(
            F.array(
                *[
                    _md5_pos_col(F.col(bloom_col), j)
                    for j in range(_BLOOM_HASHES)
                ]
            )
        ).alias("pos"),
    ).distinct()
    positions.repartition(1).write.mode("overwrite").parquet(
        f"{path}/{_BLOOM_SIDECAR}"
    )


def bloom_index_prune_stats(
    spark,
    path: str,
    bloom_col: str,
    probe_value,
) -> dict:
    """Point-lookup through the persisted Bloom sidecar: compute the probe
    value's bit positions (driver-side, same md5 formula), find the
    buckets whose sidecar contains ALL of them (≤ n_buckets rows
    collected — index metadata), and read ONLY those bucket partitions
    (``isin`` filter → planning-time partition pruning on the
    ``_zbucket`` directory column).  Returns the pruning accounting a
    reader cares about; no false negatives, so ``n_rows_match`` equals
    the unindexed scan's answer exactly."""
    probe_pos = sorted({_md5_pos(probe_value, j) for j in range(_BLOOM_HASHES)})
    sidecar = spark.read.parquet(f"{path}/{_BLOOM_SIDECAR}")
    hit_rows = (
        sidecar.where(F.col("pos").isin(probe_pos))
        .groupBy("_zbucket")
        .agg(F.count_distinct("pos").alias("_n"))
        .where(F.col("_n") == len(probe_pos))
        .select("_zbucket")
        .collect()
    )
    hit_buckets = sorted(int(r["_zbucket"]) for r in hit_rows)
    data = spark.read.parquet(f"{path}/{_BLOOM_DATA}")
    n_files_total = data.select("_zbucket").distinct().count()
    pruned = data.where(F.col("_zbucket").isin(hit_buckets))
    n_scanned, n_match = pruned.agg(
        F.count(F.lit(1)),
        F.count_if(F.col(bloom_col) == F.lit(probe_value)),
    ).first()
    return {
        "n_files_total": n_files_total,
        "n_files_opened": len(hit_buckets),
        "n_rows_scanned": int(n_scanned),
        "n_rows_match": int(n_match),
    }


def compact_files(
    spark,
    src_path: str,
    dst_path: str,
    *,
    n_files: int | None = None,
    target_rows_per_file: int | None = None,
    sort_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction — the table-maintenance job every long-lived
    parquet dataset needs (streaming sinks and fine-grained partitionBy
    writes fragment into thousands of KB-files; each costs a task + a
    footer read + a namenode entry, so scan latency degrades linearly in
    FILE COUNT long before data size matters).

    Rewrites ``src_path`` into exactly ``n_files`` files (or
    ``ceil(rows / target_rows_per_file)`` when sizing by rows), optionally
    re-sorted within files by ``sort_cols`` to restore clustering that
    fragmentation destroyed.  One round-robin shuffle of the data — the
    floor for any rewrite; the row count needed to size the output is one
    metadata-cheap aggregate.  Returns the accounting dict
    (files/rows before and after).  Row conservation is the correctness
    contract: compaction must be a pure physical rewrite."""
    if (n_files is None) == (target_rows_per_file is None):
        raise ValueError("pass exactly one of n_files / target_rows_per_file")
    # Overwrite-mode write into the path being read would destroy the source
    # before the rewrite completes; Spark's runtime check catches the literal
    # same string but not a differently-spelled same location ("/a/../a").
    import os

    src_resolved = os.path.realpath(src_path)
    dst_resolved = os.path.realpath(dst_path)
    if src_resolved == dst_resolved or dst_resolved.startswith(
        src_resolved + os.sep
    ) or src_resolved.startswith(dst_resolved + os.sep):
        raise ValueError(
            f"compact_files: dst_path {dst_path!r} must not equal or overlap "
            f"src_path {src_path!r}"
        )
    df = spark.read.parquet(src_path)
    files_before = df.inputFiles()
    rows_before = df.count()
    if n_files is None:
        n_files = max(1, -(-rows_before // target_rows_per_file))
    out = df.repartition(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(dst_path)
    back = spark.read.parquet(dst_path)
    return {
        "files_before": len(files_before),
        "files_after": len(back.inputFiles()),
        "rows_before": int(rows_before),
        "rows_after": int(back.count()),
    }


def range_write_clustered(
    df: DataFrame,
    path: str,
    col: str,
    *,
    n_buckets: int = 16,
) -> list[float]:
    """1-D range-clustered layout — the plain ``ORDER BY`` table layout
    (the bread-and-butter complement to the multi-dim Z/Hilbert curves):
    rows land in quantile-bounded range buckets, sorted within each file,
    so a range predicate on ``col`` prunes to the files whose [min, max]
    intersect it and merge-style readers see sorted runs.

    Boundaries come from ONE exact-percentile aggregate (``percentile`` ≡
    DuckDB ``quantile_cont``, rounded to 6 places) instead of
    ``repartitionByRange``'s reservoir sample: the row→file mapping is a
    PURE FUNCTION of the data, so an external checker can recompute the
    exact per-file statistics and pruning outcome (same trade as
    ``zorder_write_bucketed`` — determinism over sampled size balance; the
    quantile boundaries still equalize file sizes up to duplicate mass).

    Returns the boundary list.  One boundary collect (n_buckets−1 doubles
    — metadata), one hash shuffle on the bucket id, one file per non-empty
    bucket.  At 100 TB this is the standard clustered-write pattern:
    boundaries from a cheap stats pass, then a single repartition+sort.

    ``col`` must be non-null: a NULL value has no position in the range
    order (it would otherwise silently ride the when-chain's otherwise
    branch into the highest bucket, breaking the pure row→file mapping),
    so the write raises on the first NULL instead.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE array-percentile aggregate (a single sort-based buffer pass), not
    # n_buckets−1 separate percentile aggregates each re-buffering the column
    row = df.agg(
        F.transform(
            F.percentile(F.col(col), F.array(*[F.lit(p) for p in probs])),
            lambda x: F.round(x, 6),  # HALF_UP, same as the SQL oracle
        ).alias("_qs")
    ).collect()[0]
    bounds = [float(v) for v in row["_qs"]]
    expr = None
    for i, b in enumerate(bounds):
        cond = F.col(col) <= F.lit(b)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    expr = expr.otherwise(
        F.when(
            F.col(col).isNull(),
            F.raise_error(
                F.lit(f"range_write_clustered: NULL in clustering column {col!r}")
            ).cast("int"),
        ).otherwise(len(bounds))
    )
    (
        df.withColumn("_rbucket", expr.cast("int"))
        .repartition(n_buckets, "_rbucket")
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .partitionBy("_rbucket")
        .parquet(path)
    )
    return bounds
