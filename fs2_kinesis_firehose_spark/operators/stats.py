"""Table/column statistics collection — the ANALYZE primitive.

Every planner decision this repo leans on (broadcast-vs-shuffle joins,
AQE skew splits, partition sizing at 100 TB) is downstream of basic column
statistics: row counts, null counts, NDV, min/max bounds, byte widths.
Spark exposes the consumer side (``ANALYZE TABLE … COMPUTE STATISTICS FOR
COLUMNS`` feeding the CBO); this operator is the producer as a plain
DataFrame so stats become DATA — joinable, versionable, diffable across
snapshots like any other table.

Output is ONE wide row (``n_rows`` + per-column ``<c>_nulls``,
``<c>_ndv``, and for orderable types ``<c>_min``/``<c>_max``, for strings
``<c>_sumlen``), every cell natively typed — counts are exact int64s and
min/max are VALUES FROM THE DATA, so the whole row is bit-reproducible
across engines (the same reason operators/robust.py uses order
statistics).  A per-column-per-ROW layout would force casting mixed types
through strings, whose float formatting is engine-specific.

Scale shape: one aggregate, partial-aggregated map-side.  Exact NDV via
``count_distinct`` expands the aggregate per distinct column (Spark's
Expand-based multi-distinct) — the right call at audit scale; at 100 TB
swap per-column ``hll_table`` registers (operators/hll.py) for the NDV
arms and keep the rest of the row unchanged (the sketch is mergeable, so
incremental snapshots fold instead of rescanning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["column_stats"]

_ORDERABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
    T.DateType, T.TimestampType, T.TimestampNTZType, T.StringType,
)


def column_stats(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-row stats frame for ``cols`` (default: every column).

    Per column: ``<c>_nulls`` (int64), ``<c>_ndv`` (exact distinct count of
    non-null values, int64); for orderable non-string types ``<c>_min`` /
    ``<c>_max`` in the column's own type; for strings ``<c>_sumlen`` (total
    chars — divide by ``n_rows - <c>_nulls`` for avg width without baking a
    float division into the stats row)."""
    if cols is None:
        cols = df.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        dtype = df.schema[c].dataType
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}_ndv"))
        if isinstance(dtype, T.StringType):
            aggs.append(F.sum(F.length(c)).cast("long").alias(f"{c}_sumlen"))
        elif isinstance(dtype, _ORDERABLE):
            aggs.append(F.min(c).alias(f"{c}_min"))
            aggs.append(F.max(c).alias(f"{c}_max"))
    return df.agg(*aggs)


def key_skew_report(
    df: DataFrame,
    key_col: str,
    *,
    top_n: int = 10,
) -> DataFrame:
    """Shuffle-key skew diagnostic: the single-row report a planner (or an
    engineer) reads before deciding whether a join/groupBy key needs
    salting, AQE skew splitting, or a broadcast rewrite.

    Columns: ``n_keys``, ``n_rows``, ``max_rows_per_key``,
    ``avg_rows_per_key``, ``skew_ratio`` (max/avg — the hot-partition
    multiplier a hash shuffle on this key inherits), ``topn_rows`` and
    ``topn_share`` (row mass held by the ``top_n`` hottest keys —
    distinguishes one pathological key from a generally heavy head).

    Plan shape: one partial-aggregating groupBy on the key (map-side
    combine does the heavy lifting), then two tiny folds over the per-key
    count table — a global aggregate and a TakeOrdered top-N — joined by a
    1-row broadcast.  Both folds read the SAME key-count shuffle: AQE's
    ReuseExchange collapses the two identical aggregate subtrees, so the
    fact is scanned once (verified on the executed plan).  Nothing is
    collected; at 100 TB the per-key table is |keys| rows.
    """
    cnt = F.col("_cnt")
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_cnt"))
    summary = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("_cnt").alias("n_rows"),
        F.max("_cnt").alias("max_rows_per_key"),
    )
    top = (
        counts.orderBy(cnt.desc(), F.col(key_col).asc())
        .limit(top_n)
        .agg(F.sum("_cnt").alias("topn_rows"))
    )
    avg = F.col("n_rows") / F.col("n_keys")
    return summary.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "n_rows",
        "max_rows_per_key",
        F.round(avg, 6).alias("avg_rows_per_key"),
        F.round(F.col("max_rows_per_key") / avg, 6).alias("skew_ratio"),
        "topn_rows",
        F.round(F.col("topn_rows") / F.col("n_rows"), 6).alias("topn_share"),
    )
