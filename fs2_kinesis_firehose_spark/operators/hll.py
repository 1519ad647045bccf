"""HyperLogLog distinct-count sketch AS A DATAFRAME — the cardinality member
of the sketch family (Misra–Gries: top-k, Count-Min: point frequency, KLL:
quantiles).  Flajolet–Fuset–Gandouet–Meunier 2007.

Why a table and not ``approx_count_distinct``: Spark's built-in HLL++ gives a
NUMBER, not a mergeable artifact — you cannot persist per-day register tables
and union them into a month, join them against a dimension, or hand them to
another engine.  The DataFrame form ``(bucket int, rho int)`` IS the sketch:

- build: one deterministic md5 hash per row (codegen, JVM-side) + ONE hash
  aggregate → ≤ 2^p rows regardless of input size;
- merge: ``union`` + ``groupBy(bucket).max(rho)`` — registers are max-linear,
  so sketches built on disjoint (or overlapping!) slices merge exactly;
- estimate: a one-row aggregate over ≤ 2^p rows.

Determinism is the whole design: the hash is md5 (identical in DuckDB and
the JVM), the register table is bit-for-bit reproducible cross-engine, and
the harmonic sum is kept as a SCALED INTEGER (sum of ``2^(rmax - rho)``,
≤ 2^(60-p+1+p) = 2^61 for p=12 — in-range for int64), so a SQL oracle can
re-derive every register and the exact sum without float-ordering hazards.
Only the final alpha·m²/S division is floating point, and it is one
deterministic op over two exact integers.

At 100 TB: the corpus is touched once per sketch build (no shuffle of raw
rows — the aggregate shuffles ≤ 2^p register partials per executor thanks to
partial aggregation); everything downstream is register-table-sized.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T

__all__ = ["hll_table", "hll_merge", "hll_estimate", "hll_alpha"]

_HASH_BITS = 60  # the widest T.md5_int hash


def hll_alpha(m: int) -> float:
    """Standard bias-correction constant α_m (FFGM §4, m ≥ 128)."""
    return 0.7213 / (1.0 + 1.079 / m)


def _check_p(p: int) -> None:
    if not 4 <= p <= 18:
        raise ValueError(f"need 4 <= p <= 18 (m = 2^p registers); got p={p}")


def hll_table(
    df: DataFrame,
    item_col: str,
    *,
    p: int = 12,
    salt: str = "hll",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Build the register table ``(bucket int, rho int)`` for the distinct
    count of ``item_col`` (NULLs ignored, as COUNT(DISTINCT) does).

    bucket = h mod 2^p over a 60-bit md5-derived hash; rho = position of the
    leftmost 1-bit in the remaining 60-p bits (1-based; all-zero remainder →
    60-p+1).  ``F.bin`` gives the minimal binary string, so the bit length
    of the remainder is ``length(bin(w))`` exactly — integer-exact, no
    float log2 edge cases.  Only non-zero registers are materialized
    (absent bucket ≡ register 0), keeping the table ≤ 2^p rows.
    """
    _check_p(p)
    m = 1 << p
    rmax = _HASH_BITS - p + 1
    salted = F.concat_ws("|", F.col(item_col).cast("string"), F.lit(salt))
    h = T.md5_int(salted, _HASH_BITS // 4).cast("long")
    # Exact integer floor-div: m = 2^p, so h div m == h >> p.  (A ``h / m``
    # double division would round at 53 bits — h is 60-bit, so for
    # h >= 2^53 the rounding could move w across a multiple-of-m boundary
    # and desync rho from the oracle's exact ``hv // m``.)
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(rmax)).otherwise(
        F.lit(_HASH_BITS - p) - F.length(F.bin(w)) + 1
    )
    # ``group_cols`` turns the sketch into a PER-SLICE register table
    # (group..., bucket, rho) — one mergeable distinct-count artifact per
    # group in the same ONE partial-aggregated pass; <= groups * 2^p rows.
    return (
        df.where(F.col(item_col).isNotNull())
        .select(
            *group_cols,
            (h % m).cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*tables: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Exact sketch union: registers are max-linear, so merging sketches of
    ANY overlapping slices equals the sketch of their union.  With
    ``group_cols`` the merge is per slice (same-group registers max)."""
    if not tables:
        raise ValueError("need at least one register table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy(*group_cols, "bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(
    registers: DataFrame, *, p: int = 12, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One-row estimate DataFrame from a register table:

    ``(n_nonzero bigint, scaled_sum bigint, estimate double)``

    ``scaled_sum = Σ_j 2^(rmax − M_j)`` over ALL m registers (empty ones
    contribute 2^rmax), an EXACT integer — the cross-engine-hashable form of
    the harmonic sum Σ 2^−M_j = scaled_sum / 2^rmax.  The estimate applies
    the standard small-range correction: raw = α·m²·2^rmax/scaled_sum;
    below 2.5·m with empty registers present, linear counting
    m·ln(m/zeros) takes over (FFGM §4).
    """
    _check_p(p)
    m = 1 << p
    rmax = _HASH_BITS - p + 1
    alpha = hll_alpha(m)
    grouped = registers.groupBy(*group_cols) if group_cols else registers
    agg = grouped.agg(
        F.count(F.lit(1)).alias("n_nonzero"),
        F.coalesce(
            # Python-API shiftleft takes only a literal count; the SQL form
            # accepts a column shift amount
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - rho)")),
            F.lit(0),
        ).alias("nz_sum"),
    )
    scaled = (
        F.col("nz_sum") + (F.lit(m) - F.col("n_nonzero")) * F.lit(1 << rmax).cast("long")
    ).alias("scaled_sum")
    raw = F.lit(alpha * m * m) * F.lit(float(1 << rmax)) / F.col("scaled_sum")
    zeros = F.lit(m) - F.col("n_nonzero")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, "n_nonzero", scaled).withColumn(
        "estimate", est.alias("estimate")
    )
