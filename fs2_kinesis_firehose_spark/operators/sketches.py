"""Mergeable frequency sketches: Misra–Gries heavy hitters.

The bounded-memory primitive every 100-TB vocabulary / hot-key / frequent-
n-gram job needs: find all items whose frequency exceeds ``phi·n`` without
ever materializing the full (item, count) table on one node.

Two-pass exact heavy hitters (the classic construction):

1. **Candidate generation** — a Misra–Gries summary with ``k`` counters per
   partition (``mapInPandas``, Arrow-batched: exact per-batch value_counts
   merged into a dict, compressed back to ``k`` counters whenever it
   overflows).  Per-partition summaries are merged with ONE hash aggregate
   (sum of weights) and compressed once more to ``k`` global counters
   in-plan (threshold = the (k+1)-th largest merged weight, computed by a
   TakeOrderedAndProject over the ≤ k·P-row summary table — metadata, not
   data).  By the mergeable-summaries theorem (Agarwal et al., PODS 2012)
   the result is a valid MG summary of the WHOLE dataset: any item with
   true count > n/(k+1) survives.  With ``k ≥ ceil(1/phi)`` (enforced)
   every phi-heavy item is therefore a candidate.
2. **Exact recount** — broadcast the ≤ k candidate keys back over the data,
   count exactly, keep ``count ≥ ceil(phi·n)``.  False positives from the
   sketch are removed here, so the OUTPUT is exact and deterministic —
   independent of partitioning, batch boundaries, and compress timing —
   which is what makes the operator oracle-checkable by plain SQL.

Scale shape: one narrow mapInPandas pass (O(k) state, ≤ k rows out per
partition), one ≤ k·P-row shuffle, one broadcast semi-join + one hash
aggregate over the data.  No driver-side data ever; the only driver
artifacts are Catalyst literals.  Skew-proof by construction (the sketch
pass has no keyed shuffle; the recount aggregates ≤ k distinct keys).

Reference scope note: the fs2-kinesis-firehose reference is a producer-side
connector (Firehose.scala) with no analytics surface; this operator is part
of the Tier-C training-data-pipeline extension mandated by SURVEY.md §2.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T

__all__ = [
    "misra_gries_summaries",
    "mg_merge_compress",
    "heavy_hitters",
    "count_min_table",
    "count_min_lookup",
    "ams_f2_sketch",
    "ams_f2_estimate",
]


def _compress(counters: dict, k: int) -> dict:
    """MG compress: keep ≤ k counters by subtracting the (k+1)-th largest
    weight from all and dropping non-positives.  Total undercount introduced
    across all compressions is ≤ n_partition/(k+1)."""
    if len(counters) <= k:
        return counters
    weights = sorted(counters.values(), reverse=True)
    t = weights[k]  # (k+1)-th largest
    return {item: w - t for item, w in counters.items() if w > t}


def misra_gries_summaries(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Per-partition Misra–Gries summaries → DataFrame(item, weight).

    ≤ k rows per input partition; each partition's summary undercounts any
    item by at most n_partition/(k+1).  NULL items are ignored (SQL-aggregate
    convention).  The dict is allowed to grow to 4·k between compressions
    so the O(k log k) compress amortizes over Arrow batches.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    item_field = df.schema[item_col]
    out_schema = f"item {item_field.dataType.simpleString()}, weight long"
    high_water = max(4 * k, k + 1)

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            vc = pdf[item_col].value_counts(dropna=True)
            for item, c in vc.items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > high_water:
                counters = _compress(counters, k)
        counters = _compress(counters, k)
        yield pd.DataFrame(
            {"item": list(counters.keys()), "weight": list(counters.values())}
        )

    return df.select(item_col).mapInPandas(summarize, schema=out_schema)


def mg_merge_compress(state: DataFrame, new: DataFrame, k: int) -> DataFrame:
    """Merge two Misra–Gries summaries (``item, weight`` DataFrames) and
    compress back to ≤ k counters — the mergeable-summary operation of
    Agarwal et al., "Mergeable summaries" (PODS 2012): sum weights, find
    the (k+1)-th largest, subtract it, keep positives.  Error adds: if the
    inputs undercount by ε₁n₁ and ε₂n₂ the merge undercounts by at most
    ε₁n₁ + ε₂n₂ + t where t is the subtracted threshold — overall still
    ≤ (n₁+n₂)/(k+1), so a micro-batch FOLD of per-batch summaries keeps
    the global no-false-negative guarantee for φ > 1/(k+1).

    Plan shape: one groupBy-sum over ≤ 2k (+k·partitions) rows, a
    TakeOrderedAndProject for the threshold, and a 1-row broadcast
    crossJoin — the exact in-plan compress idiom of ``heavy_hitters``;
    state size is bounded by k regardless of stream volume."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    merged = (
        state.unionByName(new)
        .groupBy("item")
        .agg(F.sum("weight").alias("weight"))
    )
    thr = (
        merged.orderBy(F.desc("weight")).limit(k + 1)
        .agg(
            F.when(F.count("*") >= k + 1, F.min("weight")).otherwise(F.lit(0)).alias("thr")
        )
    )
    return (
        merged.crossJoin(F.broadcast(thr))
        .where(F.col("weight") > F.col("thr"))
        .select("item", (F.col("weight") - F.col("thr")).alias("weight"))
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    phi: float,
    *,
    k: int | None = None,
    totals: DataFrame | None = None,
) -> DataFrame:
    """EXACT phi-heavy hitters: DataFrame(item, cnt) with
    ``cnt = exact count`` for every item whose count ≥ ceil(phi·n),
    n = number of non-NULL items.

    Threshold precision: ``ceil(phi·n)`` is evaluated in DOUBLE arithmetic
    on the double ``phi`` actually passed — for a decimal like 0.07 whose
    double is infinitesimally above the decimal value, ``0.07·100`` is
    7.000000000000001 and the cut becomes 8, not 7.

    ``k`` (counter budget) defaults to ``4·ceil(1/phi)``; any ``k ≥
    ceil(1/phi)`` preserves the no-false-negative guarantee — larger k only
    reduces recount false positives.  Output is exact regardless of k.

    ``totals``: optional 1-row DataFrame with a ``n`` long column giving the
    non-NULL item count.  When the item stream is derived (e.g. exploded
    n-grams behind a window pass), the caller can often compute n at scan
    speed from the pre-explosion table instead of re-evaluating the
    derivation a third time — pass it here.  Caller-supplied totals MUST
    equal the stream's true count or the phi cut is wrong.

    The items projection feeds the sketch pass AND the exact recount (and
    the count when ``totals`` is not given); when its lineage is a derived
    pipeline (tokenize → window → explode), every consumer would re-run
    it, so it is ``localCheckpoint(eager=False)``-pinned (the repo idiom
    from graph.py/fingerprint.py) and the derivation runs once.
    """
    if not (0.0 < phi <= 1.0):
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    k_min = math.ceil(1.0 / phi)
    if k is None:
        k = 4 * k_min
    if k < k_min:
        raise ValueError(
            f"k={k} breaks the heavy-hitter guarantee for phi={phi}; need k >= {k_min}"
        )

    items = (
        df.select(item_col)
        .where(F.col(item_col).isNotNull())
        .localCheckpoint(eager=False)
    )

    # Pass 1: per-partition sketches → merge → global compress to ≤ k.
    merged = (
        misra_gries_summaries(items, item_col, k)
        .groupBy("item")
        .agg(F.sum("weight").alias("w"))
    )
    # (k+1)-th largest merged weight (0 when < k+1 summaries survive);
    # TakeOrderedAndProject over ≤ k·P rows, then a 1-row broadcast BNLJ —
    # the repo-pinned crossJoin idiom (never a CartesianProduct).
    thr = (
        merged.orderBy(F.desc("w")).limit(k + 1)
        .agg(
            F.when(F.count("*") >= k + 1, F.min("w")).otherwise(F.lit(0)).alias("thr")
        )
    )
    candidates = (
        merged.crossJoin(F.broadcast(thr))
        .where(F.col("w") > F.col("thr"))
        .select(F.col("item").alias(item_col))
    )

    # Pass 2: exact recount of the ≤ k candidates + the phi·n cut.
    if totals is None:
        totals = items.agg(F.count("*").alias("n"))
    cut = F.ceil(F.lit(phi) * F.col("n")).cast("long")
    return (
        items.join(F.broadcast(candidates), item_col, "inner")
        .groupBy(item_col)
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(totals))
        .where(F.col("cnt") >= cut)
        .select(F.col(item_col).alias("item"), "cnt")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005)
# ---------------------------------------------------------------------------
# salt of the Count-Min row hashes, shared by the sketch build and its
# lookup; the SQL oracles (queries/sketch_q.py) restate it
_CM_SALT = "cm"


def _cm_hash(item, width: int, r: int):
    """Row-r CM column: first 32 bits of md5(item || 'cm' || r) mod width —
    the repo's engine-portable hash (bit-identical in DuckDB), so the whole
    sketch is deterministic and cross-engine restatable."""
    c = F.col(item) if isinstance(item, str) else item
    salted = F.concat(c.cast("string"), F.lit(f"{_CM_SALT}{r}"))
    return T.md5_int(salted, 8).cast("long") % width


def count_min_table(
    df: DataFrame,
    item_col: str,
    *,
    width: int = 1 << 12,
    depth: int = 4,
) -> DataFrame:
    """Count-Min sketch AS A DATAFRAME: ``(row int, col long, cnt long)``
    holding the non-zero counters — the point-frequency companion to the
    Misra–Gries top-k sketch above (CM answers "how often did THIS key
    occur" for ANY key, with one-sided error: estimates never undercount).

    Entirely JVM-side: one ``posexplode`` of the depth hash columns (md5 —
    codegen) + ONE hash aggregate; ≤ depth·width rows regardless of input
    size, mergeable by unioning tables and summing cnt (counters are
    linear).  NULL items are ignored.  Unlike the classic array form, the
    DataFrame form needs no driver fold at all — the sketch stays
    distributed, joins as a table, and a SQL oracle can recompute it
    bit-for-bit (deterministic hashes, exact counts).
    """
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2, depth >= 1; got {width}, {depth}")
    hashes = F.array(*[_cm_hash(item_col, width, r) for r in range(depth)])
    return (
        df.where(F.col(item_col).isNotNull())
        .select(F.posexplode(hashes).alias("row", "col"))
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_lookup(
    cm: DataFrame,
    probes: DataFrame,
    item_col: str,
    *,
    width: int = 1 << 12,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for each probe key: ``(item_col, cm_est)``
    with ``cm_est = min over rows of counter[r][h_r(key)]`` — ≥ the true
    count always (one-sided), ≤ true + 2n/width per row w.h.p.

    ``width``/``depth`` must match the build.  Probes explode to
    depth rows, broadcast-join the sketch table on (row, col), and take one
    min aggregate — probe-sized work, the corpus is never touched.
    """
    pos = probes.select(
        item_col,
        F.posexplode(
            F.array(*[_cm_hash(item_col, width, r) for r in range(depth)])
        ).alias("row", "col"),
    )
    return (
        pos.join(cm, ["row", "col"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )


# ---------------------------------------------------------------------------
# AMS (tug-of-war) second-moment sketch
# ---------------------------------------------------------------------------
def ams_f2_sketch(
    df: DataFrame,
    item_col: str,
    *,
    reps: int = 80,
) -> DataFrame:
    """AMS tug-of-war sketch (Alon–Matias–Szegedy, STOC 1996) of the second
    frequency moment F2 = Σ_k c_k² as ONE row of ``reps`` integer sums:
    ``s_r = Σ_rows sign_r(item)``.  Each ``s_r²`` is an unbiased estimator
    of F2 (Var ≤ 2·F2²); callers average within groups and take a median
    across groups (``ams_f2_estimate``) for the standard concentration.
    ``sign_r`` is bit ``r % 32`` of the 32-bit word ``conv(md5(item ||
    '|ams' || r // 32)[1:8], 16, 10)`` mapped to ±1: one md5 serves 32
    repetitions, and DuckDB restates the word as ``CAST(CONCAT('0x',
    SUBSTRING(md5(..), 1, 8)) AS BIGINT)`` with the identical shift/mask,
    so the sums (exact integers) are bit-comparable cross-engine.

    F2 is the self-join size / collision mass of a key column — the
    skew statistic that decides salting and partition strategy at 100 TB,
    estimated here in one narrow scan with O(reps) state and NO keyed
    shuffle (a plain groupBy(count²) pays a full shuffle on the key).
    The sketch is mergeable: sums are linear, so per-slice sketch rows
    fold by elementwise addition.

    Entirely JVM-side codegen: ``ceil(reps/32)`` md5 calls per row + one
    aggregate returning a single ``reps``-column integer row.  NULL items
    are ignored.
    """
    if reps < 1:
        raise ValueError(f"need reps >= 1; got {reps}")
    # Materialize the hash WORDS as a PROJECTION before the aggregate: the
    # md5 + string conv run once per block per row (codegen does not share
    # subexpressions across aggregate functions — per-rep re-evaluation
    # measured 5x the aggregate's cost on the bigram bench); each of the
    # ``reps`` sum expressions is then a long shift+mask.
    n_blocks = (reps + 31) // 32
    rows = df.where(F.col(item_col).isNotNull()).select(
        *[
            T.md5_int(
                F.concat(F.col(item_col).cast("string"), F.lit(f"|ams{b}")), 8
            )
            .cast("long")
            .alias(f"_w{b}")
            for b in range(n_blocks)
        ]
    )
    sums = []
    for r in range(reps):
        block, pos = divmod(r, 32)
        bit = F.shiftright(F.col(f"_w{block}"), pos).bitwiseAND(F.lit(1))
        sums.append(F.sum(bit * 2 - 1).cast("long").alias(f"s{r}"))
    return rows.agg(*sums)


def ams_f2_estimate(
    sketch: DataFrame,
    *,
    reps: int = 80,
    groups: int = 5,
) -> DataFrame:
    """Median-of-means F2 estimate from an ``ams_f2_sketch`` row: the
    ``reps`` squared sums are averaged within ``groups`` equal groups
    (Var/size_per_group), and the median group mean is the estimate —
    the AMS concentration recipe verbatim.

    Everything stays integer until the final division: group sums of
    squares are exact int64 (``s_r² ≤ n²``), the median picks an exact
    integer, and the returned columns are ``(g0..g{groups-1},
    median_sq_sum)`` plus ``f2_estimate = median_sq_sum / per_group`` —
    so a SQL oracle can hash the integer state and restate the one
    division exactly."""
    if reps % groups != 0:
        raise ValueError(f"groups={groups} must divide reps={reps}")
    per = reps // groups
    gcols = [
        sum(
            (F.col(f"s{g * per + i}") * F.col(f"s{g * per + i}") for i in range(per)),
            F.lit(0).cast("long"),
        ).alias(f"g{g}")
        for g in range(groups)
    ]
    out = sketch.select(*gcols)
    med = F.element_at(
        F.array_sort(F.array(*[F.col(f"g{g}") for g in range(groups)])),
        groups // 2 + 1,
    ).alias("median_sq_sum")
    return out.select(
        *[f"g{g}" for g in range(groups)],
        med,
    ).withColumn("f2_estimate", F.col("median_sq_sum") / F.lit(float(per)))
