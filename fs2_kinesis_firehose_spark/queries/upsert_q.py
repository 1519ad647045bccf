"""Snapshot-upsert accounting query (operators/upsert.py).

The change batch is derived deterministically from the orders table itself
(update / delete / insert cohorts by key residue, mutually disjoint), so
both engines can rebuild it exactly.  The ENGINE applies the batch through
the operator's full-outer-join MERGE plan; the ORACLE classifies every key
directly from the residue rules — two independent mechanisms that must
agree on the per-action row counts and (exact, cents-domain) totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators.upsert import upsert_snapshot
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table

# exact cents: o_totalprice is a 2-dp value stored as double; *100 + ROUND
# lands on the same integer in both engines (value is within 1 ulp of it)
_CENTS = "CAST(ROUND({col} * 100) AS BIGINT)"


@query(
    "snapshot_upsert_accounting",
    oracle=f"""
    WITH snap AS (
        SELECT o_orderkey, o_totalprice FROM orders
    )
    SELECT 'unchanged' AS action, COUNT(*) AS n_rows,
           CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT) AS total_cents
    FROM snap WHERE o_orderkey % 10 <> 3 AND o_orderkey % 100 <> 55
    UNION ALL
    SELECT 'updated', COUNT(*),
           CAST(SUM({_CENTS.format(col="(o_totalprice + 7.77)")}) AS BIGINT)
    FROM snap WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT 'inserted', COUNT(*),
           CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT)
    FROM snap WHERE o_orderkey % 100 = 7
    UNION ALL
    SELECT 'deleted', COUNT(*),
           CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT)
    FROM snap WHERE o_orderkey % 100 = 55
    """,
)
def snapshot_upsert_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shaped batch apply on the orders snapshot: price-correct every
    key ≡3 (mod 10) (+7.77), delete every key ≡55 (mod 100), insert a
    negative-key copy of every key ≡7 (mod 100); account per action in
    exact cents.  The engine runs the operator's single full-outer-join
    plan; the oracle re-derives each cohort independently."""
    key = F.col("o_orderkey")
    snap = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    upd = snap.where(key % 10 == 3).select(
        key.alias("o_orderkey"),
        (F.col("o_totalprice") + F.lit(7.77)).alias("o_totalprice"),
        F.lit(False).alias("is_delete"),
    )
    dele = snap.where(key % 100 == 55).select(
        "o_orderkey", "o_totalprice", F.lit(True).alias("is_delete")
    )
    ins = snap.where(key % 100 == 7).select(
        (-key).alias("o_orderkey"),
        F.col("o_totalprice"),
        F.lit(False).alias("is_delete"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    merged = upsert_snapshot(
        snap, changes, "o_orderkey", delete_col="is_delete", action_col="action"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    live = merged.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum(cents).alias("total_cents")
    )
    deleted = dele.agg(
        F.lit("deleted").alias("action"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("total_cents"),
    )
    return live.unionByName(deleted)


def _scd2_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders as an SCD2 history: one open version per key, valid from 0."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )


def _tick(base: DataFrame, pred, delta: float, ts: int) -> DataFrame:
    """A change batch: the ``base`` keys ``pred`` keeps, repriced by
    ``delta`` at change time ``ts``."""
    return base.where(pred).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(delta)).alias("o_totalprice"),
        F.lit(ts).cast("long").alias("change_ts"),
    )


def _two_batch_history(base: DataFrame) -> DataFrame:
    """``base`` after two chained single-tick batches: keys ≡3 (mod 10)
    repriced +7.77 at 1000, then keys ≡13 (mod 100) +12.77 and a resend
    of the current price (a no-op) for keys ≡23 (mod 100) at 2000."""
    from fs2_kinesis_firehose_spark.operators.upsert import scd2_apply

    key = F.col("o_orderkey")
    b1 = _tick(base, key % 10 == 3, 7.77, 1000)
    b2 = _tick(base, key % 100 == 13, 12.77, 2000).unionByName(
        _tick(base, key % 100 == 23, 7.77, 2000)
    )
    # checkpoint BETWEEN chained applies: apply #2 reads its history three
    # ways (closed slice, NULL-key slice, current slice) and would otherwise
    # re-evaluate apply #1's join per consumer.  Both batches are one tick
    # per key, so the single-tick codegen fast path applies (r6 verdict #3:
    # the generalized chain logic made single-tick batches pay the
    # multi-tick HOF price — ~2x on this bench).
    h1 = scd2_apply(
        base, b1, "o_orderkey", "change_ts", single_tick=True
    ).localCheckpoint(eager=False)
    return scd2_apply(
        h1, b2, "o_orderkey", "change_ts", single_tick=True
    ).localCheckpoint(eager=False)


@query(
    "scd2_version_accounting",
    # Two chained SCD2 batches over the orders base (t=0):
    #   batch 1 @1000: keys ≡3 (mod 10) reprice +7.77
    #   batch 2 @2000: keys ≡13 (mod 100) reprice +12.77 (a REAL change on
    #     top of batch 1) and keys ≡23 (mod 100) resent at +7.77 — identical
    #     to their current version, so the no-op rule must suppress it.
    # Version-count cohorts are therefore closed-form; a missing no-op rule
    # (or a lost close) shifts a cohort and fails the hash.
    oracle=f"""
    SELECT 3 AS n_versions, COUNT(*) AS n_keys,
           CAST(SUM({_CENTS.format(col="(o_totalprice + 12.77)")}) AS BIGINT)
               AS current_cents
    FROM orders WHERE o_orderkey % 100 = 13
    UNION ALL
    SELECT 2, COUNT(*),
           CAST(SUM({_CENTS.format(col="(o_totalprice + 7.77)")}) AS BIGINT)
    FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 100 <> 13
    UNION ALL
    SELECT 1, COUNT(*),
           CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT)
    FROM orders WHERE o_orderkey % 10 <> 3
    """,
)
def scd2_version_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history tracking (operators/upsert.py:scd2_apply): two chained
    change batches over the orders base, then version-count cohorts with
    exact-cents current sums.  Exercises close+open, chaining, and the
    no-op suppression rule in one driver-hashed result."""
    h2 = _two_batch_history(_scd2_base(spark, sf_dir))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_key = h2.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.when(F.col("valid_to").isNull(), cents)).alias("cur_cents"),
    )
    return per_key.groupBy("n_versions").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cur_cents").alias("current_cents"),
    )


@query(
    "scd2_multi_tick_accounting",
    # ONE batch holding up to two ticks per key — the in-batch version-chain
    # path of scd2_apply (multi-tick CDC shape):
    #   keys ≡3 (mod 10):  tick @1000 reprice +7.77
    #   keys ≡13 (mod 100): + tick @2000 reprice +12.77 (chained real change)
    #   keys ≡23 (mod 100): + tick @2000 resend +7.77 (in-chain no-op)
    #   keys ≡7 (mod 100):  tick @1000 resend of the BASE price (leading
    #     no-op) + tick @2000 reprice +3.33 — current must open at 2000
    # ``current_from_sum`` (Σ valid_from over current versions) pins the
    # open/close timestamps, so a mis-timed close (e.g. a leading no-op
    # closing the base at 1000) shifts the sum and fails the hash.
    oracle=f"""
    SELECT 3 AS n_versions,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 13) AS n_keys,
           (SELECT CAST(SUM({_CENTS.format(col="(o_totalprice + 12.77)")}) AS BIGINT)
            FROM orders WHERE o_orderkey % 100 = 13) AS current_cents,
           (SELECT 2000 * COUNT(*) FROM orders WHERE o_orderkey % 100 = 13)
               AS current_from_sum
    UNION ALL
    SELECT 2,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 10 = 3 AND o_orderkey % 100 <> 13)
           + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 100 = 7),
           (SELECT CAST(SUM({_CENTS.format(col="(o_totalprice + 7.77)")}) AS BIGINT)
            FROM orders WHERE o_orderkey % 10 = 3 AND o_orderkey % 100 <> 13)
           + (SELECT CAST(SUM({_CENTS.format(col="(o_totalprice + 3.33)")}) AS BIGINT)
              FROM orders WHERE o_orderkey % 100 = 7),
           (SELECT 1000 * COUNT(*) FROM orders
            WHERE o_orderkey % 10 = 3 AND o_orderkey % 100 <> 13)
           + (SELECT 2000 * COUNT(*) FROM orders WHERE o_orderkey % 100 = 7)
    UNION ALL
    SELECT 1,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 10 <> 3 AND o_orderkey % 100 <> 7),
           (SELECT CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT)
            FROM orders WHERE o_orderkey % 10 <> 3 AND o_orderkey % 100 <> 7),
           0
    """,
)
def scd2_multi_tick_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 with MULTIPLE ticks per key in one batch (operators/upsert.py:
    scd2_apply's in-batch chain): chained close+open, in-chain no-op
    suppression, and the leading-resend rule, all accounted per version
    count with exact cents and a current-valid_from checksum."""
    key = F.col("o_orderkey")
    base = _scd2_base(spark, sf_dir)
    batch = (
        _tick(base, key % 10 == 3, 7.77, 1000)
        .unionByName(_tick(base, key % 100 == 7, 0.0, 1000))   # leading no-op resend
        .unionByName(_tick(base, key % 100 == 13, 12.77, 2000))
        .unionByName(_tick(base, key % 100 == 23, 7.77, 2000))  # in-chain no-op
        .unionByName(_tick(base, key % 100 == 7, 3.33, 2000))
    )
    from fs2_kinesis_firehose_spark.operators.upsert import scd2_apply

    h = scd2_apply(base, batch, "o_orderkey", "change_ts").localCheckpoint(
        eager=False
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cur = F.col("valid_to").isNull()
    per_key = h.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.when(cur, cents)).alias("cur_cents"),
        F.sum(F.when(cur, F.col("valid_from"))).alias("cur_from"),
    )
    return per_key.groupBy("n_versions").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cur_cents").alias("current_cents"),
        F.sum("cur_from").alias("current_from_sum"),
    )


@query(
    "snapshot_diff_accounting",
    # new snapshot derived from orders in closed form: keys ≡55 (mod 100)
    # dropped, keys ≡3 (mod 10) repriced +7.77, a negative-key copy of every
    # key ≡7 (mod 100) appended — so each diff action is an independent,
    # restatable cohort.  key_sum pins WHICH keys land in each class (the
    # added cohort's negated keys included), total_cents pins the emitted
    # column values (new-side for added/changed, old-side for removed).
    oracle=f"""
    WITH snap AS (SELECT o_orderkey, o_totalprice FROM orders)
    SELECT 'unchanged' AS action, COUNT(*) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT) AS total_cents
    FROM snap WHERE o_orderkey % 10 <> 3 AND o_orderkey % 100 <> 55
    UNION ALL
    SELECT 'changed', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           CAST(SUM({_CENTS.format(col="(o_totalprice + 7.77)")}) AS BIGINT)
    FROM snap WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT 'removed', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
           CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT)
    FROM snap WHERE o_orderkey % 100 = 55
    UNION ALL
    SELECT 'added', COUNT(*), CAST(SUM(-o_orderkey) AS BIGINT),
           CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT)
    FROM snap WHERE o_orderkey % 100 = 7
    """,
)
def snapshot_diff_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two ticks of the orders snapshot (operators/upsert.py
    ``snapshot_diff``) and account per action in exact cents — the
    change-data-feed audit: the engine classifies every key through ONE
    full-outer join, the oracle re-derives each cohort independently from
    the closed-form mutation, so a misclassified or value-mangled row in
    any class breaks the hash."""
    from fs2_kinesis_firehose_spark.operators.upsert import snapshot_diff

    key = F.col("o_orderkey")
    old = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    kept = old.where(key % 100 != 55).withColumn(
        "o_totalprice",
        F.when(key % 10 == 3, F.col("o_totalprice") + 7.77).otherwise(
            F.col("o_totalprice")
        ),
    )
    ins = old.where(key % 100 == 7).select(
        (-key).alias("o_orderkey"), "o_totalprice"
    )
    new = kept.unionByName(ins)
    d = snapshot_diff(old, new, "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return d.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(cents).alias("total_cents"),
    )


@query(
    "scd2_point_in_time_revenue",
    # the scd2_version_accounting history (batch1 @1000: %10==3 → +7.77;
    # batch2 @2000: %100==13 → +12.77, %100==23 no-op) probed AS OF three
    # epochs; each epoch's price is closed-form (13 ≡ 3 and 23 ≡ 3 mod 10,
    # so the 2500 lookup must layer the chains correctly).
    oracle=f"""
    WITH snap AS (SELECT o_orderkey, o_totalprice FROM orders)
    SELECT 500 AS lookup_ts, COUNT(*) AS n_rows,
           CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT) AS total_cents
    FROM snap
    UNION ALL
    SELECT 1500, COUNT(*),
           CAST(SUM({_CENTS.format(
               col="(CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 7.77 "
                   "ELSE o_totalprice END)")}) AS BIGINT)
    FROM snap
    UNION ALL
    SELECT 2500, COUNT(*),
           CAST(SUM({_CENTS.format(
               col="(CASE WHEN o_orderkey % 100 = 13 THEN o_totalprice + 12.77 "
                   "WHEN o_orderkey % 10 = 3 THEN o_totalprice + 7.77 "
                   "ELSE o_totalprice END)")}) AS BIGINT)
    FROM snap
    """,
)
def scd2_point_in_time_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) lookup against the SCD2 history
    (operators/upsert.py ``scd2_point_in_time_join``): every order key is
    probed at three epochs straddling the two change batches, and per
    epoch the looked-up prices are summed in exact cents — yesterday's
    fact sees yesterday's price.  A lookup that reads the wrong version
    (mis-ordered interval bounds, open-version mishandling, or a no-op
    that spuriously opened a version) shifts an epoch's sum and fails
    the hash."""
    from fs2_kinesis_firehose_spark.operators.upsert import scd2_point_in_time_join

    h2 = _two_batch_history(_scd2_base(spark, sf_dir))
    facts = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .withColumn(
            "lookup_ts", F.explode(F.array(F.lit(500), F.lit(1500), F.lit(2500)))
        )
        .withColumn("lookup_ts", F.col("lookup_ts").cast("long"))
    )
    joined = scd2_point_in_time_join(h2, facts, "o_orderkey", "lookup_ts")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return joined.groupBy("lookup_ts").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum(cents).alias("total_cents")
    )


@query(
    "mv_retraction_refresh_accounting",
    # the oracle is the FULL RECOMPUTE over the mutated snapshot — a hash
    # match proves fold(view, signed_delta) ≡ recompute for a CDC batch with
    # inserts, updates AND deletes (the retraction algebra: sums form a
    # group, so deletes fold exactly).
    oracle=f"""
    WITH snap AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    ),
    mutated AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 7.77
                    ELSE o_totalprice END AS p
        FROM snap WHERE o_orderkey % 100 <> 55
        UNION ALL
        SELECT o_orderpriority, o_totalprice FROM snap WHERE o_orderkey % 100 = 7
    )
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM({_CENTS.format(col="p")}) AS BIGINT) AS total_cents
    FROM mutated
    GROUP BY o_orderpriority
    """,
)
def mv_retraction_refresh_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-aware incremental MV maintenance: a per-priority
    SUM/COUNT view of orders is refreshed through a CDC batch containing
    UPDATES (keys ≡3 mod 10, +7.77), DELETES (≡55 mod 100) and INSERTS
    (≡7 mod 100) by folding SIGNED deltas (operators/mv.py
    ``signed_cdc_delta`` → ``fold_additive_agg``) — refresh cost ∝ |delta|.
    The oracle recomputes the view from the mutated snapshot from scratch;
    the hash match IS the proof that the incremental path equals the full
    recompute, deletes included."""
    from fs2_kinesis_firehose_spark.operators.mv import (
        fold_additive_agg,
        signed_cdc_delta,
    )

    key = F.col("o_orderkey")
    snap = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    view = snap.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum(cents).alias("total_cents")
    )
    new_cents = F.round((F.col("o_totalprice") + 7.77) * 100).cast("long")
    upd = snap.where(key % 10 == 3).select(
        F.col("o_orderpriority").alias("priority"),
        F.lit("changed").alias("action"),
        cents.alias("old_cents"),
        new_cents.alias("new_cents"),
    )
    dele = snap.where(key % 100 == 55).select(
        F.col("o_orderpriority").alias("priority"),
        F.lit("removed").alias("action"),
        cents.alias("old_cents"),
        F.lit(None).cast("long").alias("new_cents"),
    )
    ins = snap.where(key % 100 == 7).select(
        F.col("o_orderpriority").alias("priority"),
        F.lit("added").alias("action"),
        F.lit(None).cast("long").alias("old_cents"),
        cents.alias("new_cents"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    delta = signed_cdc_delta(
        changes,
        ["priority"],
        {"total_cents": ("old_cents", "new_cents")},
        count_col="n_orders",
    )
    return fold_additive_agg(view, delta, ["priority"], ["n_orders", "total_cents"])
