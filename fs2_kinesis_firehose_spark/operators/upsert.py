"""Batch snapshot upsert: MERGE-shaped SCD1 apply without a table format.

``MERGE INTO`` needs Delta/Iceberg; a plain-parquet pipeline still has
mutable reference tables (label stores, metadata, account snapshots) that
take periodic change batches.  This operator applies one change batch to a
snapshot in a single full-outer join — the declarative form Catalyst can
plan as one shuffle (or exchange-free on co-bucketed layouts).

Semantics (per key):

- key only in snapshot → **unchanged** (kept as-is)
- key in changes with the delete flag set → **deleted** (dropped)
- key in both (no delete) → **updated** (change row's columns win)
- key only in changes (no delete) → **inserted**

Changes must be unique per key; pass ``version_col`` to resolve multi-row
batches (highest version wins — the latest-wins rule a CDC compactor
applies).  Determinism requires ``(key, version)`` unique: equal versions
on one key have no defined winner, the same contract MERGE itself has.
Output schema = snapshot schema (+ optional ``_action`` audit column for
accounting queries).

At 100 TB: one shuffle on the key for the join (plus one keyed window pass
only when ``version_col`` dedup is requested); no driver-side state; the
result is deterministic under retries, so writing it through an idempotent
sink gives exactly-once snapshot publication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["upsert_snapshot", "scd2_apply", "snapshot_diff", "scd2_point_in_time_join"]


def upsert_snapshot(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    *,
    delete_col: str | None = None,
    version_col: str | None = None,
    action_col: str | None = None,
) -> DataFrame:
    """Apply ``changes`` to ``snapshot`` (see module docstring for the
    per-key rules).  ``changes`` must contain ``key_col`` and every
    snapshot data column (plus optional delete/version columns)."""
    data_cols = [c for c in snapshot.columns if c != key_col]
    missing = [c for c in [key_col, *data_cols] if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing snapshot columns: {missing}")

    # NULL-key change rows are dropped: a NULL key matches nothing in a
    # full-outer join, and without this filter such a row would surface as
    # a phantom all-NULL "unchanged" output row (the in_change flag below
    # is derived from c.key IS NOT NULL).
    ch = changes.where(F.col(key_col).isNotNull())
    if version_col is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy(key_col).orderBy(F.desc(version_col))
        ch = (
            ch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    is_delete = (
        F.coalesce(F.col(f"c.{delete_col}"), F.lit(False))
        if delete_col is not None
        else F.lit(False)
    )

    s = snapshot.alias("s")
    c = ch.alias("c")
    joined = s.join(c, F.col(f"s.{key_col}") == F.col(f"c.{key_col}"), "full_outer")
    in_change = F.col(f"c.{key_col}").isNotNull()
    in_snap = F.col(f"s.{key_col}").isNotNull()

    out = joined.where(~(in_change & is_delete)).select(
        F.coalesce(F.col(f"c.{key_col}"), F.col(f"s.{key_col}")).alias(key_col),
        *[
            F.when(in_change, F.col(f"c.{d}")).otherwise(F.col(f"s.{d}")).alias(d)
            for d in data_cols
        ],
        F.when(in_change & in_snap, F.lit("updated"))
        .when(in_change, F.lit("inserted"))
        .otherwise(F.lit("unchanged"))
        .alias("_action"),
    )
    if action_col is None:
        return out.drop("_action")
    return out.withColumnRenamed("_action", action_col)


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    key_col: str,
    change_ts_col: str,
    *,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    single_tick: bool = False,
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply one change batch to a history
    table, preserving full lineage as validity intervals.

    ``history`` rows carry ``[from_col, to_col)`` with ``to_col`` NULL on
    the current version; ``changes`` carries the key, every data column,
    and ``change_ts_col``.  The batch may hold MULTIPLE ticks per key (the
    shape real CDC feeds have): each key's changes are applied in
    ``change_ts_col`` order as an in-batch version chain.  Per key:

    - each change whose data differs from the version in force just before
      its timestamp opens a version at its ts and closes the previous one
      (the pre-batch current row, or the previously opened in-batch version)
    - a change identical to the version in force is a NO-OP (no spurious
      version — the standard SCD2 idempotence rule, applied at every link
      of the chain, including a leading resend of the current version)
    - a key with no current version opens its first version at its first
      effective change

    Closed historical rows are never touched; current rows with a NULL key
    pass through unchanged (a NULL key can never match a change — the
    lossless contract; NULL-key CHANGE rows are dropped, as in
    ``upsert_snapshot``).  ``(key, change_ts)`` must be unique — equal
    timestamps on one key have no defined order (the same contract MERGE
    has for duplicate match rows).

    Scale shape — the SAME shuffle budget as a single-tick MERGE: each
    key's ticks collapse to ONE sorted array (one batch-sized aggregate),
    then ONE full-outer join current-slice ⋈ chains, and everything else —
    run compression, the leading-no-op rule, interval assembly — is
    row-local array logic (filter/transform/slice, codegen) emitted through
    a single explode.  The batch shuffles once, the current slice shuffles
    once, nothing is evaluated twice, and history only ever streams through
    the closed-slice union.  Deterministic under retries like
    ``upsert_snapshot``.

    ``single_tick=True`` is the fast path for batches the CALLER knows hold
    at most ONE tick per key (the common compacted-CDC / daily-snapshot
    shape): the chain aggregate and the array/HOF assembly are skipped for
    a direct current ⋈ batch full-outer join whose three output branches
    (kept current, closed, opened) are plain codegen projections — the
    chain logic degenerates to exactly this when every chain has length 1,
    so the results are identical (pytest-pinned), but the hot path stays
    inside whole-stage codegen instead of interpreted higher-order-function
    evaluation (~2× on the version-accounting bench).  Like the
    ``(key, ts)``-uniqueness contract, single-tick-ness is a caller
    contract: a multi-tick batch under ``single_tick=True`` duplicates the
    joined current row per tick (MERGE's duplicate-match behavior) instead
    of chaining.
    """
    if single_tick:
        return _scd2_apply_single_tick(
            history, changes, key_col, change_ts_col,
            from_col=from_col, to_col=to_col,
        )
    data_cols, closed, null_key_current, cur = _scd2_slices(
        history, changes, key_col, change_ts_col, from_col, to_col
    )
    to_type = history.schema[to_col].dataType
    from_type = history.schema[from_col].dataType

    # one aggregate: each key's ticks as a ts-sorted array of structs
    # (struct ordering sorts by _ts first; (key, ts) uniqueness is the
    # caller contract)
    dstruct = F.struct(*[F.col(d).alias(d) for d in data_cols])
    chains = (
        changes.where(F.col(key_col).isNotNull())
        .select(
            key_col,
            F.struct(
                F.col(change_ts_col).alias("_ts"), dstruct.alias("_d")
            ).alias("_tick"),
        )
        .groupBy(key_col)
        .agg(F.sort_array(F.collect_list("_tick")).alias("_chain"))
    )

    s = cur.withColumn("_s", F.lit(True)).alias("s")
    c = chains.alias("c")
    j = s.join(c, F.col(f"s.{key_col}") == F.col(f"c.{key_col}"), "full_outer")
    in_cur = F.coalesce(F.col("_s"), F.lit(False))
    sd = F.struct(*[F.col(f"s.{d}").alias(d) for d in data_cols])
    raw = F.coalesce(F.col("_chain"), F.array().cast(chains.schema["_chain"].dataType))

    # run compression, row-local: keep tick i iff it differs from the RAW
    # predecessor (equality is transitive within runs, so raw-predecessor
    # comparison equals kept-predecessor comparison); then the leading-
    # no-op rule drops the first survivor when it resends the current data
    comp = F.filter(
        raw,
        lambda x, i: (i == F.lit(0)) | ~x["_d"].eqNullSafe(F.get(raw, i - 1)["_d"]),
    )
    lead_noop = in_cur & (F.size(comp) > 0) & F.get(comp, 0)["_d"].eqNullSafe(sd)
    eff = F.when(
        lead_noop, F.slice(comp, 2, F.greatest(F.size(comp) - 1, F.lit(0)))
    ).otherwise(comp)

    # assemble EVERY output row for the key as one concatenated array —
    # the (kept or closed) pre-batch current row, then one row per
    # effective tick closing at the next tick — and explode ONCE
    close_ts = F.when(F.size(eff) > 0, F.get(eff, 0)["_ts"])
    cur_row = F.when(
        in_cur,
        F.array(
            F.struct(
                *[F.col(f"s.{d}").alias(d) for d in data_cols],
                F.col(f"s.{from_col}").alias(from_col),
                close_ts.cast(to_type).alias(to_col),
            )
        ),
    ).otherwise(F.array())
    vers = F.transform(
        eff,
        lambda x, i: F.struct(
            *[x["_d"][d].alias(d) for d in data_cols],
            x["_ts"].cast(from_type).alias(from_col),
            F.get(eff, i + 1)["_ts"].cast(to_type).alias(to_col),
        ),
    )
    key_out = F.coalesce(F.col(f"s.{key_col}"), F.col(f"c.{key_col}"))
    applied = j.select(
        key_out.alias(key_col), F.explode(F.concat(cur_row, vers)).alias("_r")
    ).select(key_col, *[F.col(f"_r.{c}") for c in [*data_cols, from_col, to_col]])

    return closed.unionByName(null_key_current).unionByName(applied)


def _scd2_slices(
    history: DataFrame,
    changes: DataFrame,
    key_col: str,
    change_ts_col: str,
    from_col: str,
    to_col: str,
) -> tuple[list[str], DataFrame, DataFrame, DataFrame]:
    """``(data_cols, closed, null_key_current, current)``: the history's
    data columns (checked present in ``changes``), its closed rows, and its
    current rows split by key.  NULL-key current rows are routed through
    unchanged (they cannot match any change); only the non-NULL-key current
    rows join the batch."""
    data_cols = [
        c for c in history.columns if c not in (key_col, from_col, to_col)
    ]
    missing = [
        c for c in [key_col, *data_cols, change_ts_col] if c not in changes.columns
    ]
    if missing:
        raise ValueError(f"changes is missing columns: {missing}")
    closed = history.where(F.col(to_col).isNotNull())
    cur_all = history.where(F.col(to_col).isNull())
    null_key_current = cur_all.where(F.col(key_col).isNull())
    return data_cols, closed, null_key_current, cur_all.where(F.col(key_col).isNotNull())


def _scd2_apply_single_tick(
    history: DataFrame,
    changes: DataFrame,
    key_col: str,
    change_ts_col: str,
    *,
    from_col: str,
    to_col: str,
) -> DataFrame:
    """The length-1-chain specialization of ``scd2_apply`` (see its
    docstring): one full-outer join of the current slice against the batch,
    then a SINGLE pass that emits 0-2 rows per joined key by exploding an
    inline 2-slot array (old-row slot, new-row slot) — not a union of
    filtered branches, which would merge-execute the joined stream once per
    branch (ReusedExchange dedupes only the shuffles, not the join).
    Semantics per key are the chain rules at chain length 1 — a differing
    change closes the current row at its ts and opens a new one; an
    identical resend is a no-op (the leading-no-op rule); an unmatched
    change opens a first version.  NULL-key current rows are routed through
    UNCHANGED before the join (the in_cur flag is key-derived, so they
    cannot ride the join-miss branch — the exact row-loss the chain path's
    null_key_current slice guards against); NULL-key changes are
    dropped."""
    data_cols, closed, null_key_current, cur = _scd2_slices(
        history, changes, key_col, change_ts_col, from_col, to_col
    )
    cur = cur.alias("s")
    to_type = history.schema[to_col].dataType
    from_type = history.schema[from_col].dataType
    c = changes.where(F.col(key_col).isNotNull()).alias("c")
    j = cur.join(c, F.col(f"s.{key_col}") == F.col(f"c.{key_col}"), "full_outer")
    in_change = F.col(f"c.{key_col}").isNotNull()
    in_cur = F.col(f"s.{key_col}").isNotNull()
    differs = in_change & in_cur & ~F.struct(
        *[F.col(f"s.{d}") for d in data_cols]
    ).eqNullSafe(F.struct(*[F.col(f"c.{d}") for d in data_cols]))

    # an unmatched F.when yields a NULL of the struct type (not an
    # all-null-fields struct), which array_compact then drops
    old_row = F.when(
        in_cur,
        F.struct(
            F.col(f"s.{key_col}").alias(key_col),
            *[F.col(f"s.{d}").alias(d) for d in data_cols],
            F.col(f"s.{from_col}").alias(from_col),
            # close at the change ts iff the change actually differs
            F.when(differs, F.col(f"c.{change_ts_col}").cast(to_type)).alias(to_col),
        ),
    )
    new_row = F.when(
        differs | (in_change & ~in_cur),
        F.struct(
            F.col(f"c.{key_col}").alias(key_col),
            *[F.col(f"c.{d}").alias(d) for d in data_cols],
            F.col(f"c.{change_ts_col}").cast(from_type).alias(from_col),
            F.lit(None).cast(to_type).alias(to_col),
        ),
    )
    applied = (
        j.select(
            F.explode(F.array_compact(F.array(old_row, new_row))).alias("_r")
        )
        .select(
            F.col(f"_r.{key_col}").alias(key_col),
            *[F.col(f"_r.{d}").alias(d) for d in data_cols],
            F.col(f"_r.{from_col}").alias(from_col),
            F.col(f"_r.{to_col}").alias(to_col),
        )
    )
    return closed.unionByName(null_key_current).unionByName(applied)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    *,
    compare_cols: list[str] | None = None,
    action_col: str = "action",
) -> DataFrame:
    """CDC-style diff of two snapshots of the same keyed table: classify
    every key as ``added`` (new only), ``removed`` (old only), ``changed``
    (both, any compared column differs) or ``unchanged`` — the change feed
    a table format would emit, derived from plain snapshots.  This is the
    inverse of :func:`upsert_snapshot` (diff(old, upsert(old, c)) recovers
    the effect of ``c``) and the audit tool for "what did this pipeline
    run actually change?".

    Output: key + compared columns (new-side values, old-side for removed
    rows) + the action column.  Column comparison is null-safe (NULL vs
    NULL is unchanged; NULL vs value is changed).

    At 100 TB: ONE full-outer hash join on the key — co-partitioned and
    exchange-free when both snapshots are written bucketed by the key
    (the layout a periodically-diffed table should have); otherwise one
    shuffle per side.  No driver state, no collect.
    """
    cols = compare_cols or [c for c in old.columns if c != key_col]
    missing = [c for c in cols if c not in new.columns]
    if missing:
        raise ValueError(f"compare_cols missing from new snapshot: {missing}")
    o = old.select(
        F.col(key_col).alias("_ok"),
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in cols],
    )
    n = new.select(
        F.col(key_col).alias("_nk"),
        F.lit(True).alias("_in_new"),
        *[F.col(c) for c in cols],
    )
    # Null-safe join condition so NULL keys pair with NULL keys; side
    # membership comes from explicit presence flags, not key nullness (a
    # NULL-keyed unmatched old row would otherwise misclassify as 'added').
    j = o.join(n, o["_ok"].eqNullSafe(n["_nk"]), "full_outer")
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"_o_{c}").eqNullSafe(F.col(c))
    action = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = [F.coalesce(F.col("_nk"), F.col("_ok")).alias(key_col)]
    out += [
        F.when(F.col("_in_new").isNull(), F.col(f"_o_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in cols
    ]
    return j.select(*out, action.alias(action_col))


def scd2_point_in_time_join(
    history: DataFrame,
    facts: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """AS-OF dimension lookup against an SCD2 history: each fact row joins
    the dimension version in force at its timestamp
    (``from_col <= ts < to_col``, NULL ``to_col`` = still open) — the
    consumer side of :func:`scd2_apply` and the join that makes historical
    reprocessing correct (yesterday's fact must see yesterday's dimension,
    not today's).

    Output: facts columns + the history's data columns (everything except
    key/validity).  Inner join: facts before the key's first version drop
    out, exactly like a point-in-time SQL lookup.

    At 100 TB: ONE equi-hash-join on the key with the interval predicate
    evaluated as a join residual — per key the version chain is short, so
    the residual scans a handful of rows; no interval explosion, no window
    pass over the fact table.  Co-bucket both sides by the key to make it
    exchange-free.
    """
    data_cols = [c for c in history.columns if c not in (key_col, from_col, to_col)]
    clash = [c for c in data_cols if c in facts.columns]
    if clash:
        raise ValueError(f"history data columns clash with fact columns: {clash}")
    h = history.select(
        F.col(key_col).alias("_hk"),
        F.col(from_col).alias("_vf"),
        F.col(to_col).alias("_vt"),
        *[F.col(c) for c in data_cols],
    )
    cond = (
        (facts[ts_col] >= h["_vf"])
        & (h["_vt"].isNull() | (facts[ts_col] < h["_vt"]))
        & (facts[key_col] == h["_hk"])
    )
    return facts.join(h, cond, "inner").select(*facts.columns, *data_cols)
