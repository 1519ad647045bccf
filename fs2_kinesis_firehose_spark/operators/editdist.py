"""Edit-distance similarity self-join — segment-pigeonhole candidate
generation (PassJoin: Li, Deng, Wang, Feng, "PASS-JOIN: a partition-based
method for similarity joins", PVLDB 5(3), 2011) + exact Levenshtein verify.

The dedup family's missing member: Jaccard/containment/MinHash treat a
document as a token SET, so they cannot see typo-level near-duplicates of
SHORT strings (identifiers, titles, entity names) where one character
insert/delete/substitute is the whole difference.  The reference has no
string operators at all (its unit is an opaque byte record,
`RecordOps.scala:26`); this is the entity-resolution primitive a curation
pipeline runs over name/id columns.

Exactness argument (pigeonhole): partition each string ``s`` into ``k+1``
disjoint substrings ("segments").  An edit script of cost ≤ k touches at
most k of them, so at least ONE segment of ``s`` survives verbatim in
``t`` — contiguous and unbroken (no edit lies inside it) — at a start
position shifted by at most k (each edit shifts later positions by ≤ 1).
Hence every qualifying pair shares an exact (segment_index, substring)
key within a ±k position window, and a join on segment keys followed by a
Levenshtein(≤ k) verify returns EXACTLY the pairs at edit distance ≤ k —
the DuckDB oracle replays the quadratic definition and must match
bit-for-bit.  Strings too short to own k+1 non-empty segments
(len < k+1) cannot be partitioned; they are routed through a dedicated
bucket joined against the (length ≤ 2k)-bounded partner pool — any
qualifying partner of a < k+1-char string is ≤ 2k chars, so the bucket is
k-bounded, not data-sized.

Scale shape: candidates per segment bucket of frequency ``f`` cost O(f²),
so total candidate volume ≈ (k+1)·(2k+1)·N²/card(segment).  Boundaries
are therefore a LAYOUT decision: the ``boundaries`` parameter pins
segments onto the high-entropy region of template strings (serial
numbers, zero-padded ids) where the even default would waste segments on
constant prefixes/padding and melt into the quadratic join it exists to
avoid.  Everything below is built-in Column expressions; the probe/index
substring enumerations are ``transform`` lambdas over literal combo
arrays so the position arithmetic appears ONCE in the plan (a Python-
unrolled variant at k=2 emitted 75 inlined CASE trees and fell out of
whole-stage codegen).  The only shuffles are the segment-key join, the
candidate distinct, and whatever the caller aggregates; the Levenshtein
verify is Spark's JVM ``levenshtein(l, r, threshold)`` which early-exits
past the threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["editdist_selfjoin_pairs", "editdist_pair_counts"]


def _seg_start(length: Column, k: int, i: Column) -> Column:
    """Start (0-based) of segment ``i`` under the even k+1-way partition:
    the first ``length % (k+1)`` segments get one extra char."""
    base = (length / (k + 1)).cast("int")
    return i * base + F.least(i, length % (k + 1))


def _seg_len(length: Column, k: int, i: Column) -> Column:
    base = (length / (k + 1)).cast("int")
    return base + F.when(i < length % (k + 1), F.lit(1)).otherwise(F.lit(0))


def _index_side(
    df: DataFrame,
    text_col: str,
    key_col: str,
    k: int,
    boundaries: list[tuple[int, int]] | None,
) -> DataFrame:
    """One row per (string, segment): the string's own partition segments.
    Even mode excludes strings shorter than k+1 chars (no valid partition);
    those pairs come from the short-string bucket instead."""
    s = F.col(text_col)
    if boundaries is not None:
        need = max(st + ln for st, ln in boundaries)
        # Explicit boundaries are a precondition, not best-effort: a string
        # too short to span them silently loses its pigeonhole guarantee,
        # so fail the job instead.
        guard = F.assert_true(
            F.length(s) >= F.lit(need),
            F.concat(F.lit("editdist boundaries exceed string: "), s),
        )
        segs = F.array(
            *[
                F.struct(
                    F.lit(i).alias("seg_idx"),
                    F.when(guard.isNull(), F.substring(s, st + 1, ln)).alias("seg"),
                )
                for i, (st, ln) in enumerate(boundaries)
            ]
        )
        base = df
        return base.select(
            F.col(key_col).alias("key1"), s.alias("txt1"), F.explode(segs).alias("ix")
        ).select(
            "key1", "txt1",
            F.col("ix.seg_idx").alias("seg_idx"), F.col("ix.seg").alias("seg"),
        )
    idx = F.sequence(F.lit(0), F.lit(k))
    segs = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("seg_idx"),
            s.substr(_seg_start(F.length(s), k, i) + 1, _seg_len(F.length(s), k, i)).alias(
                "seg"
            ),
        ),
    )
    base = df.where(F.length(s) >= k + 1)
    return base.select(
        F.col(key_col).alias("key1"), s.alias("txt1"), F.explode(segs).alias("ix")
    ).select("key1", "txt1", F.col("ix.seg_idx").alias("seg_idx"), F.col("ix.seg").alias("seg"))


def _probe_side(
    df: DataFrame,
    text_col: str,
    key_col: str,
    k: int,
    boundaries: list[tuple[int, int]] | None,
) -> DataFrame:
    """One row per (string, segment slot, position shift): every substring
    of the probe string that could equal an index segment of a partner
    within edit distance k — slot start ± k and (even mode) every source
    length in [len−k, len+k]."""
    t = F.col(text_col)
    m = F.length(t)
    if boundaries is not None:
        # NOTE (measured): PassJoin's multi-match-aware window (§4.2 —
        # shift ∈ [−⌊(k−Δ)/2⌋, ⌊(k+Δ)/2⌋], Δ = len_t − len_s) was tried
        # here both as a post-join filter (carrying len1/len2/shift) and
        # inside the join condition; both were NET LOSSES at sf0.1
        # (6.2 s → 6.9 s / 11.7 s): the window drops ~40% of candidates,
        # but Spark's threshold Levenshtein verify is cheap enough that
        # the wider join rows / non-equi join condition cost more than
        # the pruned verifies saved.  The classic win assumes verify ≫
        # join, which codegen inverts.  Kept as the simple ±k window.
        subs = []
        for i, (st, ln) in enumerate(boundaries):
            for shift in range(-k, k + 1):
                pos = st + shift
                if pos < 0:
                    continue
                subs.append(
                    F.struct(
                        F.lit(i).alias("seg_idx"),
                        F.when(F.lit(pos + ln) <= m, F.substring(t, pos + 1, ln)).alias("seg"),
                    )
                )
        return (
            df.select(
                F.col(key_col).alias("key2"),
                t.alias("txt2"),
                F.explode(F.array_distinct(F.array(*subs))).alias("px"),
            )
            .select(
                "key2", "txt2",
                F.col("px.seg_idx").alias("seg_idx"), F.col("px.seg").alias("seg"),
            )
            .where(F.col("seg").isNotNull())
        )
    # Even mode: the source length is enumerated (ℓs = m + dl, Δ = −dl), so
    # the multi-match window DOES prune combos statically (zero runtime
    # cost, fewer probe rows): 10 of 18 survive at k=1, 39 of 75 at k=2.
    combos = F.array(
        *[
            F.struct(F.lit(dl).alias("dl"), F.lit(i).alias("i"), F.lit(sh).alias("sh"))
            for dl in range(-k, k + 1)
            for i in range(k + 1)
            for sh in range(-k, k + 1)
            if -((k - (-dl)) // 2) <= sh <= (k + (-dl)) // 2
        ]
    )

    def _sub(c: Column) -> Column:
        src_len = m + c["dl"]
        pos = _seg_start(src_len, k, c["i"]) + c["sh"]
        ln = _seg_len(src_len, k, c["i"])
        ok = (src_len >= k + 1) & (pos >= 0) & (ln > 0) & (pos + ln <= m)
        return F.struct(
            c["i"].alias("seg_idx"), F.when(ok, t.substr(pos + 1, ln)).alias("seg")
        )

    enumerated = F.transform(combos, _sub)
    return (
        df.select(
            F.col(key_col).alias("key2"),
            t.alias("txt2"),
            F.explode(F.array_distinct(enumerated)).alias("px"),
        )
        .select("key2", "txt2", F.col("px.seg_idx").alias("seg_idx"), F.col("px.seg").alias("seg"))
        .where(F.col("seg").isNotNull())
    )


def _probe_row_factor(k: int, boundaries: list[tuple[int, int]] | None) -> int:
    """Static count of probe rows emitted per distinct value (the explode
    width before the NULL-window filter) — mirrors the enumeration in
    ``_probe_side`` so the parallelism floor can size the probe exchange
    without touching the data."""
    if boundaries is not None:
        return sum(
            1
            for st, _ln in boundaries
            for shift in range(-k, k + 1)
            if st + shift >= 0
        )
    return sum(
        1
        for dl in range(-k, k + 1)
        for _i in range(k + 1)
        for sh in range(-k, k + 1)
        if -((k - (-dl)) // 2) <= sh <= (k + (-dl)) // 2
    )


# Target reduce-partition size for the probe-parallelism floor below: the
# floor engages only when the byte-estimated probe exchange would land
# UNDER defaultParallelism partitions of this size — i.e. exactly the
# regime where AQE's byte-based coalescing under-parallelizes the
# CPU-bound verify.  Module-level so tests can pin both gate directions.
_PROBE_FLOOR_TARGET_BYTES = 128 * 1024 * 1024


def _short_string_candidates(df: DataFrame, text_col: str, key_col: str, k: int) -> DataFrame:
    """Pairs whose smaller-key member is < k+1 chars (unpartitionable).
    Any qualifying partner is ≤ (k+1-1)+k = 2k chars, so both sides are
    length-bounded pools, not data-sized: the 1-key equi-join is quadratic
    only over the ≤2k-char stragglers (a corpus where THOSE are numerous
    has a quadratic true result anyway)."""
    s = F.col(text_col)
    shorts = df.where(F.length(s) < k + 1).select(
        F.lit(1).alias("one"), F.col(key_col).alias("ka"), s.alias("ta")
    )
    partners = df.where(F.length(s) <= 2 * k).select(
        F.lit(1).alias("one"), F.col(key_col).alias("kb"), s.alias("tb")
    )
    joined = shorts.join(partners, "one").where(F.col("ka") != F.col("kb"))
    return joined.select(
        F.least("ka", "kb").alias("key1"),
        F.greatest("ka", "kb").alias("key2"),
        F.when(F.col("ka") < F.col("kb"), F.col("ta")).otherwise(F.col("tb")).alias("txt1"),
        F.when(F.col("ka") < F.col("kb"), F.col("tb")).otherwise(F.col("ta")).alias("txt2"),
    )


def _validate(k: int, boundaries: list[tuple[int, int]] | None) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if boundaries is not None:
        if len(boundaries) != k + 1:
            raise ValueError(f"need exactly k+1={k + 1} boundaries, got {len(boundaries)}")
        ends = [st + ln for st, ln in boundaries]
        starts = [st for st, _ in boundaries]
        if any(ln <= 0 for _, ln in boundaries) or any(
            starts[j + 1] < ends[j] for j in range(len(boundaries) - 1)
        ):
            raise ValueError(f"boundaries must be positive-length, ordered, disjoint: {boundaries}")


def _slot_matches(j: int, k: int, boundaries: list[tuple[int, int]]) -> Column:
    """Post-join mirror of the probe emission for boundary slot ``j``: does
    index segment j of ``txt1`` occur in ``txt2`` within the ±k window?
    MUST replicate _probe_side's emission conditions exactly (pos ≥ 0,
    pos + ln ≤ len(txt2)) — used by the first-match dedup, whose
    exactly-once guarantee rests on this mirroring."""
    st, ln = boundaries[j]
    s1 = F.substring(F.col("txt1"), st + 1, ln)
    m2 = F.length(F.col("txt2"))
    cond: Column | None = None
    for sh in range(-k, k + 1):
        pos = st + sh
        if pos < 0:
            continue
        c = (F.lit(pos + ln) <= m2) & (F.substring(F.col("txt2"), pos + 1, ln) == s1)
        cond = c if cond is None else cond | c
    assert cond is not None
    return cond


def _slot_matches_even(j: int, k: int) -> Column:
    """Even-partition mirror of ``_probe_side``'s slot-``j`` emission: does
    index segment j of ``txt1`` (its own even partition) occur among the
    substrings the probe enumerates for ``txt2``?  Replicates the combo
    pre-filter (multi-match window over (dl, sh)) and every emission guard
    (src_len ≥ k+1, pos ≥ 0, ln > 0, pos+ln ≤ len) exactly — the
    exactly-once guarantee of the first-match dedup rests on this being a
    faithful mirror.  Value equality subsumes the implicit length match
    (unequal-length substrings can never compare equal)."""
    t1, t2 = F.col("txt1"), F.col("txt2")
    m1, m2 = F.length(t1), F.length(t2)
    jlit = F.lit(j)
    s1 = t1.substr(_seg_start(m1, k, jlit) + 1, _seg_len(m1, k, jlit))
    cond: Column | None = None
    for dl in range(-k, k + 1):
        src_len = m2 + dl
        lo, hi = -((k - (-dl)) // 2), (k + (-dl)) // 2
        for sh in range(lo, hi + 1):
            pos = _seg_start(src_len, k, jlit) + sh
            ln = _seg_len(src_len, k, jlit)
            c = (
                (src_len >= k + 1)
                & (pos >= 0)
                & (ln > 0)
                & (pos + ln <= m2)
                & (t2.substr(pos + 1, ln) == s1)
            )
            cond = c if cond is None else cond | c
    assert cond is not None
    return cond


def _first_match_keep(
    k: int, boundaries: list[tuple[int, int]] | None
) -> Column:
    """TRUE iff this candidate row's ``seg_idx`` is the SMALLEST slot whose
    index segment matches — every qualifying pair then survives on exactly
    ONE candidate row, making a downstream distinct unnecessary.  Pure
    map-side codegen ((k+1)·(2k+1) substring compares worst case with
    boundaries; (k+1)·(2k+1)² with the even partition's length
    enumeration)."""
    n_slots = k + 1 if boundaries is None else len(boundaries)
    keep: Column | None = None
    for i in range(n_slots):
        no_earlier = F.lit(True)
        for j in range(i):
            m = (
                _slot_matches_even(j, k)
                if boundaries is None
                else _slot_matches(j, k, boundaries)
            )
            no_earlier = no_earlier & ~m
        keep = (
            F.when(F.col("seg_idx") == i, no_earlier)
            if keep is None
            else keep.when(F.col("seg_idx") == i, no_earlier)
        )
    assert keep is not None
    return keep.otherwise(F.lit(False))


def editdist_selfjoin_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    *,
    k: int = 1,
    boundaries: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """All unordered pairs ``(key1 < key2, edit_dist)`` with
    ``levenshtein(text1, text2) <= k``.

    ``boundaries`` — optional list of exactly ``k+1`` ``(start, length)``
    0-based char ranges, pairwise disjoint and in order, that every input
    string spans (enforced with ``assert_true``).  They need NOT cover the
    whole string: the pigeonhole counts edit operations, and edits outside
    the covered region only shift it by ≤ k (absorbed by the probe
    window).  Omit for the fully general even partition of each string.
    """
    _validate(k, boundaries)
    index = _index_side(df, text_col, key_col, k, boundaries)
    probe = _probe_side(df, text_col, key_col, k, boundaries)
    cand = (
        index.join(probe, on=["seg_idx", "seg"])
        .where(F.col("key1") < F.col("key2"))
        .select("key1", "key2", "txt1", "txt2")
    )
    if boundaries is None:
        cand = cand.unionByName(_short_string_candidates(df, text_col, key_col, k))
    # Verify BEFORE deduplicating: the threshold Levenshtein is a cheap
    # early-exit JVM call evaluated map-side, so filtering first shrinks the
    # distinct's shuffle from the full candidate volume (Σ bucket f² rows,
    # each carrying both texts) down to true-pair multiplicity (≤
    # (k+1)(2k+1) copies per real pair, 3 narrow columns).  Measured 11 s →
    # ~6 s on the sf0.1 serial-name query.
    ed = F.levenshtein(F.col("txt1"), F.col("txt2"), k)
    return (
        cand.select("key1", "key2", ed.alias("edit_dist"))
        .where(F.col("edit_dist") >= 0)
        .distinct()
    )


def editdist_pair_counts(
    df: DataFrame,
    text_col: str,
    key_col: str,
    *,
    k: int = 1,
    boundaries: list[tuple[int, int]] | None = None,
    check_keys: bool = True,
) -> DataFrame:
    """Pair counts per exact edit distance ∈ [0, k] — the bounded-output
    accounting view (the full pair set at sf0.1 is ~10⁵ rows; the counts
    pin it just as hard because one wrong/missing pair moves a count).

    NEVER materializes the pair set (either mode): the ``_first_match_
    keep`` filter (smallest matching slot wins) makes every qualifying
    pair survive on exactly ONE candidate row — all map-side, directly on
    the segment-join output — so the only shuffle after the join is the
    (k+1)-row count aggregate.  The pairs-path ``distinct`` would shuffle
    the ~pair-set-sized survivor stream, which at 100 TB grows ~quadratic-
    in-density while the counts stay k+1 rows; this is why the accounting
    view exists.

    The dedup predicate rides INSIDE the aggregate as a conditional sum,
    not as a ``.where``: Catalyst pushes filters into the join's residual
    condition, where the CASE measured +75% on the whole query (8.7 s vs
    4.9 s at sf0.1) despite short-circuiting behind the Levenshtein test;
    as an aggregate input it runs once per verify-survivor in the partial
    agg, which is free.  Counts are identical: every group that has rows
    has each of its pairs' single keep row (non-keep duplicates of a pair
    carry the pair's own edit_dist), so no zero-count groups can appear.

    Counting is VALUE-LEVEL (the decisive 100-TB lever): the corpus first
    collapses to DISTINCT strings with multiplicities (one value-keyed
    partial-aggregated shuffle), the segment join runs over distinct
    values only, and every surviving value pair contributes
    ``cnt₁ · cnt₂`` key pairs; exact-duplicate (ed = 0) pairs never enter
    the join at all — they are the closed form ``Σ C(cnt, 2)``.  On a
    corpus where every string occurs r times this divides candidate
    volume by r² (measured on the 10×-replica sf1 smoke: the row-level
    join's 92 s collapsed to distinct-value scale); on duplicate-free
    data the extra groupBy costs one map-side-combined shuffle.  ``key_col``
    is not consulted for counting — value pairs are oriented by the string
    itself — so counts equal the pairs view's aggregate exactly when
    ``key_col`` is unique per row (the operators' shared contract: with
    duplicated keys, ``editdist_selfjoin_pairs``'s key1 < key2 drops
    same-key pairs and its distinct collapses repeat key pairs, while
    row-level counting keeps them).  ``check_keys=True`` (default)
    ENFORCES that contract in-plan: a one-row key-uniqueness aggregate
    (``count(*) == count(distinct key)`` over the non-null-text rows —
    one narrow map-side-combined shuffle) rides the result as a broadcast
    1-row cross join and ``assert_true`` fails the job loudly instead of
    returning numbers that silently don't reconcile with the pairs view.
    Pass ``check_keys=False`` only when key uniqueness is already
    guaranteed upstream (e.g. the key IS a primary key of the scan) —
    or when the value-level semantics are what you actually want.
    (When the result is empty — no qualifying pairs at any distance —
    the assert has no row to evaluate on; divergence is moot there.)

    Even-mode coverage splits exactly-once by the LEXICALLY-SMALLER value:
    indexable (≥ k+1 chars) pairs come from the segment join (the
    key1 < key2 filter fixes the index side to the smaller value, and the
    pigeonhole guarantees ≥ 1 surviving slot); pairs whose smaller value
    is SHORT come from the ordered fallback bucket (short values as key1,
    the ≤ 2k-char partner pool as key2 — each value pair built exactly
    once, no distinct).  The two sources are disjoint because the segment
    join has no index rows for short strings."""
    _validate(k, boundaries)
    s = F.col(text_col)
    g = (
        df.where(s.isNotNull())
        .groupBy(text_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        # consumed by up to 3 union legs (zero-ed closed form, segment join
        # index+probe, short-string fallback): checkpoint so the value-
        # collapse aggregate runs ONCE instead of once per leg
        .localCheckpoint(eager=False)
    )
    # the value string itself is the orientation key; multiplicity rides in
    # the struct so the join helpers stay unchanged
    gk = g.select(
        F.struct(s.alias("t"), F.col("_cnt").alias("c")).alias("_vkey"), text_col
    )
    zero_part = (
        g.where(F.col("_cnt") > 1)
        .agg(F.sum(F.expr("(_cnt * (_cnt - 1)) div 2")).alias("n_pairs"))
        .select(F.lit(0).cast("int").alias("edit_dist"), "n_pairs")
        .where(F.col("n_pairs").isNotNull())
    )
    index = _index_side(gk, text_col, "_vkey", k, boundaries)
    probe = _probe_side(gk, text_col, "_vkey", k, boundaries)
    # --- probe-parallelism floor (r14) ---
    # The segment join EXPANDS: verify CPU is proportional to candidate
    # PAIRS, not to input bytes, so byte-based sizing (AQE coalescing, or
    # the 1-partition value-collapse output feeding the broadcast-probe
    # stage) serializes the Levenshtein verify whenever the distinct-value
    # table is physically small — measured 8.8 s -> 1.8 s at sf0.1 on 32
    # cores (the verify ran on 1-2 tasks).  ONE stats fold over the
    # checkpointed value table (which the fold also materializes for the
    # three legs that reuse it) estimates the probe exchange's bytes from
    # the STATIC per-value explode width; when that lands under
    # max(defaultParallelism, shuffle partitions) 128 MB-target partitions,
    # the probe side is pinned to that width on the JOIN KEYS — REPARTITION_BY_NUM
    # is AQE-stable, and under a sort-merge fallback (index side too big
    # to broadcast) it IS the join's own exchange, so the floor re-sizes
    # an exchange that exists anyway rather than adding one.  At scale the
    # estimate clears the gate and the plan is untouched — the same
    # both-directions gating contract as the triangles wedge floor.
    stats = g.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(F.length(F.col(text_col))).alias("_len"),
    ).first()
    n_vals = int(stats["_n"] or 0)
    if n_vals:
        per_row = float(stats["_len"] or 0.0) * (1.0 + 1.0 / (k + 1)) + 48.0
        est_bytes = n_vals * _probe_row_factor(k, boundaries) * per_row
        # the width a sort-merge join's EnsureRequirements raises it to anyway
        spark = df.sparkSession
        floor = max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        if -(-int(est_bytes) // _PROBE_FLOOR_TARGET_BYTES) < floor:
            probe = probe.repartition(floor, "seg_idx", "seg")
    ed = F.levenshtein(F.col("txt1"), F.col("txt2"), k)
    keep = _first_match_keep(k, boundaries)
    w = (F.col("key1")["c"] * F.col("key2")["c"]).cast("long")
    seg_part = (
        index.join(probe, on=["seg_idx", "seg"])
        .where(F.col("key1") < F.col("key2"))  # struct order = value order
        .select("seg_idx", "txt1", "txt2", ed.alias("edit_dist"), w.alias("_w"))
        .where(F.col("edit_dist") >= 0)
        .groupBy("edit_dist")
        .agg(F.sum(F.when(keep, F.col("_w")).otherwise(F.lit(0))).alias("n_pairs"))
    )
    parts = seg_part.unionByName(zero_part)
    if boundaries is None:
        shorts = gk.where(F.length(s) < k + 1).select(
            F.lit(1).alias("one"), F.col("_vkey").alias("ka"), s.alias("ta")
        )
        partners = gk.where(F.length(s) <= 2 * k).select(
            F.lit(1).alias("one"), F.col("_vkey").alias("kb"), s.alias("tb")
        )
        ed2 = F.levenshtein(F.col("ta"), F.col("tb"), k)
        w2 = (F.col("ka")["c"] * F.col("kb")["c"]).cast("long")
        short_part = (
            shorts.join(partners, "one")
            .where(F.col("ka") < F.col("kb"))  # exactly-once orientation
            .select(ed2.alias("edit_dist"), w2.alias("_w"))
            .where(F.col("edit_dist") >= 0)
            .groupBy("edit_dist")
            .agg(F.sum("_w").alias("n_pairs"))
        )
        parts = parts.unionByName(short_part)
    out = parts.groupBy("edit_dist").agg(F.sum("n_pairs").alias("n_pairs"))
    if check_keys:
        chk = (
            df.where(s.isNotNull())
            .agg(
                (F.count(F.lit(1)) == F.count_distinct(F.col(key_col))).alias(
                    "_keys_ok"
                )
            )
        )
        out = (
            out.crossJoin(F.broadcast(chk))  # 1-row BNLJ idiom
            .where(
                F.assert_true(
                    F.col("_keys_ok"),
                    F.lit(
                        "editdist_pair_counts: duplicated or NULL key_col "
                        "values (count_distinct skips NULLs, so a NULL key "
                        "on a non-null-text row also trips this) — "
                        "value-level counts would diverge from "
                        "editdist_selfjoin_pairs (pass check_keys=False to "
                        "accept value-level semantics)"
                    ),
                ).isNull()
            )
            .drop("_keys_ok")
        )
    return out.orderBy("edit_dist")
