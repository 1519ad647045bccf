"""editdist_selfjoin_pairs vs the quadratic brute-force definition.

The candidate filter (PassJoin segment pigeonhole) claims LOSSLESSNESS, so
the whole pair set — keys AND distances — must equal the O(n²) dynamic-
programming answer on every input, including adversarial ones (shared
prefixes, repeated chars, length spreads, unicode)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

from fs2_kinesis_firehose_spark.operators.editdist import (
    editdist_pair_counts,
    editdist_selfjoin_pairs,
)


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute(strings: dict[int, str], k: int) -> set[tuple[int, int, int]]:
    keys = sorted(strings)
    out = set()
    for i, k1 in enumerate(keys):
        for k2 in keys[i + 1 :]:
            d = _lev(strings[k1], strings[k2])
            if d <= k:
                out.add((k1, k2, d))
    return out


def _spark_pairs(spark, strings, k, boundaries=None):
    df = spark.createDataFrame([Row(key=i, s=s) for i, s in strings.items()])
    got = editdist_selfjoin_pairs(df, "s", "key", k=k, boundaries=boundaries)
    return {(r.key1, r.key2, r.edit_dist) for r in got.collect()}


@pytest.mark.parametrize("k", [1, 2])
def test_even_partition_matches_bruteforce_random(spark, k):
    rng = random.Random(42 + k)
    alphabet = "abc"  # tiny alphabet => dense near-pairs
    strings = {
        i: "".join(rng.choice(alphabet) for _ in range(rng.randint(k + 1, 9)))
        for i in range(120)
    }
    assert _spark_pairs(spark, strings, k) == _brute(strings, k)


def test_even_partition_handles_length_spread_and_unicode(spark):
    strings = {
        0: "düsseldorf",
        1: "dusseldorf",
        2: "düsseldorff",
        3: "ssseldorf",
        4: "düsseldorf2021",
        5: "dü",
        6: "d",
        7: "aa",
        8: "ab",
        9: "ba",
    }
    for k in (1, 2):
        assert _spark_pairs(spark, strings, k) == _brute(strings, k)


@pytest.mark.parametrize("k", [1, 2])
def test_template_boundaries_match_bruteforce(spark, k):
    """Zero-padded serial numbers: boundaries pinned to the digit region."""
    rng = random.Random(7)
    strings = {i: f"unit#{rng.randrange(10**4):09d}" for i in range(300)}
    # region [5, 14) == the 9 digits; split into k+1 ranges
    if k == 1:
        boundaries = [(5, 5), (10, 4)]
    else:
        boundaries = [(5, 3), (8, 3), (11, 3)]
    got = _spark_pairs(spark, strings, k, boundaries=boundaries)
    assert got == _brute(strings, k)


def test_counts_view_aggregates_pairs(spark):
    strings = {0: "kitten", 1: "sitten", 2: "sittin", 3: "mitten", 4: "kitten"}
    df = spark.createDataFrame([Row(key=i, s=s) for i, s in strings.items()])
    rows = {r.edit_dist: r.n_pairs for r in editdist_pair_counts(df, "s", "key", k=2).collect()}
    brute = _brute(strings, 2)
    expect = {}
    for _, _, d in brute:
        expect[d] = expect.get(d, 0) + 1
    assert rows == expect
    assert rows.get(0) == 1  # the duplicate "kitten" pair


def test_boundary_validation():
    import pyspark.sql.functions  # noqa: F401  (import side effects only)

    from fs2_kinesis_firehose_spark.operators import editdist as E

    with pytest.raises(ValueError, match="k must be"):
        E.editdist_selfjoin_pairs(None, "s", "key", k=0)
    with pytest.raises(ValueError, match="exactly k\\+1"):
        E.editdist_selfjoin_pairs(None, "s", "key", k=1, boundaries=[(0, 2)])
    with pytest.raises(ValueError, match="disjoint"):
        E.editdist_selfjoin_pairs(None, "s", "key", k=1, boundaries=[(0, 3), (2, 2)])


def test_short_string_violating_boundaries_fails_loudly(spark):
    df = spark.createDataFrame([Row(key=0, s="abcdef"), Row(key=1, s="abc")])
    pairs = editdist_selfjoin_pairs(df, "s", "key", k=1, boundaries=[(0, 2), (2, 3)])
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        pairs.collect()


@pytest.mark.parametrize("k", [1, 2])
def test_bounded_counts_match_bruteforce_and_pairs_path(spark, k):
    """The exactly-once counts path (first-match dedup, no pair-set
    distinct) must equal both the brute-force histogram and the pairs-path
    aggregate — on adversarial dense serials where many pairs match on
    MULTIPLE segments (the case the first-match filter exists for)."""
    rng = random.Random(97 + k)
    # tiny value space => plenty of pairs matching on 2+ segments at once
    strings = {i: f"unit#{rng.randrange(200):09d}" for i in range(250)}
    boundaries = [(5, 5), (10, 4)] if k == 1 else [(5, 3), (8, 3), (11, 3)]
    df = spark.createDataFrame([Row(key=i, s=s) for i, s in strings.items()])
    got = {
        r.edit_dist: r.n_pairs
        for r in editdist_pair_counts(df, "s", "key", k=k, boundaries=boundaries).collect()
    }
    expect: dict[int, int] = {}
    for _, _, d in _brute(strings, k):
        expect[d] = expect.get(d, 0) + 1
    assert got == expect
    # and the duplicate-string edge (edit_dist 0 across several copies)
    dup = {i: "unit#000000042" for i in range(4)}
    dupdf = spark.createDataFrame([Row(key=i, s=s) for i, s in dup.items()])
    got0 = {
        r.edit_dist: r.n_pairs
        for r in editdist_pair_counts(dupdf, "s", "key", k=k, boundaries=boundaries).collect()
    }
    assert got0 == {0: 6}  # C(4,2) unordered pairs, each counted once


def test_counts_duplicated_keys_fail_loudly(spark):
    """The counts/pairs key contract (r9 verdict finding): value-level
    counting never consults key_col, so with NON-unique keys its numbers
    silently diverge from editdist_selfjoin_pairs' aggregate.  Default
    check_keys=True must fail the job instead."""
    rows = [Row(key=i, s=f"unit#{i:09d}") for i in range(20)]
    rows.append(Row(key=3, s="unit#000000004"))  # duplicated key, near-dup text
    df = spark.createDataFrame(rows)
    with pytest.raises(Exception, match="duplicated or NULL key_col"):
        editdist_pair_counts(df, "s", "key", k=1).collect()
    # opt-out: value-level semantics accepted explicitly
    got = {
        r.edit_dist: r.n_pairs
        for r in editdist_pair_counts(df, "s", "key", k=1, check_keys=False).collect()
    }
    # value-level: every consecutive serial pair is at distance 1, plus the
    # duplicated-text row pairs with its twin at distance 0 and neighbors
    expect: dict[int, int] = {}
    strings = {i: r.s for i, r in enumerate(rows)}
    for _, _, d in _brute(strings, 1):
        expect[d] = expect.get(d, 0) + 1
    assert got == expect


def test_counts_unique_keys_pass_check(spark):
    """check_keys=True is transparent on contract-respecting input (same
    counts as check_keys=False on unique keys)."""
    strings = {i: f"unit#{i % 30:09d}" for i in range(60)}
    df = spark.createDataFrame([Row(key=i, s=s) for i, s in strings.items()])
    a = {
        r.edit_dist: r.n_pairs
        for r in editdist_pair_counts(df, "s", "key", k=1).collect()
    }
    b = {
        r.edit_dist: r.n_pairs
        for r in editdist_pair_counts(df, "s", "key", k=1, check_keys=False).collect()
    }
    assert a == b and a[0] == 30  # 30 duplicated values, C(2,2)=1 pair each


def test_bounded_counts_plan_has_no_pair_distinct(spark):
    """Plan pin for the 100-TB shape: boundaries-mode counts shuffle the
    segment join and the (k+1)-row count aggregate — never the pair set.
    No Exchange keyed on (key1, key2) and no distinct-aggregate over pair
    keys may appear."""
    df = spark.createDataFrame([Row(key=i, s=f"unit#{i:09d}") for i in range(50)])
    plan = editdist_pair_counts(
        df, "s", "key", k=1, boundaries=[(5, 5), (10, 4)]
    )._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "key1" not in m.group(1) and "key2" not in m.group(1), m.group(0)
    # the count aggregate keys on edit_dist only
    assert re.search(r"HashAggregate\(keys=\[edit_dist", plan)
    # no pair-keyed HashAggregate (the old distinct)
    assert not re.search(r"HashAggregate\(keys=\[key1", plan)


@pytest.mark.parametrize("k", [1, 2])
def test_even_mode_counts_match_bruteforce(spark, k):
    """Even-partition exactly-once counts: the first-match mirror of the
    probe's (dl, sh) enumeration + the ordered short bucket must reproduce
    the brute-force histogram — on dense random strings, length spreads,
    unicode, and sub-k+1 shorts (the fallback-bucket population)."""
    rng = random.Random(31 + k)
    alphabet = "abc"
    strings = {
        i: "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
        for i in range(150)
    }
    strings.update({200: "d", 201: "dü", 202: "düsseldorf", 203: "dusseldorf",
                    204: "aa", 205: "ab", 206: ""})
    df = spark.createDataFrame([Row(key=i, s=s) for i, s in strings.items()])
    got = {
        r.edit_dist: r.n_pairs
        for r in editdist_pair_counts(df, "s", "key", k=k).collect()
    }
    expect: dict[int, int] = {}
    for _, _, d in _brute(strings, k):
        expect[d] = expect.get(d, 0) + 1
    assert got == expect


@pytest.mark.parametrize("k", [1, 2])
def test_first_match_mirror_tracks_probe_emissions(spark, k):
    """Drift guard for the exactly-once counting: `_slot_matches_even(j)`
    must be TRUE for (txt1, txt2) exactly when _probe_side actually emits
    slot j of txt1's partition among txt2's substrings — if someone edits
    _probe_side's enumeration (window, guards) without updating the
    mirror, counts silently go wrong.  Compares the mirror column against
    ground truth built FROM _probe_side's own output on random strings."""
    from fs2_kinesis_firehose_spark.operators import editdist as E

    rng = random.Random(11 + k)
    strings = {
        i: "".join(rng.choice("ab") for _ in range(rng.randint(k + 1, 7)))
        for i in range(40)
    }
    df = spark.createDataFrame([Row(key=i, s=s) for i, s in strings.items()])
    # ground truth: probe emissions per (key2, slot) as a value set
    emitted: dict[tuple[int, int], set] = {}
    for r in E._probe_side(df, "s", "key", k, None).collect():
        emitted.setdefault((r.key2, r.seg_idx), set()).add(r.seg)
    # index segments per key (even partition — only partitionable strings)
    segs: dict[tuple[int, int], str] = {}
    for r in E._index_side(df, "s", "key", k, None).collect():
        segs[(r.key1, r.seg_idx)] = r.seg
    # mirror evaluated by Spark on every (indexable txt1, any txt2) pair
    pairs = [
        (i, strings[i], j, strings[j])
        for i in strings
        if len(strings[i]) >= k + 1
        for j in strings
    ]
    pdf = spark.createDataFrame(pairs, "k1 long, txt1 string, k2 long, txt2 string")
    cols = [E._slot_matches_even(j, k).alias(f"m{j}") for j in range(k + 1)]
    got = pdf.select("k1", "k2", *cols).collect()
    for r in got:
        for j in range(k + 1):
            want = segs[(r.k1, j)] in emitted.get((r.k2, j), set())
            assert r[f"m{j}"] == want, (
                f"mirror drift: slot {j} of key {r.k1} vs key {r.k2}: "
                f"mirror={r[f'm{j}']} probe={want}"
            )


def test_counts_null_key_also_fails_loudly(spark):
    """count_distinct skips NULLs, so a NULL key on a non-null-text row is
    caught by the same guard (r10 ADVICE: the message must say so rather
    than claim a duplicate)."""
    rows = [Row(key=i, s=f"unit#{i:09d}") for i in range(5)]
    df = spark.createDataFrame(rows).unionByName(
        spark.createDataFrame([(None, "unit#000000009")], "key bigint, s string")
    )
    with pytest.raises(Exception, match="duplicated or NULL key_col"):
        editdist_pair_counts(df, "s", "key", k=1).collect()


def test_probe_parallelism_floor_gates_both_directions(spark, monkeypatch):
    """r14: the segment join EXPANDS (verify CPU ~ candidate pairs, not
    input bytes), so when the byte-estimated probe exchange lands under
    max(defaultParallelism, shuffle partitions) 128 MB-target partitions
    the probe side is pinned to that width on the join keys (REPARTITION_BY_NUM — AQE
    cannot re-coalesce it); when the estimate clears the gate (the
    at-scale regime) the plan is untouched.  Counts are identical in both
    gate states."""
    import re

    from fs2_kinesis_firehose_spark.operators import editdist as E

    df = spark.createDataFrame([Row(key=i, s=f"unit#{i:09d}") for i in range(80)])
    # the width a sort-merge join's EnsureRequirements raises the pin to
    floor = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )

    def plan(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    small = editdist_pair_counts(df, "s", "key", k=1)
    floored_plan = plan(small)
    m = re.search(
        r"Exchange hashpartitioning\(seg_idx[^)]*seg[^)]*,\s*(\d+)\), REPARTITION_BY_NUM",
        floored_plan,
    )
    assert m is not None, "probe floor exchange missing on a tiny corpus"
    assert int(m.group(1)) == floor
    floored_rows = {(r.edit_dist, r.n_pairs) for r in small.collect()}

    # force the estimate over the gate (as if the probe side were huge):
    # the floor must stand down and leave sizing to byte-based AQE
    monkeypatch.setattr(E, "_PROBE_FLOOR_TARGET_BYTES", 1)
    big = editdist_pair_counts(df, "s", "key", k=1)
    assert "REPARTITION_BY_NUM" not in plan(big)
    assert {(r.edit_dist, r.n_pairs) for r in big.collect()} == floored_rows
