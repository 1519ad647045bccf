"""KLL quantile sketch (operators/kll.py): rank-error bounds, exact weight
conservation, mergeability, determinism, and the distributed build."""

from __future__ import annotations

import numpy as np
import pytest

from fs2_kinesis_firehose_spark.operators.kll import KLLSketch, kll_sketch

PHIS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _max_rank_err(sk, data):
    """max over a phi grid of the normalized distance from phi*n to the
    estimate's TRUE rank interval [rank_left, rank_right] — the interval
    form is what makes the metric meaningful under heavy duplicates (a
    value covering ranks [0, 40000] IS the correct answer for any phi in
    that span)."""
    data = np.sort(data)
    n = len(data)
    worst = 0.0
    for phi in PHIS:
        est = sk.quantile(phi)
        lo = np.searchsorted(data, est, side="left")
        hi = np.searchsorted(data, est, side="right")
        worst = max(worst, max(0.0, lo - phi * n, phi * n - hi) / n)
    return worst


def test_small_input_is_exact():
    sk = KLLSketch(k=200)
    sk.update_many(np.arange(100, dtype=float))
    # below capacity nothing is ever compacted: ranks are exact
    assert sk.n == 100
    for phi in PHIS:
        est = sk.quantile(phi)
        assert abs(np.searchsorted(np.arange(100), est, side="right") - phi * 100) <= 1


def test_rank_error_bounded_uniform_and_skewed():
    rng = np.random.default_rng(11)
    for data in [
        rng.uniform(0, 1, 50_000),
        rng.lognormal(0, 2, 50_000),          # heavy tail
        np.sort(rng.normal(0, 1, 50_000)),    # adversarial: sorted input
        np.repeat([1.0, 2.0, 3.0], [40_000, 9_000, 1_000]),  # few distinct
    ]:
        sk = KLLSketch(k=200)
        sk.update_many(data)
        assert _max_rank_err(sk, data) < 0.03, "normalized rank error blew the bound"


def test_weight_conserved_exactly():
    rng = np.random.default_rng(5)
    sk = KLLSketch(k=64)
    data = rng.uniform(0, 1, 37_123)  # odd sizes force the retain path
    sk.update_many(data)
    assert sk.rank(np.inf) == sk.n == len(data)
    assert sk.rank(-np.inf) == 0


def test_merge_matches_single_sketch_bound():
    rng = np.random.default_rng(3)
    data = rng.normal(10, 4, 60_000)
    a, b = KLLSketch(k=200), KLLSketch(k=200)
    a.update_many(data[:20_000])
    b.update_many(data[20_000:])
    a.merge(b)
    assert a.n == 60_000
    assert a.rank(np.inf) == 60_000
    assert _max_rank_err(a, data) < 0.03


def test_deterministic():
    rng = np.random.default_rng(9)
    data = rng.uniform(0, 100, 30_000)
    r1 = KLLSketch(k=128)
    r1.update_many(data)
    r2 = KLLSketch(k=128)
    r2.update_many(data)
    assert r1.levels == r2.levels
    assert [r1.quantile(p) for p in PHIS] == [r2.quantile(p) for p in PHIS]


def test_validation():
    with pytest.raises(ValueError):
        KLLSketch(k=4)
    sk = KLLSketch()
    with pytest.raises(ValueError):
        sk.quantile(0.5)  # empty
    sk.update_many(np.array([1.0]))
    with pytest.raises(ValueError):
        sk.quantile(1.5)


def test_distributed_build_matches_bound_and_is_deterministic(spark):
    rng = np.random.default_rng(21)
    data = rng.lognormal(3, 1, 40_000)
    df = spark.createDataFrame([(float(x),) for x in data], "v double").repartition(11)
    sk = kll_sketch(df, "v", k=200)
    assert sk.n == 40_000
    assert _max_rank_err(sk, data) < 0.03
    # fixed layout → bit-identical sketch (merge is pid-ordered)
    sk2 = kll_sketch(df, "v", k=200)
    assert sk.levels == sk2.levels


def test_distributed_build_ignores_nulls(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (2.0,), (None,), (3.0,)], "v double"
    )
    sk = kll_sketch(df, "v")
    assert sk.n == 3
    assert sk.quantile(0.5) == 2.0
