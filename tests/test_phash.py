"""Image perceptual-hash near-dup (operators/phash.py): hash semantics vs
a brute-force mirror, perturbation robustness (brightness / noise), banded
candidate losslessness, and the no-all-pairs plan shape."""

from __future__ import annotations

import numpy as np
import pytest

from fs2_kinesis_firehose_spark.operators import phash as PH
from fs2_kinesis_firehose_spark.operators.png import encode_png


def _img(rng, h=32, w=36):
    return rng.integers(0, 200, (h, w, 3)).astype(np.uint8)


def _brute_pairs(hashes: dict[int, int], max_h: int) -> set[tuple[int, int, int]]:
    keys = sorted(hashes)
    out = set()
    for i, k1 in enumerate(keys):
        for k2 in keys[i + 1 :]:
            d = bin((hashes[k1] ^ hashes[k2]) & (2**64 - 1)).count("1")
            if d <= max_h:
                out.add((k1, k2, d))
    return out


def test_dhash_brightness_invariant():
    rng = np.random.default_rng(3)
    a = _img(rng)
    b = np.clip(a.astype(np.int32) + 40, 0, 255).astype(np.uint8)  # uniform shift
    assert PH.dhash_long(a) == PH.dhash_long(b)


def test_dhash_noise_robust_yet_discriminative():
    rng = np.random.default_rng(5)
    a = _img(rng)
    # small per-pixel noise: most block-mean comparisons survive
    noisy = np.clip(a.astype(np.int32) + rng.integers(-4, 5, a.shape), 0, 255).astype(
        np.uint8
    )
    d_near = bin((PH.dhash_long(a) ^ PH.dhash_long(noisy)) & (2**64 - 1)).count("1")
    assert d_near <= 6
    # an unrelated image is far
    other = _img(np.random.default_rng(999))
    d_far = bin((PH.dhash_long(a) ^ PH.dhash_long(other)) & (2**64 - 1)).count("1")
    assert d_far > 12


def test_dhash_uneven_blocks_exact():
    """H/W not divisible by the grid: cross-multiplied means keep the
    comparison exact (no float mean anywhere)."""
    rng = np.random.default_rng(11)
    a = _img(rng, 30, 35)  # 30/8, 35/9 both uneven
    gray = a.astype(np.int64).sum(axis=2)
    yb = [(y * 30) // 8 for y in range(9)]
    xb = [(x * 35) // 9 for x in range(10)]
    want = 0
    for y in range(8):
        for x in range(8):
            l = gray[yb[y] : yb[y + 1], xb[x] : xb[x + 1]]
            r = gray[yb[y] : yb[y + 1], xb[x + 1] : xb[x + 2]]
            if l.sum() * r.size > r.sum() * l.size:
                want |= 1 << (y * 8 + x)
    if want >= 1 << 63:
        want -= 1 << 64
    assert PH.dhash_long(a) == want


def test_image_dhash_real_codec_roundtrip(spark):
    """The Spark pass decodes REAL PNG bytes; hashes must equal the
    numpy-side hash of the source pixels (lossless codec)."""
    rng = np.random.default_rng(13)
    imgs = {i: _img(rng) for i in range(12)}
    rows = [(i, bytearray(encode_png(a))) for i, a in imgs.items()]
    df = spark.createDataFrame(rows, "img_id long, png binary")
    got = {r.img_id: r.dhash for r in PH.image_dhash(df, "png").collect()}
    assert got == {i: PH.dhash_long(a) for i, a in imgs.items()}


def test_neardup_pairs_lossless_vs_bruteforce(spark):
    """Banded candidates + first-match + bit_count verify == the brute
    force pair set, on a corpus with planted near-dups (perturbed copies)
    and unrelated images."""
    rng = np.random.default_rng(17)
    bases = [_img(rng) for _ in range(8)]
    imgs: dict[int, np.ndarray] = {}
    for i, b in enumerate(bases):
        imgs[3 * i] = b
        imgs[3 * i + 1] = np.clip(b.astype(np.int32) + 25, 0, 255).astype(np.uint8)
        imgs[3 * i + 2] = np.clip(
            b.astype(np.int32) + rng.integers(-3, 4, b.shape), 0, 255
        ).astype(np.uint8)
    hashes = {i: PH.dhash_long(a) for i, a in imgs.items()}
    df = spark.createDataFrame(
        [(i, h) for i, h in hashes.items()], "img_id long, dhash long"
    )
    got = {
        (r.key1, r.key2, r.hamming)
        for r in PH.phash_neardup_pairs(df, "dhash", "img_id", max_hamming=3).collect()
    }
    assert got == _brute_pairs(hashes, 3)
    # brightness twins are exact dups (hamming 0) and must be present
    assert all((3 * i, 3 * i + 1, 0) in got for i in range(8))


def test_neardup_pairs_exactly_once_multiband(spark):
    """A pair equal on ALL bands (hamming 0) matches 4 band buckets but
    must be emitted exactly once (first-match keep, no distinct)."""
    df = spark.createDataFrame(
        [(1, 42), (2, 42), (3, -7)], "img_id long, h long"
    )
    rows = PH.phash_neardup_pairs(df, "h", "img_id", max_hamming=3).collect()
    assert [(r.key1, r.key2, r.hamming) for r in rows] == [(1, 2, 0)]
    plan = PH.phash_neardup_pairs(df, "h", "img_id")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_neardup_validation(spark):
    df = spark.createDataFrame([(1, 0)], "img_id long, h long")
    with pytest.raises(ValueError, match="max_hamming < bands"):
        PH.phash_neardup_pairs(df, "h", "img_id", max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        PH.phash_neardup_pairs(df, "h", "img_id", bands=5)
