"""Image perceptual-hash near-duplicate detection (dHash) — the standard
multimodal-corpus dedup step (the image-side sibling of the text family's
candidate paths; cf. the public imagehash library's dHash definition, and
Krawetz's "kind of like that" dHash write-up).

The reference has no media operators at all (its unit is an opaque byte
record, `RecordOps.scala:26`); a 100-TB multimodal corpus needs image
near-dup exactly where text needs MinHash.  Pipeline shape:

1. ``image_dhash`` — decode (REAL PNG codec,
   ``operators/png.py`` — stdlib floor, no Pillow needed), block-mean
   downsample, threshold → ONE 64-bit hash per image.  Arrow-batched
   ``mapInPandas``, a narrow pass; the corpus bytes never shuffle.
2. ``phash_neardup_pairs`` — banded Hamming join: the 64-bit hash splits
   into ``bands`` fixed bit-segments (same band/xor/bit_count machinery as
   ``similarity.sign_quantize``); by pigeonhole any pair at Hamming ≤
   ``max_hamming`` < ``bands`` agrees on ≥ 1 whole band, so a self-join on
   ``(band_idx, band_value)`` is a LOSSLESS candidate generator.  Exact
   verify is ``bit_count(h1 XOR h2)`` — pure codegen.  Exactly-once
   emission rides the join condition (a pair is kept only at its SMALLEST
   matching band — both hashes are present after the join, so the
   first-match filter needs no distinct), the same shuffle-avoidance the
   editdist counts view uses.

INTEGER-EXACT by construction, which is what makes the operator
oracle-checkable: gray = r+g+b (no luma floats), block comparison is
cross-multiplied sums (``sum1·n2 > sum2·n1`` — never a float mean), so a
SQL restatement of the pixel formula lands on identical bits.

Scale: hashing is embarrassingly parallel; the pair join shuffles
(band, 16-bit value) buckets — bucket skew is bounded by hash entropy (a
monoculture corpus degenerates exactly like an LSH band would, and the
same salting remedies apply).  No all-pairs path anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dhash_long",
    "image_dhash",
    "hamming64",
    "phash_neardup_pairs",
]


def _block_sums(gray: np.ndarray, rows: int, cols: int) -> tuple[np.ndarray, np.ndarray]:
    """(sums, counts) of the rows×cols block grid over an integer gray
    image; boundaries at ``floor(i·H/rows)`` (restatable integer
    arithmetic).  counts differ only when H/W don't divide evenly —
    comparisons cross-multiply, so unequal blocks stay exact."""
    h, w = gray.shape
    yb = [(y * h) // rows for y in range(rows + 1)]
    xb = [(x * w) // cols for x in range(cols + 1)]
    sums = np.zeros((rows, cols), dtype=np.int64)
    counts = np.zeros((rows, cols), dtype=np.int64)
    for y in range(rows):
        for x in range(cols):
            blk = gray[yb[y] : yb[y + 1], xb[x] : xb[x + 1]]
            sums[y, x] = int(blk.sum())
            counts[y, x] = blk.size
    return sums, counts


def _pack_bits(bits: np.ndarray) -> int:
    """Row-major bit i → position i of a JVM long (two's complement wrap
    for bit 63, like ``similarity.query_sign_bits``)."""
    word = 0
    for i, b in enumerate(bits.ravel()):
        if b:
            word |= 1 << i
    return word - (1 << 64) if word >= 1 << 63 else word


def _gray(arr: np.ndarray) -> np.ndarray:
    """Integer gray = r+g+b (sum, not luma weights — keeps every
    comparison integer-exact and SQL-restatable)."""
    a = np.asarray(arr, dtype=np.int64)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) pixels, got {a.shape}")
    return a.sum(axis=2)


def dhash_long(arr: np.ndarray) -> int:
    """Difference hash: block-mean the gray image to 8 × 9, bit(y,x) =
    mean(y,x) > mean(y,x+1) (cross-multiplied — exact), packed row-major
    into one 64-bit long.
    Invariant to uniform brightness shifts and any monotone per-pixel
    rescale that preserves horizontal neighbor order."""
    gray = _gray(arr)
    sums, counts = _block_sums(gray, 8, 9)
    left_s, right_s = sums[:, :-1], sums[:, 1:]
    left_n, right_n = counts[:, :-1], counts[:, 1:]
    bits = (left_s * right_n) > (right_s * left_n)
    return _pack_bits(bits)


def image_dhash(df: DataFrame, bytes_col: str, *, out_col: str = "dhash") -> DataFrame:
    """Append ``out_col``: the 64-bit dHash of the PNG bytes in
    ``bytes_col`` (8×9 block grid → 64 bits).  One Arrow-batched
    mapInPandas pass over the binary column, REAL PNG decode, one int64
    hash out; all other columns pass through untouched."""
    from fs2_kinesis_firehose_spark.operators.png import decode_png

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, LongType(), False)]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            hashes = []
            for b in pdf[bytes_col]:
                if b is None:
                    raise ValueError(
                        f"NULL value in image bytes column {bytes_col!r} — "
                        "filter NULLs out (or fill a placeholder) before "
                        "perceptual hashing"
                    )
                hashes.append(int(dhash_long(decode_png(bytes(b)))))
            yield pdf.assign(**{out_col: pd.Series(hashes, dtype="int64", index=pdf.index)})

    return df.mapInPandas(run, out_schema)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed 64-bit hashes — one
    ``bit_count(xor)``, pure codegen."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def _band_value(h: Column, band_idx: int, band_bits: int) -> Column:
    """Band ``band_idx`` of a packed 64-bit hash as a non-negative long:
    ``(h >>> (band_idx·band_bits)) & (2^band_bits − 1)``."""
    mask = F.lit((1 << band_bits) - 1)
    return F.shiftrightunsigned(h, band_bits * band_idx).bitwiseAND(mask)


def phash_neardup_pairs(
    df: DataFrame,
    hash_col: str,
    key_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """All pairs at Hamming distance ≤ ``max_hamming`` over a 64-bit
    perceptual-hash column: ``(key1, key2, hamming)`` with key1 < key2.

    LOSSLESS (pigeonhole): ``max_hamming < bands`` means ≤ max_hamming
    differing bits touch ≤ max_hamming of the ``bands`` disjoint bit
    segments, so at least one whole band is EQUAL — the band-bucket
    self-join sees every qualifying pair.  Exactly-once: the join keeps a
    pair only at its smallest matching band (``∀ i < b: band_i(h1) ≠
    band_i(h2)`` — both hashes are on the joined row, so no distinct, no
    pair-set shuffle).  64 must divide by ``bands``.

    Contract: ``key_col`` must be UNIQUE per row (the same contract
    ``editdist_pair_counts`` enforces via ``check_keys``): with duplicated
    keys, ``key1 < key2`` drops same-key pairs and repeated pair rows can
    be emitted.  The driver query feeds a primary key (``doc_id``), so the
    guard stays upstream here."""
    if not 0 < bands <= 64 or 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"pigeonhole completeness needs max_hamming < bands, got "
            f"max_hamming={max_hamming}, bands={bands}"
        )
    band_bits = 64 // bands
    h = F.col(hash_col)
    band_arr = F.array(*[_band_value(h, b, band_bits) for b in range(bands)])
    banded = df.select(
        F.col(key_col).alias("_k"),
        h.alias("_h"),
        F.posexplode(band_arr).alias("_band", "_bv"),
    )
    left = banded.select(
        F.col("_k").alias("key1"), F.col("_h").alias("_h1"), "_band", "_bv"
    )
    right = banded.select(
        F.col("_k").alias("key2"), F.col("_h").alias("_h2"), "_band", "_bv"
    )
    first_match = None
    for i in range(bands - 1):
        neq = _band_value(F.col("_h1"), i, band_bits) != _band_value(
            F.col("_h2"), i, band_bits
        )
        cond = F.when(F.col("_band") > i, neq).otherwise(F.lit(True))
        first_match = cond if first_match is None else first_match & cond
    ham = hamming64(F.col("_h1"), F.col("_h2"))
    pairs = (
        left.join(right, ["_band", "_bv"])
        .where(F.col("key1") < F.col("key2"))
        .where(first_match if first_match is not None else F.lit(True))
        .select("key1", "key2", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs
