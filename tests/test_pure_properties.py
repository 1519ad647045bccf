"""Property-based tests over pure-Python invariants (no SparkSession):
spool framing round-trip, record-boundary alignment, BPE losslessness."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from fs2_kinesis_firehose_spark.firehose.client import read_spool, spool_frames
from fs2_kinesis_firehose_spark.operators.bpe import END, _segment_word

payloads_strategy = st.lists(st.binary(min_size=0, max_size=64), max_size=40)


def _write_spool(path: str, payloads: list[bytes], tail: bytes = b"") -> None:
    with open(path, "wb") as f:
        for p in payloads:
            f.write(len(p).to_bytes(4, "big") + p)
        f.write(tail)


def _aligned_end(path: str, start: int = 0) -> int:
    """The offset just past the last whole frame, walked from ``start``."""
    with open(path, "rb") as f:
        return max((pos + 4 + n for pos, n in spool_frames(f, start)), default=start)


@given(payloads=payloads_strategy, tail=st.binary(max_size=10))
@settings(max_examples=150, deadline=None)
def test_spool_framing_roundtrip_with_torn_tail(tmp_path_factory, payloads, tail):
    """Any torn trailing bytes must not affect the complete records read:
    the walk, and ``read_spool`` on top of it, yield exactly the whole
    records and end exactly after the last of them."""
    spool_dir = tmp_path_factory.mktemp("spool")
    path = str(spool_dir / "s.spool")
    _write_spool(path, payloads, tail)
    aligned = _aligned_end(path)
    with open(path, "rb") as f:
        got = [f.read(n) for _, n in spool_frames(f, 0, aligned)]
    spooled = read_spool(str(spool_dir), "s")
    framed_len = sum(4 + len(p) for p in payloads)
    if len(tail) >= 4:
        # the tail may parse as further complete records if its length
        # prefix happens to fit — only assert the true records are a prefix
        assert got[: len(payloads)] == payloads
        assert aligned >= framed_len
    else:
        assert got == payloads
        assert aligned == framed_len
    assert spooled == got
    if payloads:
        # a frame running past ``end`` stops the walk before it
        with open(path, "rb") as f:
            assert len(list(spool_frames(f, 0, framed_len - 1))) == len(payloads) - 1


@given(
    payloads=payloads_strategy,
    start_hint=st.integers(0, 5),
)
@settings(max_examples=100, deadline=None)
def test_aligned_size_known_position_consistent(tmp_path_factory, payloads, start_hint):
    """Walking from any earlier ALIGNED position gives the same answer as
    walking from zero."""
    path = str(tmp_path_factory.mktemp("spool") / "s.spool")
    _write_spool(path, payloads)
    aligned_from_zero = _aligned_end(path)
    # pick an aligned mid-position
    pos = 0
    for p in payloads[: min(start_hint, len(payloads))]:
        pos += 4 + len(p)
    assert _aligned_end(path, pos) == aligned_from_zero


words = st.text(alphabet="abcdef", min_size=1, max_size=12)


@given(word=words, merge_words=st.lists(words, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_bpe_segmentation_is_lossless(word, merge_words):
    """For ANY merge table, segmenting then concatenating reproduces the
    word (merges only ever concatenate adjacent symbols)."""
    ranks = {}
    for w in merge_words:
        sym = list(w) + [END]
        for i, pair in enumerate(zip(sym, sym[1:])):
            ranks.setdefault(pair, len(ranks))
    out = _segment_word(word, ranks)
    assert "".join(out) == word + END


def test_word_ngram_rows_equals_hof_shingles(spark):
    """The codegen lead-window gram build must produce exactly the
    word_shingles set for every doc with >= n tokens (the rewrite's
    equivalence contract; sub-n docs differ by design — no degenerate
    shingle)."""
    import random

    from pyspark.sql import functions as F

    from fs2_kinesis_firehose_spark.functions.text import word_ngram_rows, word_shingles

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    for n in (2, 3, 5):
        hof = {
            r["doc_id"]: set(r["sh"])
            for r in df.select("doc_id", word_shingles("text", n).alias("sh")).collect()
        }
        rows = word_ngram_rows(df, "text", "doc_id", n, distinct=True).collect()
        lead: dict[int, set] = {i: set() for i, _ in docs}
        for r in rows:
            lead[r["doc_id"]].add(r["shingle"])
        assert lead == hof, f"n={n}"


def test_md5_int_matches_python_and_duckdb(spark):
    """``md5_int`` is the hash contract the DuckDB oracles restate: at the
    common width (8 hex digits) and the widest one (15), its value equals
    Python's md5 prefix and DuckDB's ``CAST('0x' || substr(md5(s), 1, n)
    AS BIGINT)``, byte for byte."""
    import hashlib

    import duckdb

    from fs2_kinesis_firehose_spark.functions.text import md5_int

    strings = ["", "a", "hello world", "7|hll", "ünïcödé ✓"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i int, s string")
    con = duckdb.connect()
    for n in (8, 15):
        spark_vals = [
            r[0] for r in df.orderBy("i").select(md5_int("s", n).cast("long")).collect()
        ]
        python_vals = [int(hashlib.md5(s.encode()).hexdigest()[:n], 16) for s in strings]
        duck_vals = [
            con.execute(f"SELECT CAST('0x' || substr(md5(?), 1, {n}) AS BIGINT)", [s])
            .fetchone()[0]
            for s in strings
        ]
        assert spark_vals == python_vals == duck_vals, f"n={n}"
