"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003; the
MOSS algorithm — public).

The missing grade between exact/near dedup and span dedup: a SUBLINEAR
per-document fingerprint whose overlap detects shared passages.  MinHash
answers "are these documents mostly the same?"; winnowing answers "do these
documents share any sufficiently long passage?" with a guarantee: every run
of ``window + gram_n - 1`` consecutive shared tokens contributes at least
one shared fingerprint (each window of ``window`` consecutive gram hashes
selects its minimum, and a fully-shared window selects the same minimum in
both documents).  Expected fingerprint density is ~2/(window+1) of the gram
count — the index the overlap join runs on is a small fraction of the
corpus.

Scale shape: one posexplode + ONE doc-key window pass builds gram hashes and
their window minima (same compiled lead/min machinery as the Gopher/MinHash
gram builds — no Python, no per-gram allocation), one distinct, and the
overlap join is fingerprint-bucketed (O(Σ bucket²) like every LSH-family
candidate join here, never all-pairs).

Delta vs the paper: fingerprints are the selected hash VALUES per document
(the form an inverted fingerprint index stores), not (hash, position) pairs
— positions add locating power but don't change pair detection.  Hashes are
the engine-portable md5-prefix bigints used by simhash_portable
(``conv(substring(md5(g),1,15),16,10)``), so a SQL oracle can restate the
whole pipeline bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fs2_kinesis_firehose_spark.functions import text as T


def gram_hash_rows(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    gram_n: int = 3,
) -> DataFrame:
    """(key, _gpos, _h): positioned engine-portable md5-prefix gram hashes —
    the shared first stage of fingerprint selection and the coverage audit."""
    tok = df.select(
        F.col(key_col), F.posexplode(T.tokens(text_col)).alias("_pos", "_tok")
    )
    w = Window.partitionBy(key_col).orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", j).over(w) for j in range(1, gram_n)]
    gram = F.when(
        F.lead("_tok", gram_n - 1).over(w).isNotNull(), F.concat_ws(" ", *parts)
    )
    return (
        tok.select(F.col(key_col), F.col("_pos").alias("_gpos"), gram.alias("_g"))
        .filter(F.col("_g").isNotNull())
        .select(
            key_col,
            "_gpos",
            T.md5_int("_g", 15).cast("bigint").alias("_h"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    gram_n: int = 3,
    window: int = 4,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(key, fingerprint) rows: the distinct window-minimum gram hashes.

    Window ``j`` covers gram hashes ``j .. j+window-1``; valid starts are
    ``0 .. max(0, n_grams - window)`` (a document with fewer than ``window``
    grams is one short window — its minimum is still selected, so every
    document with ≥1 gram has ≥1 fingerprint).

    ``grams``: optionally pass a precomputed (ideally checkpointed)
    ``gram_hash_rows`` output to share the tokenize+posexplode+window stage
    with other consumers (the coverage audit does this) instead of
    re-scanning the corpus.
    """
    if grams is None:
        grams = gram_hash_rows(df, text_col, key_col, gram_n=gram_n)
    # one more pass over the SAME doc-key partitioning (no extra shuffle
    # shape): per-window min + gram count to bound the valid window starts
    wo = Window.partitionBy(key_col).orderBy("_gpos")
    win_min = F.min("_h").over(wo.rowsBetween(0, window - 1))
    rank = F.row_number().over(wo)
    cnt = F.count(F.lit(1)).over(Window.partitionBy(key_col))
    return (
        grams.select(
            F.col(key_col),
            win_min.alias("fingerprint"),
            rank.alias("_rank"),
            cnt.alias("_cnt"),
        )
        .filter(F.col("_rank") <= F.greatest(F.col("_cnt") - window + 1, F.lit(1)))
        .select(key_col, "fingerprint")
        .distinct()
    )


def fingerprint_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    gram_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(key1, key2, n_shared) for document pairs sharing ≥ ``min_shared``
    winnowing fingerprints — the shared-passage candidate report.

    The join is on the fingerprint value (inverted-index bucketing); the
    pair aggregate shuffles on the pair key.  Both stages are bounded by
    fingerprint frequency, not corpus size².  ``grams``: see
    ``winnow_fingerprints``.
    """
    fp = winnow_fingerprints(
        df, text_col, key_col, gram_n=gram_n, window=window, grams=grams
    ).localCheckpoint(eager=False)
    a = fp.select(F.col(key_col).alias("key1"), "fingerprint")
    b = fp.select(F.col(key_col).alias("key2"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("key1") < F.col("key2"))
        .groupBy("key1", "key2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def coverage_report(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    gram_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Audit of the winnowing coverage guarantee, per document pair.

    For every pair sharing ≥ ``window`` gram occurrences (any pair that
    could trigger the guarantee survives, since a shared run of ``window``
    grams implies ≥ ``window`` matches), emits:

    - ``n_matches``      — matched (position₁, position₂) gram-hash pairs;
    - ``max_gram_run``   — the longest run of consecutive shared grams
      (diagonal islands: matches with equal ``p1 - p2`` and consecutive
      ``p1`` form one shared passage);
    - ``n_shared_fp``    — shared winnowing fingerprints for the pair;
    - ``guarantee_ok``   — the paper's guarantee as a checkable implication:
      ``max_gram_run >= window ⇒ n_shared_fp >= 1`` (a shared token run of
      ``window + gram_n - 1`` is exactly a shared gram run of ``window``,
      and any such run contains a full winnow window whose minimum both
      documents select).

    Scale shape: the match join is the same inverted-index bucketing as the
    overlap report (join on gram hash, never all-pairs); runs need one
    shuffle on (pair, diagonal) and one on the pair key.
    """
    grams = gram_hash_rows(df, text_col, key_col, gram_n=gram_n).localCheckpoint(
        eager=False
    )
    a = grams.select(F.col(key_col).alias("key1"), F.col("_gpos").alias("p1"), "_h")
    b = grams.select(F.col(key_col).alias("key2"), F.col("_gpos").alias("p2"), "_h")
    m = (
        a.join(b, "_h")
        .filter(F.col("key1") < F.col("key2"))
        .select("key1", "key2", "p1", (F.col("p1") - F.col("p2")).alias("diag"))
    )
    w = Window.partitionBy("key1", "key2", "diag").orderBy("p1")
    runs = m.select(
        "key1", "key2", "diag", (F.col("p1") - F.row_number().over(w)).alias("grp")
    )
    run_lengths = runs.groupBy("key1", "key2", "diag", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    pair_stats = (
        run_lengths.groupBy("key1", "key2")
        .agg(
            F.sum("run_len").alias("n_matches"),
            F.max("run_len").alias("max_gram_run"),
        )
        .filter(F.col("n_matches") >= window)
    )
    # reuse the checkpointed gram stream — the fingerprint selection would
    # otherwise rebuild the identical tokenize+posexplode+window stage
    shared = fingerprint_overlap_pairs(
        df, text_col, key_col, gram_n=gram_n, window=window, min_shared=1,
        grams=grams,
    ).withColumnRenamed("n_shared", "n_shared_fp")
    return (
        pair_stats.join(shared, ["key1", "key2"], "left")
        .withColumn("n_shared_fp", F.coalesce(F.col("n_shared_fp"), F.lit(0)))
        .withColumn(
            "guarantee_ok",
            ~((F.col("max_gram_run") >= window) & (F.col("n_shared_fp") == 0)),
        )
    )
