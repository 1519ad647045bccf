"""Corpus n-gram language model for CCNet-style perplexity filtering.

The classic web-curation quality signal (Wenzek et al., "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data", 2019 — public): score
every document by the cross-entropy of a small n-gram LM and keep the
low-perplexity tail.  Re-expressed Spark-first:

- **Train** is one corpus scan + two groupBy aggregations (unigram and bigram
  counts — the same one-shuffle shape as MinHash signatures).  The LM is
  pruned *distributively* before it ever reaches the driver: ``min_count``
  drops the long tail and ``vocab_size`` caps the unigram table via
  ``TakeOrdered`` semantics (ORDER BY count DESC LIMIT k runs as a bounded
  per-partition top-k, never a full sort) — the same bounding discipline as
  ``bpe.py``'s trainer.
- **Score** is a map-side pipeline: explode each doc's bigrams, broadcast-join
  the (small, pruned) LM tables, aggregate per doc.  Zero Python; with a
  broadcast LM the only shuffle is the final per-doc aggregation, which AQE
  coalesces.  At 100 TB the corpus is touched exactly twice (train, score),
  both at scan speed.

Smoothing is add-one (Laplace) over the training vocabulary:
``logp(w2|w1) = ln(c(w1,w2) + 1) - ln(c(w1) + V)``.  Out-of-vocabulary words
map to the reserved ``<unk>`` token when ``vocab_size`` caps the vocabulary,
so the model never emits -inf.

No reference-repo analog (the reference is a delivery pipe, not a curation
engine); this extends SURVEY.md §2 Tier C alongside the Gopher filters.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T

UNK = "<unk>"


class BigramLM(NamedTuple):
    """A trained bigram model: pruned count tables plus the smoothing constant.

    ``unigrams``: (w1, c1) — context counts over the (possibly UNK-mapped)
    token stream.  ``bigrams``: (w1, w2, c12).  ``vocab``: a ONE-ROW
    DataFrame with column ``v`` = number of distinct tokens the model knows
    (V in the add-one denominator) — kept as a DataFrame, not a collected
    int, so training stays fully lazy (no action at query-construction time;
    the registry's lazy-DataFrame contract).
    """

    unigrams: DataFrame
    bigrams: DataFrame
    vocab: DataFrame


def _map_unk(pairs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Map tokens outside ``vocab`` (a (w) DataFrame) to ``<unk>`` via two
    broadcast left joins — never an inline literal array, which would blow
    the codegen method limit at a 10^5-word vocabulary."""
    keep = [c for c in pairs.columns if c not in ("w1", "w2")]
    out = (
        pairs.join(F.broadcast(vocab.withColumnRenamed("w", "_v1")), pairs["w1"] == F.col("_v1"), "left")
        .join(F.broadcast(vocab.withColumnRenamed("w", "_v2")), pairs["w2"] == F.col("_v2"), "left")
        .select(
            *keep,
            F.coalesce(F.col("_v1"), F.lit(UNK)).alias("w1"),
            F.coalesce(F.col("_v2"), F.lit(UNK)).alias("w2"),
        )
    )
    return out


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Explode each document into (id, w1, w2) bigram rows.

    ``posexplode`` + one ``lead`` window pass — fully codegen'd, no
    per-bigram struct/array allocation (the HOF ``transform`` build this
    replaces is interpreted; see functions/text.py:word_ngram_rows).
    Documents with fewer than 2 tokens produce no rows — callers re-join the
    source table to surface them with ``n_bigrams = 0``.
    """
    from pyspark.sql.window import Window

    tok = df.select(F.col(id_col), F.posexplode(T.tokens(text_col)).alias("_pos", "_tok"))
    nxt = F.lead("_tok", 1).over(Window.partitionBy(id_col).orderBy("_pos"))
    return (
        tok.select(F.col(id_col), F.col("_tok").alias("w1"), nxt.alias("w2"))
        .filter(F.col("w2").isNotNull())
    )


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    vocab_size: int | None = None,
    min_count: int = 1,
) -> BigramLM:
    """Train a Laplace-smoothed bigram LM over a corpus.

    ``vocab_size`` caps the vocabulary to the top-k unigrams by
    (count DESC, token ASC — deterministic); everything else becomes
    ``<unk>`` *before* bigram counting so train and score agree on the token
    stream.  ``min_count`` prunes rare bigrams from the count table (they
    back off to the add-one floor at scoring time, which is exactly what
    add-one smoothing assigns a count-0 bigram — pruning at k=1 is lossless
    for ``min_count <= 1`` and a deliberate approximation above).

    Both knobs bound the broadcast tables: at web scale the unigram table is
    ``vocab_size`` rows and the bigram table is observed-bigrams ∩ count ≥
    min_count — the same driver-safety contract as ``bpe.py:train_bpe``.
    """
    bigrams = _doc_bigrams(df, text_col, id_col).drop(id_col)

    if vocab_size is not None:
        # top-k vocabulary, computed distributively (sort+limit = TakeOrdered),
        # applied via broadcast joins — NEVER an inline literal array, which
        # would blow the codegen method limit at a 10^5-word vocabulary
        uni_counts = (
            bigrams.select(F.col("w1").alias("w"))
            .unionAll(bigrams.select(F.col("w2").alias("w")))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        vocab = uni_counts.orderBy(F.desc("c"), F.asc("w")).limit(vocab_size).select("w")
        bigrams = _map_unk(bigrams, vocab)

    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    if min_count > 1:
        bi = bi.filter(F.col("c12") >= min_count)
    # context counts MUST come from the unpruned stream so probabilities
    # stay properly normalized (sum_w2 p(w2|w1) = 1 under add-one)
    uni = bigrams.groupBy(F.col("w1")).agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        bigrams.select(F.col("w1").alias("w"))
        .unionAll(bigrams.select(F.col("w2").alias("w")))
        .agg(F.count_distinct(F.col("w")).alias("v"))
    )
    return BigramLM(unigrams=uni, bigrams=bi, vocab=vocab)


def score_cross_entropy(
    df: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram cross-entropy under ``lm`` (lower = more fluent).

    Output: (id_col, n_bigrams, oov_bigrams, cross_entropy) where
    ``cross_entropy = -mean(logp)`` rounded to 4 decimals and
    ``oov_bigrams`` counts bigrams absent from the LM's count table (they
    score at the add-one floor).  Documents with < 2 tokens surface with
    ``n_bigrams = 0`` and NULL entropy.

    Plan shape: explode → two broadcast joins → one per-doc aggregation.
    The LM tables are explicitly ``broadcast()`` — they are pruned to
    broadcast size by construction (see ``train_bigram_lm``).
    """
    pairs = _doc_bigrams(df, text_col, id_col)
    logp = F.log(F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)) - F.log(
        F.col("c1") + F.col("v")
    )
    scored = (
        pairs.join(F.broadcast(lm.bigrams), ["w1", "w2"], "left")
        .join(F.broadcast(lm.unigrams), ["w1"], "inner")
        .crossJoin(F.broadcast(lm.vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count(F.when(F.col("c12").isNull(), F.lit(1))).alias("oov_bigrams"),
            F.round(-F.sum(logp) / F.count(F.lit(1)), 4).alias("cross_entropy"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("oov_bigrams", F.lit(0)).alias("oov_bigrams"),
            "cross_entropy",
        )
    )


def perplexity_filter(
    df: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_cross_entropy: float,
) -> DataFrame:
    """CCNet keep-rule: retain documents whose cross-entropy is at most the
    threshold (NULL-entropy docs — too short to score — are dropped)."""
    scores = score_cross_entropy(df, lm, text_col, id_col)
    return df.join(
        scores.filter(F.col("cross_entropy") <= max_cross_entropy).select(id_col),
        id_col,
        "inner",
    )
