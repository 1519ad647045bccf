"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
public arXiv:2302.03169).

Select pretraining documents that look like a TARGET domain: featurize each
document as hashed n-gram counts, fit two smoothed bag-of-features
distributions — p_target over the target sample, p_raw over the full
corpus — and score every document with the log importance weight

    log w(x) = Σ_f  c_f(x) · ( ln p_target[f] − ln p_raw[f] )

Documents with positive weight look more like the target than like the raw
corpus; resampling keeps the high-weight tail.

Spark-first plan, ONE feature extraction shared by everything:

- features: unigram + bigram rows (``word_ngram_rows`` — posexplode + lead,
  codegen) hashed into ``n_buckets`` by the engine-portable md5-prefix trick
  (``conv(substr(md5(g),1,8),16,10) % B`` — bit-identical in DuckDB, the
  same construction curation.hash_fraction uses);
- the two distributions are bucket-count aggregates: B-row tables
  (B ~ 10⁴, the paper's setting) — broadcast, never shuffled corpus-side;
- scoring joins the broadcast log-ratio table to the feature rows and sums
  per document: one corpus-wide shuffle on the doc key.

At 100 TB: two scans of the token stream (counts, score) and one doc-key
shuffle; the model state is O(n_buckets) regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T


def _bucket(col: Column, n_buckets: int) -> Column:
    """Engine-portable feature hash: first 8 md5 hex chars → bigint → mod B
    (md5 agrees byte-for-byte across Spark and DuckDB; 32 bits >> B)."""
    return T.md5_int(col, 8).cast("long") % n_buckets


def feature_rows(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    n_buckets: int = 10_000,
) -> DataFrame:
    """(key, bucket) — one row per unigram AND bigram occurrence, extracted
    in a SINGLE token scan + one lead window (not two word_ngram_rows
    subtrees, which would tokenize and window the corpus twice)."""
    from pyspark.sql.window import Window

    tok = df.select(F.col(key_col), F.posexplode(T.tokens(text_col)).alias("_pos", "_tok"))
    nxt = F.lead("_tok", 1).over(Window.partitionBy(key_col).orderBy("_pos"))
    # window exprs can't appear inside a generator — project the lead first
    with_next = tok.select(F.col(key_col), "_tok", nxt.alias("_nxt"))
    uni = F.when(F.col("_tok") != "", F.col("_tok"))  # split('') yields ['']
    bi = F.when(F.col("_nxt").isNotNull(), F.concat_ws(" ", F.col("_tok"), F.col("_nxt")))
    rows = (
        with_next.select(F.col(key_col), F.explode(F.array(uni, bi)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    return rows.select(F.col(key_col), _bucket(F.col("g"), n_buckets).alias("bucket"))


def importance_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    n_buckets: int = 10_000,
) -> DataFrame:
    """(key, n_features, log_weight, keep) for every document in ``df``.

    ``target`` is the target-domain sample (its own DataFrame — typically a
    small curated corpus; here any slice).  Smoothing is add-one over the
    bucket space; ``log_weight`` is rounded to 4 places (the per-doc sum is a float fold
    whose association differs between engines — same mitigation as the LM
    cross-entropy oracle).  ``keep`` = log_weight > 0 (closer to target than
    to raw)."""
    # the corpus feature stream feeds BOTH the raw distribution and the
    # scoring aggregate — materialize once instead of two full extractions
    feats = feature_rows(df, text_col, key_col, n_buckets=n_buckets).localCheckpoint(
        eager=False
    )
    tfeats = feature_rows(target, text_col, key_col, n_buckets=n_buckets)

    raw_counts = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tgt_counts = tfeats.groupBy("bucket").agg(F.count(F.lit(1)).alias("tc"))

    # log ratio per bucket: ln((tc+1)/(t_total+B)) − ln((rc+1)/(r_total+B)).
    # Totals are 1-row aggregates joined in by cross join (broadcast scalar).
    r_total = raw_counts.agg(F.sum("rc").alias("_rt"))
    t_total = tgt_counts.agg(F.sum("tc").alias("_tt"))
    ratio = (
        raw_counts.join(tgt_counts, "bucket", "full")
        .crossJoin(F.broadcast(r_total))
        .crossJoin(F.broadcast(t_total))
        .select(
            "bucket",
            (
                F.log(F.coalesce(F.col("tc"), F.lit(0)) + 1)
                - F.log(F.col("_tt") + n_buckets)
                - F.log(F.coalesce(F.col("rc"), F.lit(0)) + 1)
                + F.log(F.col("_rt") + n_buckets)
            ).alias("log_ratio"),
        )
    )

    scored = (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.round(F.sum("log_ratio"), 4).alias("log_weight"),
        )
    )
    return (
        df.select(key_col)
        .join(scored, key_col, "left")
        .select(
            key_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
            (F.coalesce("log_weight", F.lit(0.0)) > 0).alias("keep"),
        )
    )
