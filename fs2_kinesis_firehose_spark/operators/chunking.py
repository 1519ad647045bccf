"""Document chunking — sliding token windows for context-length-bounded models.

A core training-data op the reference has no analog for (its unit of work is
an opaque byte record, `RecordOps.scala:26`): long documents are cut into
overlapping chunks of at most ``chunk_size`` tokens with stride
``stride = chunk_size - overlap``, BERT-style.  Chunk starts are
``0, stride, 2*stride, ...`` and generation stops once a chunk's start would
leave only already-covered tokens (``start >= n - overlap`` for start > 0),
so every token is covered and no trailing chunk is a pure suffix-duplicate
of its predecessor.

Scale design: the whole expansion is built-in Column expressions
(``split`` → ``sequence`` → ``transform`` → ``explode``) — JVM-side,
whole-stage-codegen, zero Python.  Per-row output is O(n_tokens / stride)
chunks; there is NO shuffle at all (narrow maps only), so the op runs at
scan speed on any corpus size and parallelism is file-split-driven.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
    keep_text: bool = False,
) -> DataFrame:
    """Explode each document into sliding whitespace-token chunks.

    Output columns (appended to the input's non-text columns):
    ``chunk_idx`` (0-based), ``chunk_start`` (token offset), ``chunk_tokens``
    (token count in this chunk) and ``chunk_hash`` (md5 of the
    space-rejoined chunk — engine-portable identity for downstream dedup);
    ``chunk_text`` only when ``keep_text`` (it multiplies output bytes by
    ~1/stride-overlap and is rarely needed once hashed).

    Empty / whitespace-only documents yield zero chunks (they carry no
    tokens to cover).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap=} {chunk_size=}")
    stride = chunk_size - overlap

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = F.when(F.trim(F.col(text_col)) == "", F.array().cast("array<string>")).otherwise(toks)
    n = F.size(toks)

    # starts = [0, stride, ...] up to the last start that still contributes
    # uncovered tokens: start <= n - overlap - 1 (and always 0 for n > 0).
    last_start = F.greatest(n - F.lit(overlap + 1), F.lit(0))
    starts = F.sequence(F.lit(0), last_start, F.lit(stride))

    chunk = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.slice(toks, s + 1, chunk_size).alias("toks"),
        ),
    )

    base = df.withColumn("_toks_n", n).withColumn("_chunks", chunk)
    out = (
        base.filter(F.col("_toks_n") > 0)
        .select(
            *[c for c in df.columns if c != text_col],
            F.posexplode("_chunks").alias("chunk_idx", "_c"),
        )
        .select(
            *[c for c in df.columns if c != text_col],
            "chunk_idx",
            F.col("_c.start").alias("chunk_start"),
            F.size("_c.toks").alias("chunk_tokens"),
            F.md5(F.concat_ws(" ", "_c.toks")).alias("chunk_hash"),
            *([F.concat_ws(" ", "_c.toks").alias("chunk_text")] if keep_text else []),
        )
    )
    return out


def concat_chunk_pack(
    df: DataFrame,
    *,
    token_col: str,
    key_col: str,
    seq_len: int,
    shards: int = 16,
) -> DataFrame:
    """Cross-document sequence packing, GPT-pretraining style
    (concat-and-chunk — the complement of ``curation.pack_sequences``'s
    next-fit bin packing, which never splits a document): documents are
    concatenated in ``key_col`` order
    into one token stream per SHARD and the stream is cut every
    ``seq_len`` tokens; each document lands at a deterministic token
    offset and may span a sequence boundary.  The reference has no
    analog (its unit is an opaque byte record, `RecordOps.scala:26`);
    this is the step that turns a curated corpus into fixed-length
    training sequences.

    Sharding is the scale lever: a single global concatenation order
    would serialize the cumulative sum, so documents are first assigned
    to ``shards`` streams by the engine-portable md5 hash of the key
    (same uniform as ``curation.hash_fraction`` — any SQL engine
    restates it), and the prefix sum runs per shard: ONE hash shuffle +
    an in-partition sort, both fully parallel.  Real pipelines use one
    shard per output file; at 100 TB set ``shards`` ~ total_tokens /
    (tokens per output file).

    Appends to every input row:

    - ``shard``       — md5-bucket of the key (0..shards-1);
    - ``tok_start``   — this document's token offset in its shard stream;
    - ``first_seq`` / ``last_seq`` — indexes of the fixed-length
      sequences the document's tokens fall into (empty documents get
      ``last_seq = first_seq``);
    - ``spans_boundary`` — true when the document straddles ≥ 1 sequence
      cut (its tokens are split across training sequences).
    """
    if seq_len <= 0 or shards <= 0:
        raise ValueError(f"need positive seq_len/shards, got {seq_len=} {shards=}")
    from pyspark.sql import Window

    key = F.col(key_col)
    shard = T.md5_int(F.concat(key.cast("string"), F.lit("pack")), 8).cast("long") % shards
    toks = F.col(token_col).cast("long")
    w = (
        Window.partitionBy("shard")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        df.withColumn("shard", shard)
        .withColumn("tok_start", F.coalesce(F.sum(toks).over(w), F.lit(0)))
        .withColumn("first_seq", F.floor(F.col("tok_start") / seq_len))
        .withColumn(
            "last_seq",
            F.when(toks > 0, F.floor((F.col("tok_start") + toks - 1) / seq_len))
            .otherwise(F.col("first_seq")),
        )
        .withColumn("spans_boundary", F.col("last_seq") != F.col("first_seq"))
    )
    return out


def pack_stats(packed: DataFrame, *, token_col: str, seq_len: int) -> DataFrame:
    """Per-shard packing accounting over ``concat_chunk_pack`` output:
    document/token totals, emitted sequence count (``ceil(total /
    seq_len)`` — the final partial sequence is padded), pad tokens, and
    how many documents straddle a sequence cut.  One k-row aggregate.
    The ceil-division is exact INTEGER arithmetic (``div``), never a
    float quotient — float ceil can round a just-under-a-multiple total
    up once sums approach 2^52 (real at 100 TB token counts)."""
    toks = F.col(token_col).cast("long")
    agg = packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.sum(F.col("spans_boundary").cast("long")).alias("boundary_docs"),
    )
    n_seq = F.expr(f"(total_tokens + {seq_len - 1}) div {seq_len}")
    return agg.select(
        "shard",
        "n_docs",
        "total_tokens",
        n_seq.alias("n_sequences"),
        (n_seq * seq_len - F.col("total_tokens")).alias("pad_tokens"),
        "boundary_docs",
    ).orderBy("shard")
