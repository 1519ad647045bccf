"""Curation-stage queries: deterministic splits, corpus mixing, PII
redaction, sequence packing (operators/curation.py).

All four are oracle-checked — including sequence packing, whose next-fit
bin assignment the DuckDB oracle reproduces with a WITH RECURSIVE walk
(the running-fill reset is not a window function in either engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators import curation as C
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table

# the engine-portable uniform [0,1) used by split/sample (md5 exists and
# agrees byte-for-byte in Spark and DuckDB)
_DUCK_FRAC = (
    "CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(doc_id AS VARCHAR), '{salt}')), 1, 8)) "
    "AS BIGINT) / 4294967296.0"
)


@query(
    "train_val_test_counts",
    oracle=f"""
    SELECT split, lang, COUNT(*) AS n_docs
    FROM (
        SELECT lang,
               CASE WHEN {_DUCK_FRAC.format(salt="split")} < 0.8 THEN 'train'
                    WHEN {_DUCK_FRAC.format(salt="split")} < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    GROUP BY split, lang
    """,
)
def train_val_test_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 deterministic split (md5-hash assignment — stable under
    repartitioning/retries, unlike randomSplit), counted per split × lang."""
    docs = load_table(spark, sf_dir, "documents")
    split = C.deterministic_split(
        docs, "doc_id", weights={"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    return split.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "source_mixture_counts",
    oracle=f"""
    SELECT source, COUNT(*) AS n_kept
    FROM documents
    WHERE {_DUCK_FRAC.format(salt="mix")} <
          CASE WHEN source = 'src0' THEN 1.0
               WHEN source = 'src1' THEN 0.5
               WHEN source = 'src2' THEN 0.25
               ELSE 0.75 END
    GROUP BY source
    """,
)
def source_mixture_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: per-source keep-fractions applied as a deterministic
    hash filter (no shuffle), counted per source."""
    docs = load_table(spark, sf_dir, "documents")
    mixed = C.weighted_source_sample(
        docs,
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_weight=0.75,
        salt="mix",
    )
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "stratified_sample_docs",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {_DUCK_FRAC.format(salt="strat")}, doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 20
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 20 docs per language, chosen
    by md5-hash rank — a seeded reservoir sample that is stable across
    engines and re-runs (id-level parity, not just counts)."""
    docs = load_table(spark, sf_dir, "documents")
    return C.stratified_sample(
        docs, group_col="lang", n_per_group=20, key_col="doc_id", salt="strat"
    ).select("doc_id", "lang")


@query(
    "pii_redaction_stats",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
           length(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g')
           ) AS redacted_len
    FROM documents
    """,
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub plumbing over the corpus: per-doc pattern hit counts and the
    redacted length.  (Planted-PII behavior is pytest-covered; the fixture
    corpus itself is clean, which this verifies too.)"""
    docs = load_table(spark, sf_dir, "documents")
    red = C.pii_redact(docs, "text")
    return red.select(
        "doc_id",
        F.col("n_email"),
        F.col("n_ssn"),
        F.length("redacted").alias("redacted_len"),
    )


@query(
    "packed_sequence_stats",
    oracle="""
    WITH RECURSIVE docs_o AS (
        SELECT lang, doc_id, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM (SELECT lang, doc_id,
                     len(string_split(trim(text), ' ')) AS n_tokens
              FROM documents)
    ),
    walk AS (
        SELECT lang, rn, doc_id, n_tokens,
               CAST(1 AS BIGINT) AS seq_id, n_tokens AS fill
        FROM docs_o WHERE rn = 1
        UNION ALL
        SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
               CASE WHEN w.fill + d.n_tokens > 2048 THEN w.seq_id + 1 ELSE w.seq_id END,
               CASE WHEN w.fill + d.n_tokens > 2048 THEN d.n_tokens ELSE w.fill + d.n_tokens END
        FROM walk w JOIN docs_o d ON d.lang = w.lang AND d.rn = w.rn + 1
    )
    SELECT lang,
           MAX(seq_id) AS n_sequences,
           COUNT(*) AS n_docs,
           ROUND(SUM(n_tokens) * 100, 0) / (100 * MAX(seq_id) * 2048.0) AS fill_ratio
    FROM walk
    GROUP BY lang
    """,
)
def packed_sequence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing into 2048-token context windows per lang:
    sequences used, docs packed, and the mean fill ratio.  The Spark packer is
    an O(n) per-group applyInPandas; the oracle replays the identical walk
    with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "lang", "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    packed = C.pack_sequences(
        with_tokens, budget=2048, group_col="lang", key_col="doc_id", tokens_col="n_tokens"
    )
    return packed.groupBy("lang").agg(
        F.max("seq_id").alias("n_sequences"),
        F.count(F.lit(1)).alias("n_docs"),
        (F.round(F.sum("n_tokens") * 100, 0) / (100 * F.max("seq_id") * F.lit(2048.0))).alias(
            "fill_ratio"
        ),
    )


# each non-blank document's whitespace tokens (functions/text.tokens)
_NONEMPTY_TOKS = r"""toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents
        WHERE length(trim(text)) > 0
    )"""


@query(
    "doc_chunk_stats",
    oracle=f"""
    WITH {_NONEMPTY_TOKS},
    chunks AS (
        SELECT doc_id,
               CAST(s.start AS INT) // 48 AS chunk_idx,
               CAST(s.start AS INT) AS chunk_start,
               t[CAST(s.start AS INT) + 1 : CAST(s.start AS INT) + 64] AS ctoks
        FROM toks,
             UNNEST(range(0, greatest(len(t) - 17, 0) + 1, 48)) AS s(start)
    )
    SELECT doc_id, chunk_idx, chunk_start,
           len(ctoks) AS chunk_tokens,
           md5(array_to_string(ctoks, ' ')) AS chunk_hash
    FROM chunks
    """,
)
def doc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (chunk_size=64, overlap=16): every document
    exploded into BERT-style overlapping token chunks with an md5 chunk
    identity.  Narrow maps only (split -> sequence -> transform -> explode) —
    zero shuffles, runs at scan speed; the oracle replays the identical start
    grid with range() and 1-based inclusive list slicing."""
    from fs2_kinesis_firehose_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, text_col="text", chunk_size=64, overlap=16)


@query(
    "dsir_importance_weights",
    oracle=r"""
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(CONCAT('0x', SUBSTRING(md5(g), 1, 8)) AS BIGINT) % 10000 AS bucket
        FROM (
            SELECT doc_id, g FROM (SELECT doc_id, unnest(w) AS g FROM words)
            WHERE g <> ''
            UNION ALL
            SELECT doc_id, w[CAST(t.i AS INT)] || ' ' || w[CAST(t.i AS INT) + 1] AS g
            FROM words, UNNEST(range(1, len(w))) AS t(i)
        )
    ),
    tfeats AS (
        SELECT f.doc_id, f.bucket
        FROM feats f JOIN documents d USING (doc_id)
        WHERE d.lang = 'en'
    ),
    rawc AS (SELECT bucket, COUNT(*) AS rc FROM feats GROUP BY 1),
    tgtc AS (SELECT bucket, COUNT(*) AS tc FROM tfeats GROUP BY 1),
    rt AS (SELECT SUM(rc) AS rtot FROM rawc),
    tt AS (SELECT SUM(tc) AS ttot FROM tgtc),
    ratio AS (
        SELECT COALESCE(rawc.bucket, tgtc.bucket) AS bucket,
               ln(COALESCE(tc, 0) + 1) - ln(ttot + 10000)
               - ln(COALESCE(rc, 0) + 1) + ln(rtot + 10000) AS log_ratio
        FROM rawc FULL JOIN tgtc ON rawc.bucket = tgtc.bucket, rt, tt
    ),
    scored AS (
        SELECT f.doc_id, COUNT(*) AS n_features, ROUND(SUM(log_ratio), 4) AS log_weight
        FROM feats f JOIN ratio USING (bucket)
        GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(n_features, 0) AS n_features,
           COALESCE(log_weight, 0.0) AS log_weight,
           COALESCE(log_weight, 0.0) > 0 AS keep
    FROM documents d LEFT JOIN scored USING (doc_id)
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023): per-document log importance weight of a
    hashed-unigram+bigram model of the 'en' slice (target) against the full
    corpus (raw); keep = looks more like the target than like the corpus
    (operators/dsir.py).  Feature hashing uses the engine-portable md5
    bucket; the 4-decimal round absorbs float-fold reassociation exactly
    like the LM cross-entropy oracle."""
    from fs2_kinesis_firehose_spark.operators import dsir as DS

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return DS.importance_weights(docs, target, "text", "doc_id", n_buckets=10_000)


@query(
    "temperature_mixing_counts",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
    t AS (SELECT SUM(c) AS n, SUM(pow(c, 0.5)) AS z FROM c),
    f AS (SELECT lang, LEAST(1.0, 0.5 * n * pow(c, 0.5) / z / c) AS kf FROM c, t),
    kept AS (
        SELECT d.lang
        FROM documents d JOIN f ON d.lang IS NOT DISTINCT FROM f.lang
        WHERE {_DUCK_FRAC.format(salt="temp")} < kf
    )
    SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY lang
    """,
)
def temperature_mixing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing at α=0.5 over the lang distribution: rare languages
    upweighted, common downsampled, deterministic md5 keep rule
    (operators/curation.py:temperature_mixing).  Output = kept docs per
    lang; the oracle replays the per-source formula and the hash filter."""
    docs = load_table(spark, sf_dir, "documents")
    kept = C.temperature_mixing(
        docs, alpha=0.5, total_fraction=0.5, source_col="lang", key_col="doc_id"
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "normalized_dedup_stats",
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                   '\s+', ' ', 'g')) AS norm_text,
               text
        FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT sha256(text)) AS n_distinct_raw,
           COUNT(DISTINCT sha256(norm_text)) AS n_distinct_norm
    FROM n
    """,
)
def normalized_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-document counts before/after CCNet-style normalization
    (operators/curation.py:normalize_text) — the gap is the dup mass that
    case/punctuation/whitespace variation hides from raw exact dedup.  One
    scan, two sha256 distinct aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    n = C.normalize_text(docs, "text")
    return n.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2(F.col("text").cast("binary"), 256)).alias("n_distinct_raw"),
        F.countDistinct(F.sha2(F.col("norm_text").cast("binary"), 256)).alias("n_distinct_norm"),
    )


# End-to-end curation funnel: every stage reuses an oracle fragment that is
# independently hash-verified by its own registry entry (gopher_quality_flags,
# dedup_exact, near_dedup_survivors, train_val_test_counts) — composed here
# over successively filtered survivor sets.
_FUNNEL_ORACLE = f"""
    WITH RECURSIVE
    w AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
    base AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               ROUND(CASE WHEN len(toks) > 0
                     THEN 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                     ELSE 0 END, 6) AS dup_word_fraction
        FROM w
    ),
    quality AS (
        SELECT base.doc_id
        FROM base
        WHERE dup_word_fraction <= 0.6
          AND n_tokens >= 25
    ),
    exact AS (
        SELECT MIN(d.doc_id) AS doc_id
        FROM documents d JOIN quality USING (doc_id)
        GROUP BY sha256(d.text)
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(words[i:i+2], ' ')
                              FOR i IN range(1, len(words) - 1)]) AS shingles
        FROM (SELECT d.doc_id, string_split(d.text, ' ') AS words
              FROM documents d JOIN exact USING (doc_id))
    ),
    stoks AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    ssizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    scommon AS (
        SELECT a.doc_id AS key1, b.doc_id AS key2, COUNT(*) AS common
        FROM stoks a JOIN stoks b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sedges AS (
        SELECT key1, key2
        FROM scommon c
        JOIN ssizes s1 ON c.key1 = s1.doc_id
        JOIN ssizes s2 ON c.key2 = s2.doc_id
        WHERE common * 1.0 / (s1.sz + s2.sz - common) >= 0.7
    ),
    ssym AS (
        SELECT key1 AS a, key2 AS b FROM sedges
        UNION
        SELECT key2, key1 FROM sedges
    ),
    sreach AS (
        SELECT a AS node, b AS reach FROM ssym
        UNION
        SELECT r.node, e.b FROM sreach r JOIN ssym e ON r.reach = e.a
    ),
    scomp AS (
        SELECT node, LEAST(node, MIN(reach)) AS component
        FROM sreach GROUP BY node
    ),
    near AS (
        SELECT doc_id FROM exact
        WHERE doc_id NOT IN (SELECT node FROM scomp WHERE component < node)
    ),
    train AS (
        SELECT doc_id FROM near
        WHERE {_DUCK_FRAC.format(salt="split")} < 0.8
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_total,
           (SELECT COUNT(*) FROM quality) AS n_quality,
           (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM near) AS n_near,
           (SELECT COUNT(*) FROM train) AS n_train
"""


@query("curation_funnel_counts", oracle=_FUNNEL_ORACLE)
def curation_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end-to-end, as ONE query:
    Gopher quality filter → exact dedup → MinHash near-dedup (connected
    components, min-id survivor) → deterministic train split, reporting the
    per-stage survivor funnel.  Every stage is the same operator its
    standalone registry entry verifies; the composition is what a real
    curation run executes."""
    from fs2_kinesis_firehose_spark.operators import dedup as D
    from fs2_kinesis_firehose_spark.operators import textstats as TS

    docs = load_table(spark, sf_dir, "documents")
    flags = TS.gopher_quality(docs, "text", "doc_id")
    # fixture-calibrated bounds (the synthetic word-soup corpus fails the
    # published keep-all rule wholesale; the STANDALONE gopher_quality_flags
    # query keeps the published thresholds) -- dup <= 0.6, >= 25 tokens
    # passes ~60%, so every later stage operates on a non-trivial set
    quality = docs.join(
        flags.filter(
            (F.col("dup_word_fraction") <= 0.6) & (F.col("n_tokens") >= 25)
        ).select("doc_id"),
        "doc_id",
        "left_semi",
    ).localCheckpoint(eager=False)
    exact = D.exact_dedup(quality, "text", "doc_id").localCheckpoint(eager=False)
    near = D.near_dedup_minhash(
        exact, "text", "doc_id", shingle_n=3, num_hashes=32, bands=16, threshold=0.7
    )
    split = C.deterministic_split(
        near, "doc_id", weights={"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    # n_near and n_train fold into ONE aggregate over the split frame
    # (split is a 1:1 projection of the near survivors, so count(*) over it
    # IS n_near): one branch fewer re-deriving the near anti-join lineage,
    # one crossJoin fewer (guide §2.1 — fewer passes/shuffles, same values).
    return (
        docs.agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(quality.agg(F.count(F.lit(1)).alias("n_quality")))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact")))
        .crossJoin(
            split.agg(
                F.count(F.lit(1)).alias("n_near"),
                F.count(F.when(F.col("split") == "train", F.lit(1))).alias("n_train"),
            )
        )
    )


@query(
    "repeated_chunk_stats",
    oracle=f"""
    WITH {_NONEMPTY_TOKS},
    chunks AS (
        SELECT doc_id,
               md5(array_to_string(
                   t[CAST(s.start AS INT) + 1 : CAST(s.start AS INT) + 8], ' ')) AS chunk_hash
        FROM toks,
             UNNEST(range(0, greatest(len(t) - 1, 0) + 1, 8)) AS s(start)
    )
    SELECT chunk_hash,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(*) >= 2
    """,
)
def repeated_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated chunks (8-token non-overlapping grid): the
    chunk-level exact-dedup signal ``chunk_hash`` exists for — boilerplate
    chunks recurring across (or within) documents.  One narrow-map explode +
    one shuffle on the hash, the same shape as exact dedup at chunk
    granularity."""
    from fs2_kinesis_firehose_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs, text_col="text", chunk_size=8, overlap=0)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )


# frac over an arbitrary column (the representative key), same md5 recipe
_DUCK_FRAC_COL = (
    "CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST({col} AS VARCHAR), '{salt}')), 1, 8)) "
    "AS BIGINT) / 4294967296.0"
)


@query(
    "leakage_safe_split_counts",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, sha256(text) AS grp FROM documents
    ),
    r AS (
        SELECT doc_id, grp,
               MIN(doc_id) OVER (PARTITION BY grp) AS rep
        FROM g
    ),
    s AS (
        SELECT doc_id, grp,
               CASE WHEN {_DUCK_FRAC_COL.format(col="rep", salt="split")} < 0.8 THEN 'train'
                    WHEN {_DUCK_FRAC_COL.format(col="rep", salt="split")} < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM r
    ),
    leaky AS (
        SELECT COUNT(*) AS n_leaky_groups FROM (
            SELECT grp FROM s GROUP BY grp HAVING COUNT(DISTINCT split) > 1
        )
    )
    SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_groups,
           l.n_leaky_groups
    FROM s, leaky l
    GROUP BY split, l.n_leaky_groups
    """,
)
def leakage_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware 80/10/10 split over exact-dup groups (sha256(text)):
    each group's split is decided by its min-doc_id representative, so dup
    clusters never straddle splits.  ``n_leaky_groups`` recomputes the
    straddle count from scratch on BOTH engines — the oracle proves the
    no-leakage contract (0), not just the counts."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_grp", F.sha2(F.col("text"), 256)
    )
    s = C.leakage_safe_split(
        docs, "_grp", "doc_id",
        weights={"train": 0.8, "val": 0.1, "test": 0.1}, salt="split",
    )
    leaky = (
        s.groupBy("_grp")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(F.count(F.when(F.col("ns") > 1, 1)).alias("n_leaky_groups"))
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_grp").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leaky))  # 1 row → BNLJ
        .select("split", "n_docs", "n_groups", "n_leaky_groups")
    )


# uniform in (0,1) for the A-ES sample: half-ulp offset so ln() stays finite
_DUCK_U = (
    "((CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(doc_id AS VARCHAR), 'wsample')), 1, 8)) "
    "AS BIGINT) + 0.5) / 4294967296.0)"
)


@query(
    "weighted_sample_docs",
    oracle=f"""
    SELECT doc_id, ROUND(LN({_DUCK_U}) / n_chars, 9) AS sample_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY sample_key DESC, doc_id ASC
    LIMIT 100
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted sample (without replacement) of 100 documents, weight =
    n_chars — Efraimidis–Spirakis exponential keys over the deterministic
    md5 uniform; TakeOrderedAndProject ranking (per-partition heaps)."""
    docs = load_table(spark, sf_dir, "documents")
    return C.weighted_sample(docs, "n_chars", 100, key_col="doc_id").select(
        "doc_id", "sample_key"
    )


@query(
    "seq_concat_pack_stats",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(doc_id AS VARCHAR),
                    'pack')), 1, 8)) AS BIGINT) % 8 AS shard
        FROM documents
    ),
    c AS (
        SELECT shard, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS tok_start
        FROM t
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           (CAST(SUM(n_tokens) AS BIGINT) + 511) // 512 AS n_sequences,
           ((CAST(SUM(n_tokens) AS BIGINT) + 511) // 512) * 512
               - CAST(SUM(n_tokens) AS BIGINT) AS pad_tokens,
           CAST(SUM(CASE WHEN n_tokens > 0
                    AND FLOOR(tok_start / 512.0)
                        <> FLOOR((tok_start + n_tokens - 1) / 512.0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs
    FROM c
    GROUP BY shard
    ORDER BY shard
    """,
)
def seq_concat_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing (operators/chunking.py
    ``concat_chunk_pack``): 8 md5 shards, documents concatenated in
    doc_id order, 512-token training sequences.  Unlike the next-fit
    ``packed_sequence_stats`` this pipeline is PURE window SQL (no
    Python, no recursive walk): one shard shuffle + a prefix sum; docs
    may straddle a cut (``boundary_docs``) and the final partial
    sequence per shard is padded (``pad_tokens``)."""
    from fs2_kinesis_firehose_spark.operators.chunking import (
        concat_chunk_pack,
        pack_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    packed = concat_chunk_pack(
        toks, token_col="n_tokens", key_col="doc_id", seq_len=512, shards=8
    )
    return pack_stats(packed, token_col="n_tokens", seq_len=512)


@query(
    "token_budget_sample_stats",
    oracle=r"""
    WITH t AS (
        SELECT source, doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               CAST(CONCAT('0x', SUBSTRING(md5(CONCAT(CAST(doc_id AS VARCHAR),
                    'budget')), 1, 8)) AS BIGINT) AS h
        FROM documents
    ),
    c AS (
        SELECT source, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM t
    ),
    kept AS (SELECT source, n_tokens FROM c WHERE cum <= 800)
    SELECT t.source,
           COUNT(*) AS docs_total,
           CAST(SUM(t.n_tokens) AS BIGINT) AS tokens_total,
           (SELECT COUNT(*) FROM kept k WHERE k.source = t.source)
               AS docs_kept,
           CAST(COALESCE((SELECT SUM(k.n_tokens) FROM kept k
                     WHERE k.source = t.source), 0) AS BIGINT) AS tokens_kept
    FROM t
    GROUP BY t.source
    ORDER BY t.source
    """,
)
def token_budget_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling (``token_budget_sample``): an
    800-token deterministic uniform cut per source (small enough to bite
    at every test SF), with kept-vs-total
    accounting.  One window prefix sum + filter; the oracle replays the
    identical md5 order and inclusive-cumsum rule."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    kept = C.token_budget_sample(
        toks, budget=800, group_col="source", tokens_col="n_tokens",
        key_col="doc_id", salt="budget",
    )
    totals = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_total"),
        F.sum("n_tokens").alias("tokens_total"),
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )
    return (
        totals.join(kept_agg, "source", "left")
        .select(
            "source",
            "docs_total",
            "tokens_total",
            F.coalesce("docs_kept", F.lit(0)).alias("docs_kept"),
            F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        )
        .orderBy("source")
    )


@query(
    "source_chunk_overlap_matrix",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
        FROM documents
        WHERE length(trim(text)) > 0
    ),
    chunks AS (
        SELECT source,
               md5(array_to_string(
                   t[CAST(s.start AS INT) + 1 : CAST(s.start AS INT) + 64],
                   ' ')) AS h
        FROM toks,
             UNNEST(range(0, greatest(len(t) - 17, 0) + 1, 48)) AS s(start)
    ),
    d AS (SELECT DISTINCT h, source FROM chunks)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_chunks
    FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY a.source, b.source
    """,
)
def source_chunk_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination diagnostic: for every source pair, how
    many DISTINCT 64-token chunk identities they share — the "which feeds
    copy which" matrix a curation run reads before picking dedup keys
    (document-level exact dedup finds nothing here; the overlap is
    chunk-level boilerplate).

    Plan: chunk explode (narrow, scan speed) → distinct (chunk_hash,
    source) — ONE shuffle keyed on the hash — → self-join on the hash
    (reuses that partitioning, no second exchange on the big side) →
    pair aggregate (output ≤ |sources|² rows).  Per-hash fan-out is
    bounded by |sources|, so the join can't quadratic-blow-up on a hot
    chunk the way a doc-level pair join could."""
    from fs2_kinesis_firehose_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    chunks = chunk_documents(docs, text_col="text", chunk_size=64, overlap=16)
    d = chunks.select(F.col("chunk_hash").alias("h"), "source").distinct()
    a = d.select("h", F.col("source").alias("source_a"))
    b = d.select("h", F.col("source").alias("source_b"))
    return (
        a.join(b, "h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
        .orderBy("source_a", "source_b")
    )


@query(
    "length_bucket_padding_stats",
    # bucket = smallest power of two >= n_tokens, computed with INTEGER bit
    # arithmetic on both sides (length of the binary string of n−1) — no
    # float log2, whose 1-ulp noise at exact powers would flip buckets.
    oracle=r"""
    WITH t AS (
        SELECT len(string_split_regex(trim(text), '\s+')) AS n FROM documents
    ),
    b AS (
        SELECT n,
               CASE WHEN n = 1 THEN 1
                    ELSE (1 << length(bin(n - 1))) END AS bucket
        FROM t WHERE n > 0
    ),
    agg AS (
        SELECT CAST(bucket AS BIGINT) AS bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS token_sum
        FROM b GROUP BY bucket
    )
    SELECT bucket, n_docs, token_sum,
           n_docs * bucket AS padded_tokens,
           n_docs * bucket - token_sum AS pad_waste,
           ROUND((n_docs * bucket - token_sum) / (n_docs * bucket * 1.0), 6)
               AS waste_frac
    FROM agg
    """,
)
def length_bucket_padding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing accounting (the dynamic-batching
    efficiency table): bucket every document to the smallest power-of-two
    sequence length that holds it and report the padding waste each bucket
    pays — the number a training pipeline reads to choose between
    fixed-length packing (``packed_sequence_stats``) and length-bucketed
    batching.  Bucket boundaries use integer bit arithmetic on both
    engines (no float log2).

    Plan: one scan with the token count + bucket id fused as codegen
    expressions, one tiny aggregate (≤ a dozen buckets) — scan-speed at
    any scale."""
    from fs2_kinesis_firehose_spark.operators import textstats as TS

    docs = load_table(spark, sf_dir, "documents")
    n = TS.token_count("text")
    # SQL shiftleft accepts a column bit count (the PySpark wrapper doesn't)
    bucket = F.expr(
        "CASE WHEN n = 1 THEN 1 ELSE shiftleft(1, length(bin(n - 1))) END"
    )
    b = (
        docs.filter(n > 0)
        .select(n.alias("n"))
        .select("n", bucket.cast("long").alias("bucket"))
    )
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("token_sum")
    )
    padded = F.col("n_docs") * F.col("bucket")
    return agg.select(
        "bucket",
        "n_docs",
        "token_sum",
        padded.alias("padded_tokens"),
        (padded - F.col("token_sum")).alias("pad_waste"),
        F.round(
            (padded - F.col("token_sum")) / (padded * F.lit(1.0)), 6
        ).alias("waste_frac"),
    )
