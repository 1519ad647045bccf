"""Training-data curation operators: deterministic splits, source mixing,
PII redaction, sequence packing.

These are the pipeline stages between "deduplicated corpus" and "training
batches" (north-star Tier C surface; no reference analog — the reference is a
delivery pipe, fs2-kinesis-firehose has no curation layer).

Engine-portability: the split/sample operators derive randomness from
``md5`` — available and bit-identical in Spark and DuckDB — so every
assignment is reproducible across engines, partitionings, and retries
(rand()/xxhash64 would be Spark-specific).  At 100 TB all of these are pure
codegen projections/filters (no shuffle) except ``pack_sequences``, which
shuffles once on the packing group key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T

HASH_SPACE = float(1 << 32)  # first 8 md5 hex chars → uniform over 2^32


def hash_fraction(col: Column | str, salt: str = "") -> Column:
    """Deterministic uniform [0, 1) from a key column: first 32 bits of
    ``md5(key || salt)``.  Same expression is expressible in any SQL engine
    with md5 — the engine-portable analog of ``rand(seed)``."""
    c = F.col(col) if isinstance(col, str) else col
    bits = T.md5_int(F.concat(c.cast("string"), F.lit(salt)), 8).cast("double")
    return bits / F.lit(HASH_SPACE)


def deterministic_split(
    df: DataFrame,
    key_col: str = "doc_id",
    *,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Append a ``split`` column assigning each row to a named split with the
    given weights (must sum to ~1).  Assignment depends only on (key, salt):
    stable under repartitioning, retries, incremental re-runs — the property
    train/val leakage audits need and ``randomSplit`` does not have."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    frac = hash_fraction(key_col, salt)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        # round the cumulative boundary so 0.8+0.1 is literally 0.9 — the
        # oracle SQL writes the same decimal constant, and a 1-ulp boundary
        # mismatch would misroute rows whose hash lands in the sliver
        cum = round(cum + weights[name], 9)
        expr = F.when(frac < cum, name) if expr is None else expr.when(frac < cum, name)
    expr = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def leakage_safe_split(
    df: DataFrame,
    group_col: Column | str,
    key_col: str = "doc_id",
    *,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Cluster-aware ``deterministic_split``: every row is assigned the split
    of its GROUP's representative (min ``key_col`` in the group), so a
    duplicate cluster can never straddle train/val/test — the leakage mode a
    row-level split has by construction whenever dedup is imperfect or
    deliberately partial (e.g. keeping near-dups for quality reasons).

    ``group_col`` is any cluster id: a content hash (exact-dup groups), a
    connected-component id from near-dedup, or a semantic-cluster id.
    Rows with a NULL group ("not in any cluster") are split independently
    by their OWN key — they do not collapse into one mega-group (which
    would both skew the split ratios by the whole NULL population and put
    every NULL row in a single window partition).  One shuffle (the
    per-group window min); assignment inherits ``deterministic_split``'s
    stability under repartitioning and re-runs.
    """
    from pyspark.sql.window import Window

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    # partition by (group, NULL-fallback key): NULL-group rows become
    # singleton partitions keyed by their own key — no skewed NULL
    # partition, and min(key) over a singleton is the row's own key
    w = Window.partitionBy(g, F.when(g.isNull(), F.col(key_col)))
    out = df.withColumn("_rep", F.min(key_col).over(w))
    return deterministic_split(out, "_rep", weights=weights, salt=salt).drop("_rep")


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    *,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, A-ES): each row gets key ``u^(1/w)`` for a per-row
    uniform ``u``; the n largest keys are an exact weighted sample.  Ranking
    uses the monotone-equivalent ``ln(u)/w`` (the raw power form collapses
    toward 1 for large weights and would drown in rounding ties).

    ``u`` is derived from md5(key || 'wsample') with a half-ulp offset so it is
    never exactly 0 (``ln`` stays finite) — fully deterministic: stable
    under repartitioning, retries, and re-runs, and restatable in SQL.
    Rows with ``w <= 0`` or NULL are excluded (zero-weight rows are
    unsampleable by definition).  Returns the input columns plus
    ``sample_key`` (rounded to 9 places; ranking ties broken by
    ``key_col`` ASC).

    One scan + TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    bits = T.md5_int(F.concat(F.col(key_col).cast("string"), F.lit("wsample")), 8).cast(
        "double"
    )
    u = (bits + F.lit(0.5)) / F.lit(HASH_SPACE)
    key = F.round(F.log(u) / F.col(weight_col), 9)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc(key_col))
        .limit(n)
    )


def quantile_bucket(
    df: DataFrame,
    col: str,
    probs: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    *,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Bucket rows by EXACT quantiles of ``col`` (linear interpolation —
    ``percentile``/``quantile_cont`` semantics, identical in Spark and
    DuckDB): the CCNet head/middle/tail perplexity partition (Wenzek et al.
    2019) and any other score-stratified keep rule.

    Scale shape: ONE exact-percentile aggregate produces a 1-row boundary
    frame (len(probs) doubles — metadata), broadcast back via BNLJ; the
    assignment is a codegen'd when-chain — no global sort, no ntile window
    (a corpus-wide ntile needs a single-partition sort; boundaries + a
    when-chain is the distributed form).  Boundaries are rounded to 6
    places so both engines compare against the identical literal;
    rows with NULL ``col`` get a NULL bucket (they were never scored).
    """
    if len(labels) != len(probs) + 1:
        raise ValueError("need len(labels) == len(probs) + 1")
    if list(probs) != sorted(probs):
        raise ValueError("probs must be ascending")
    qs = df.agg(
        *[
            F.round(F.percentile(F.col(col), F.lit(p)), 6).alias(f"_q{i}")
            for i, p in enumerate(probs)
        ]
    )
    out = df.crossJoin(F.broadcast(qs))  # 1 row → BroadcastNestedLoopJoin
    expr = None
    for i, lab in enumerate(labels[:-1]):
        cond = F.col(col) <= F.col(f"_q{i}")
        expr = F.when(cond, lab) if expr is None else expr.when(cond, lab)
    expr = expr.otherwise(labels[-1])
    out = out.withColumn(
        bucket_col, F.when(F.col(col).isNull(), F.lit(None)).otherwise(expr)
    )
    return out.drop(*[f"_q{i}" for i in range(len(probs))])


def weighted_source_sample(
    df: DataFrame,
    weights: dict[str, float],
    *,
    source_col: str = "source",
    key_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Down-sample per source to the given keep-fractions (corpus mixing:
    e.g. keep 100%% of books, 30%% of crawl).  Pure filter — no shuffle; the
    keep decision is a deterministic function of (key, salt)."""
    w = F.lit(float(default_weight))
    for src, frac in sorted(weights.items()):
        w = F.when(F.col(source_col) == src, float(frac)).otherwise(w)
    return df.filter(hash_fraction(key_col, salt) < w)


def stratified_sample(
    df: DataFrame,
    *,
    group_col: str,
    n_per_group: int,
    key_col: str = "doc_id",
    salt: str = "strat",
    prefilter_oversample: float | None = 8.0,
) -> DataFrame:
    """Exactly ``n_per_group`` rows per group (fewer if the group is
    smaller), chosen deterministically: rank by md5-hash fraction within the
    group and keep the lowest ``n``.  Equivalent to a seeded uniform
    reservoir sample but stable across engines, partitionings, and re-runs.

    **Scale design:** the ranking window sends a whole group to one task —
    fatal when a group holds billions of rows.  With ``prefilter_oversample``
    set (default), a broadcast of per-group counts first filters to rows
    whose hash fraction < oversample·n/|group| — the window then ranks
    ~oversample·n survivors per group instead of the full group.  The result
    is IDENTICAL as long as the group's n-th smallest hash clears the
    threshold; by Chernoff the miss probability is ≤ exp(-n·(ln 8 − 1 + 1/8))
    ≈ e^(-1.2n) per group at oversample 8 — negligible at any fleet size for
    n ≥ 20.  Pass ``None`` for the exact single-window path."""
    from pyspark.sql.window import Window

    frac = hash_fraction(key_col, salt)
    base = df
    if prefilter_oversample is not None:
        counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_gcnt"))
        # eqNullSafe, not a name join: groupBy keeps NULL as its own group, and
        # a plain equi-join would silently drop NULL-group rows — the exact
        # path treats NULL as a regular window partition, so both paths must
        base = (
            df.join(
                F.broadcast(counts.withColumnRenamed(group_col, "_gkey")),
                F.col(group_col).eqNullSafe(F.col("_gkey")),
            )
            .filter(
                frac
                < F.least(
                    F.lit(1.0),
                    F.lit(float(prefilter_oversample) * n_per_group) / F.col("_gcnt"),
                )
            )
            .drop("_gkey", "_gcnt")
        )
    w = Window.partitionBy(group_col).orderBy(frac, key_col)
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
# RE2-safe patterns (no lookaround) that behave identically in Spark and
# DuckDB regexp functions.  Order matters: SSN/IP before PHONE (digit runs).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``redacted`` (text with PII replaced by typed tokens) and a
    ``n_<kind>`` count column per pattern.  All pure regexp Column
    expressions — scan-speed at any scale."""
    out = df
    redacted = F.col(text_col)
    for kind, pattern, token in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(redacted, F.lit(pattern), 0))
        )
        redacted = F.regexp_replace(redacted, pattern, token)
    return out.withColumn("redacted", redacted)


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------
def pack_sequences(
    df: DataFrame,
    *,
    budget: int,
    group_col: str = "lang",
    key_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shards: int = 1,
) -> DataFrame:
    """Next-fit sequence packing: within each group (docs ordered by key),
    append docs to the current sequence until the next one would exceed
    ``budget`` tokens, then start a new sequence.  Returns
    (group, key, tokens, seq_id).

    The running bin id is a data-dependent reset — not a window expression —
    so each group is packed in an Arrow-batched ``applyInPandas`` with an
    O(n) loop.  A doc larger than ``budget`` gets a sequence of its own
    rather than being dropped (lossless contract; oversize handling belongs
    upstream).

    **Scale knob:** with ``shards=1`` the parallelism axis is groups only —
    at 100 TB one language would be a single pandas group (OOM + one-task
    bottleneck).  ``shards=k`` packs within (group, hash-shard) instead:
    each shard is an independent next-fit run whose seq_ids are offset into
    disjoint ranges, so the output is still (group, key) → globally unique
    sequence, at k× the parallelism and 1/k the per-task memory.  Packing
    quality is unaffected (next-fit never looks across sequence boundaries
    anyway); only the doc→sequence grouping differs from the shards=1
    assignment, which is why the oracle-checked query pins shards=1.
    """
    out_schema = (
        f"{group_col} {df.schema[group_col].dataType.simpleString()}, "
        f"{key_col} {df.schema[key_col].dataType.simpleString()}, "
        f"{tokens_col} bigint, seq_id bigint"
    )
    # seq ids per shard start at shard * offset; budget ≥1 token/doc means a
    # shard can never produce more sequences than rows, so 2^40 spacing is
    # collision-free for any realistic shard size
    shard_offset = 1 << 40

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(key_col).reset_index(drop=True)
        base = int(pdf["_shard"].iat[0]) * shard_offset if shards > 1 else 0
        seq_ids = []
        seq, fill = 1, 0
        for n in pdf[tokens_col].astype(int):
            if fill > 0 and fill + n > budget:
                seq += 1
                fill = n
            else:
                fill += n
            seq_ids.append(base + seq)
        pdf = pdf[[group_col, key_col, tokens_col]].copy()
        pdf[tokens_col] = pdf[tokens_col].astype("int64")
        pdf["seq_id"] = seq_ids
        return pdf

    base = df.select(
        group_col, key_col, F.col(tokens_col).cast("bigint").alias(tokens_col)
    ).withColumn(
        "_shard",
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(max(shards, 1))).cast("int"),
    )
    return base.groupBy(group_col, "_shard").applyInPandas(pack, out_schema)


def temperature_mixing(
    df: DataFrame,
    *,
    alpha: float = 0.7,
    total_fraction: float = 0.5,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based corpus mixing (the multinomial ``p_s ∝ c_s^α``
    reweighting used by multilingual/multi-source pretraining recipes —
    published in mBERT/XLM-R and the LLaMA data notes; α < 1 upweights rare
    sources, α = 1 is proportional sampling).

    Per-source keep fraction, single pass (no waterfilling redistribution —
    a source whose target exceeds its size is clipped to keep-all and the
    total lands ≤ budget; documented trade-off that keeps the rule a pure
    per-source formula any engine can restate):

        f_s = min(1, total_fraction · N · c_s^α / (Σ_t c_t^α) / c_s)

    The keep decision is the deterministic md5 ``hash_fraction`` — stable
    under repartition/retry, reproducible in the oracle.  Plan: one
    source-count aggregate (S rows, broadcast back), then a pure filter —
    the corpus itself is scanned once and never shuffled.

    NULL sources form their own bucket: ``groupBy`` already groups NULLs
    together, and the fraction join is NULL-SAFE (``<=>``), so unlabeled
    rows are reweighted by their own count rather than silently dropped
    (a plain equi-join would never match the NULL key).
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_c"))
    tot = counts.agg(
        F.sum("_c").alias("_n"), F.sum(F.pow("_c", F.lit(alpha))).alias("_z")
    )
    fracs = counts.crossJoin(F.broadcast(tot)).select(
        F.col(source_col).alias("_frac_src"),
        F.least(
            F.lit(1.0),
            F.lit(total_fraction) * F.col("_n") * F.pow("_c", F.lit(alpha))
            / F.col("_z") / F.col("_c"),
        ).alias("_keep_frac"),
    )
    return (
        df.join(
            F.broadcast(fracs), F.col(source_col).eqNullSafe(F.col("_frac_src"))
        )
        .filter(hash_fraction(key_col, "temp") < F.col("_keep_frac"))
        .drop("_keep_frac", "_frac_src")
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str = "norm_text",
) -> DataFrame:
    """CCNet-style normalization for dedup keys: lowercase, strip
    non-alphanumerics, collapse whitespace, trim.  Exact dedup over the
    normalized form catches near-identical docs that differ only in case,
    punctuation, or spacing — the standard prep before hash-based dedup
    (Wenzek et al. 2019 §4.1).

    Pure Column expressions (codegen, zero shuffle); intentionally
    ASCII-conservative so the transform is bit-identical in any engine with
    POSIX regexes (unicode case folding differs between runtimes and would
    poison cross-engine hash equality)."""
    norm = F.lower(F.col(text_col))
    norm = F.regexp_replace(norm, r"[^a-z0-9\s]", "")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return df.withColumn(out_col, norm)


def token_budget_sample(
    df: DataFrame,
    *,
    budget: int,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
    key_col: str = "doc_id",
    salt: str = "budget",
) -> DataFrame:
    """Per-group token-budget sampling: keep a deterministic uniform subset
    of each group's documents whose running token total stays within
    ``budget`` — the "give me ~1B tokens per source" cut every mixture
    recipe needs once per training run.

    Order within a group is the engine-portable md5 ``hash_fraction`` of
    the key (ties broken by the key itself), so the kept set is a seeded
    uniform sample WITHOUT replacement that any SQL engine restates and
    that is stable under repartitioning, retries, and incremental re-runs.
    A document is kept iff the cumulative token count INCLUDING it is
    ≤ ``budget`` — a PREFIX cut of the hash order, not a knapsack: once
    the running total crosses the budget every later document in the
    group is excluded too (deterministic and SQL-restatable, unlike
    skip-and-continue filling), and an over-size document is dropped,
    never truncated (truncation belongs to the packing stage).

    Plan: one hash shuffle on ``group_col`` + an in-partition sort for the
    window prefix sum, then a pure filter — no joins, no second scan.  At
    100 TB the parallelism axis is groups; if one group dwarfs the rest,
    pre-shard it upstream and give each shard ``budget / k`` (the sum of
    k independent uniform-sample budgets is the group budget).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(hash_fraction(key_col, salt).asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("_cum_tokens", F.sum(F.col(tokens_col).cast("long")).over(w))
        .where(F.col("_cum_tokens") <= budget)
        .drop("_cum_tokens")
    )


def group_cap_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cap: int,
    *,
    salt: str = "cap",
    keep_col: str | None = None,
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``cap`` rows per group,
    chosen by a seeded-uniform order (md5 of the key — the repo's
    reproducible-sampling idiom, so the kept set is identical on every
    run and restatable by a SQL oracle).  The generic form of the
    per-domain cap (RefinedWeb anti-hub rule) — the same operator balances
    ANY over-represented group: registered domains, near-dup clusters,
    embedding-space cells (diversity sampling), language cohorts.

    With ``keep_col`` set, rows are FLAGGED instead of filtered (for
    accounting queries that need both sides).

    Plan: ONE window over (group, hash order) — a single hash shuffle on
    the group key; at 100 TB this is the first shuffle after the scan and
    everything downstream sees bounded per-group cardinality.
    """
    from pyspark.sql.window import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    # Collision-proof key encoding before hashing: NULL → '0', non-NULL →
    # '1' || key.  md5(NULL) is NULL in both engines and Spark sorts NULLs
    # FIRST while DuckDB defaults NULLS LAST, so NULL keys must hash via a
    # real string; the tag prefix (instead of a bare sentinel) means no
    # real key value can collide with the NULL encoding (r13 advisory).
    # Restated verbatim by the cap-sampling oracles as
    # COALESCE('1' || CAST(key AS VARCHAR), '0').
    key_enc = F.coalesce(
        F.concat(F.lit("1"), F.col(key_col).cast("string")), F.lit("0")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(key_enc, F.lit(salt))), key_enc
    )
    ranked = df.withColumn("_rn", F.row_number().over(w))
    if keep_col is not None:
        return ranked.withColumn(keep_col, F.col("_rn") <= cap).drop("_rn")
    return ranked.filter(F.col("_rn") <= cap).drop("_rn")
