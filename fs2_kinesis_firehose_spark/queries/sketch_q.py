"""Registered queries for the mergeable-sketch operators (operators/sketches.py).

``heavy_hitter_bigrams`` runs the FULL two-pass Misra–Gries pipeline over
the documents corpus — per-partition sketches (mapInPandas), merge, global
compress to k=800 counters (below the fixture's 916 distinct bigrams, so
the compress path genuinely executes at every SF), broadcast recount,
phi·n cut.  Because pass 2 recounts exactly, the OUTPUT is deterministic
and independent of every sketch internal — which is why a plain
GROUP BY/HAVING oracle can check the whole pipeline end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions.text import tokens, word_ngram_rows
from fs2_kinesis_firehose_spark.operators import sketches as SK
from fs2_kinesis_firehose_spark.queries import query
from fs2_kinesis_firehose_spark.tables import load_table

_PHI = 0.00125
_K = 800  # == ceil(1/phi): minimum counter budget; forces real compression


def _bigram_ctes(col: str) -> str:
    """``w``: each document's words; ``big``: one row per word bigram, as
    ``col`` (word_ngram_rows(n=2, distinct=False) in DuckDB)."""
    return f"""w AS (
        SELECT string_split_regex(trim(text), '\\s+') AS words FROM documents
    ),
    big AS (
        SELECT unnest([words[i] || ' ' || words[i + 1]
                       FOR i IN range(1, len(words))]) AS {col}
        FROM w
    )"""


@query(
    "heavy_hitter_bigrams",
    oracle=f"""
    WITH {_bigram_ctes("bigram")},
    tot AS (SELECT COUNT(*) AS n FROM big)
    SELECT bigram, COUNT(*) AS cnt
    FROM big, tot
    GROUP BY bigram, n
    HAVING COUNT(*) >= CEIL({_PHI} * n)
    """,
)
def heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bigrams = word_ngram_rows(docs, "text", "doc_id", 2, distinct=False, out_col="bg")
    # total bigram count at SCAN speed (size(tokens)-1 per doc, no explode,
    # no window shuffle) instead of a third evaluation of the gram build;
    # the empty-text phantom token yields size=1 → 0 grams, matching
    # word_ngram_rows' contract.
    totals = docs.agg(
        F.sum(F.greatest(F.size(tokens("text")) - 1, F.lit(0))).cast("long").alias("n")
    )
    return (
        SK.heavy_hitters(bigrams, "bg", _PHI, k=_K, totals=totals)
        .withColumnRenamed("item", "bigram")
    )


_KLL_PHIS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
_KLL_EPS = 0.03  # == the pytest-asserted bound (observed ~0.002 at k=200: 15x margin)


def _doc_lengths(docs: DataFrame) -> DataFrame:
    """Non-null text lengths as double column ``len``."""
    return docs.select(F.length("text").cast("double").alias("len")).where(
        F.col("len").isNotNull()
    )


def _rank_checks(lens: DataFrame, ests: list[float], *lead) -> DataFrame:
    """One row per phi of _KLL_PHIS: the ``lead`` columns, phi, n, and
    whether that phi's estimate has an exact rank interval
    [count(len < est), count(len <= est)] within _KLL_EPS·n of phi·n —
    every interval from ONE exact pass over ``lens``."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, v in enumerate(ests):
        aggs.append(F.sum((F.col("len") < F.lit(v)).cast("long")).alias(f"lo{i}"))
        aggs.append(F.sum((F.col("len") <= F.lit(v)).cast("long")).alias(f"hi{i}"))
    stats = lens.agg(*aggs).localCheckpoint(eager=False)

    parts = []
    for i, phi in enumerate(_KLL_PHIS):
        target = F.lit(phi) * F.col("n")
        err = F.greatest(F.lit(0.0), F.col(f"lo{i}") - target, target - F.col(f"hi{i}"))
        parts.append(
            stats.select(
                *lead,
                F.lit(phi).alias("phi"),
                F.col("n"),
                (err <= F.lit(_KLL_EPS) * F.col("n")).alias("rank_ok"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "kll_doclen_quantiles",
    # Same verification strategy as approx_distinct_users (the sanctioned
    # pattern for sketches whose internal values are engine-specific): the
    # sketch's quantile estimates are reduced to their RANK-ERROR GUARANTEE,
    # checked in-plan against the exact rank interval of each estimate
    # (one scan, 2 conditional sums per phi — no global sort), which the
    # oracle states as TRUE.  n is recomputed exactly by both engines.
    oracle="""
    SELECT 0.01 AS phi, COUNT(text) AS n, TRUE AS rank_ok FROM documents
    UNION ALL SELECT 0.1,  COUNT(text), TRUE FROM documents
    UNION ALL SELECT 0.25, COUNT(text), TRUE FROM documents
    UNION ALL SELECT 0.5,  COUNT(text), TRUE FROM documents
    UNION ALL SELECT 0.75, COUNT(text), TRUE FROM documents
    UNION ALL SELECT 0.9,  COUNT(text), TRUE FROM documents
    UNION ALL SELECT 0.99, COUNT(text), TRUE FROM documents
    """,
)
def kll_doclen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch (operators/kll.py) over document text lengths:
    per-partition compactor summaries merged on the driver (metadata, no
    sort), then every phi estimate is validated against its EXACT rank
    interval [count(len < est), count(len <= est)] in one scan — the
    emitted ``rank_ok`` booleans make the sketch's accuracy contract
    driver-checkable."""
    from fs2_kinesis_firehose_spark.operators.kll import kll_sketch

    lens = _doc_lengths(load_table(spark, sf_dir, "documents"))
    sk = kll_sketch(lens, "len", k=200)
    return _rank_checks(lens, [sk.quantile(p) for p in _KLL_PHIS])


_CM_W, _CM_D = 4096, 4


def _cm_oracle() -> str:
    """DuckDB restatement of the ENTIRE Count-Min pipeline — the sketch is
    deterministic (md5 row hashes + exact counts), so unlike HLL/KLL the
    estimates themselves are cross-engine hashable, no bound-boolean
    weakening needed."""
    build_arms = "\n        UNION ALL ".join(
        f"SELECT {r} AS row, CAST(CONCAT('0x', SUBSTRING(md5(bg || 'cm{r}'), 1, 8)) "
        f"AS BIGINT) % {_CM_W} AS col FROM big"
        for r in range(_CM_D)
    )
    probe_arms = "\n        UNION ALL ".join(
        f"SELECT bg, exact_cnt, {r} AS row, CAST(CONCAT('0x', "
        f"SUBSTRING(md5(bg || 'cm{r}'), 1, 8)) AS BIGINT) % {_CM_W} AS col FROM probes"
        for r in range(_CM_D)
    )
    return f"""
    WITH {_bigram_ctes("bg")},
    cm AS (
        SELECT row, col, COUNT(*) AS cnt
        FROM ({build_arms})
        GROUP BY row, col
    ),
    probes AS (
        SELECT bg, COUNT(*) AS exact_cnt FROM big
        GROUP BY bg ORDER BY exact_cnt DESC, bg ASC LIMIT 20
    ),
    pos AS ({probe_arms})
    SELECT pos.bg AS bigram, pos.exact_cnt,
           MIN(COALESCE(cm.cnt, 0)) AS cm_est,
           MIN(COALESCE(cm.cnt, 0)) >= pos.exact_cnt AS overestimates
    FROM pos LEFT JOIN cm ON pos.row = cm.row AND pos.col = cm.col
    GROUP BY pos.bg, pos.exact_cnt
    """


@query("count_min_bigram_estimates", oracle=_cm_oracle())
def count_min_bigram_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency sketch (operators/sketches.py:
    count_min_table — the companion to Misra–Gries: CM answers "how often
    did THIS key occur" for ANY key, one-sided error) built over the bigram
    stream as a ≤ depth×width-row DataFrame, probed for the exact top-20
    bigrams.  Emits estimate AND exact count side by side — the
    deterministic md5 hashing makes even the estimates bit-comparable
    across engines, the strongest oracle any sketch here has."""
    from fs2_kinesis_firehose_spark.operators.sketches import (
        count_min_lookup,
        count_min_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    bigrams = word_ngram_rows(
        docs, "text", "doc_id", 2, distinct=False, out_col="bg"
    ).localCheckpoint(eager=False)  # feeds the sketch build AND exact counts
    cm = count_min_table(bigrams, "bg", width=_CM_W, depth=_CM_D)
    probes = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("bg"))
        .limit(20)
    )
    est = count_min_lookup(cm, probes.select("bg"), "bg", width=_CM_W, depth=_CM_D)
    return probes.join(est, "bg").select(
        F.col("bg").alias("bigram"),
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") >= F.col("exact_cnt")).alias("overestimates"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (operators/hll.py)
# ---------------------------------------------------------------------------
_HLL_P = 12
_HLL_M = 1 << _HLL_P
_HLL_RMAX = 60 - _HLL_P + 1  # 49
# alpha * m^2 precomputed as ONE double so both engines evaluate the
# identical literal-x-literal product (decimal literals overflow DuckDB)
_HLL_ALPHA_MM = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M


# The DuckDB restatement of operators/hll.py: same md5-derived 60-bit hash,
# same bucket/rho split, same exact scaled-integer harmonic sum, same
# small-range-corrected estimate.
def _hll_registers(col: str, rows: str) -> str:
    """The register table (bucket, rho) of ``col`` over ``rows``."""
    return f"""
                SELECT bucket, MAX(rho) AS rho
                FROM (
                    SELECT CAST(hv % {_HLL_M} AS INT) AS bucket,
                           CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RMAX}
                                ELSE {60 - _HLL_P} - LENGTH(bin(hv // {_HLL_M})) + 1
                           END AS rho
                    FROM (
                        SELECT CAST(CONCAT('0x',
                                 SUBSTRING(md5(CAST({col} AS VARCHAR) || '|hll'),
                                           1, 15)) AS BIGINT) AS hv
                        FROM {rows}
                    )
                )
                GROUP BY bucket
            """


# over a register table: the exact harmonic sum scaled to an integer, the
# raw estimate from it, and the small-range-corrected estimate from both
_HLL_SCALED_SUM = f"""CAST(SUM(1::BIGINT << ({_HLL_RMAX} - rho)) AS BIGINT)
                     + ({_HLL_M} - COUNT(*)) * ({1 << _HLL_RMAX}::BIGINT)
                     AS scaled_sum"""
_HLL_RAW = f"""CAST({_HLL_ALPHA_MM!r} AS DOUBLE)
                 * CAST({float(1 << _HLL_RMAX)!r} AS DOUBLE) / scaled_sum AS raw"""
_HLL_ESTIMATE = f"""CASE WHEN raw <= 2.5 * {_HLL_M} AND n_nonzero < {_HLL_M}
                  THEN {_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - n_nonzero))
                  ELSE raw END"""


def _hll_raw(col: str, rows: str) -> str:
    """n_nonzero, scaled_sum and the raw estimate of ``col`` over ``rows``."""
    return f"""
        SELECT n_nonzero, scaled_sum,
               {_HLL_RAW}
        FROM (
            SELECT COUNT(*) AS n_nonzero,
                   {_HLL_SCALED_SUM}
            FROM ({_hll_registers(col, rows)})
        )
    """


def _hll_arm(table: str, col: str) -> str:
    """The whole HLL build for (table, col), compared to Spark only through
    integers and a tolerance boolean."""
    return f"""
    SELECT '{table}.{col}' AS col_name, n_nonzero, scaled_sum,
           (SELECT COUNT(DISTINCT {col}) FROM {table}) AS exact_distinct,
           ABS(
             {_HLL_ESTIMATE}
             / (SELECT COUNT(DISTINCT {col}) FROM {table}) - 1.0
           ) < 0.05 AS within_tol
    FROM ({_hll_raw(col, f"{table} WHERE {col} IS NOT NULL")})
    """


def _hll_checked(est: DataFrame, *lead) -> DataFrame:
    """The ``lead`` columns, the integer register state and whether the
    estimate is within 5% of the exact distinct count."""
    return est.select(
        *lead,
        "n_nonzero",
        "scaled_sum",
        "register_checksum",
        "exact_distinct",
        (F.abs(F.col("estimate") / F.col("exact_distinct") - 1.0) < 0.05).alias(
            "within_tol"
        ),
    )


@query(
    "hll_distinct_estimates",
    oracle=" UNION ALL ".join(
        _hll_arm(t, c)
        for t, c in [
            ("orders", "o_custkey"),
            ("lineitem", "l_partkey"),
            ("events", "user_id"),
            ("events", "event_type"),
        ]
    ),
)
def hll_distinct_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register tables (operators/hll.py) over four key sets — three in
    the bias-corrected regime and one tiny (event_type) that exercises the
    linear-counting branch.  Output is integer-exact sketch state
    (n_nonzero, scaled_sum) plus a 5% tolerance boolean (3σ at p=12, where
    σ = 1.04/√4096 ≈ 1.6%) — never a raw float, so the driver hash is
    stable while the oracle independently rebuilds every register."""
    from fs2_kinesis_firehose_spark.operators.hll import hll_estimate, hll_table

    arms = []
    for table, col in [
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("events", "user_id"),
        ("events", "event_type"),
    ]:
        df = load_table(spark, sf_dir, table)
        est = hll_estimate(hll_table(df, col, p=_HLL_P), p=_HLL_P)
        exact = df.agg(F.count_distinct(F.col(col)).alias("exact_distinct"))
        arms.append(
            est.crossJoin(exact)  # 1-row × 1-row
            .select(
                F.lit(f"{table}.{col}").alias("col_name"),
                "n_nonzero",
                "scaled_sum",
                "exact_distinct",
                (
                    F.abs(F.col("estimate") / F.col("exact_distinct") - 1.0) < 0.05
                ).alias("within_tol"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def _hll_est_sql(alias: str, where: str) -> str:
    """Register-rebuild + estimate subquery for one orders slice (the
    ``_hll_arm`` machinery, parameterized by a WHERE clause and returning
    ``n_nonzero / scaled_sum / est`` under ``alias``-prefixed names)."""
    rows = f"orders WHERE o_custkey IS NOT NULL AND ({where})"
    return f"""
    {alias} AS (
        SELECT n_nonzero AS {alias}_nz, scaled_sum AS {alias}_sum,
               {_HLL_ESTIMATE} AS {alias}_est
        FROM ({_hll_raw("o_custkey", rows)})
    )"""


@query(
    "hll_overlap_estimates",
    oracle=f"""
    WITH {_hll_est_sql("a", "o_orderstatus = 'F'")},
    {_hll_est_sql("b", "o_orderstatus = 'O'")},
    {_hll_est_sql("u", "o_orderstatus IN ('F', 'O')")},
    exact AS (
        SELECT COUNT(*) FILTER (has_f) AS exact_a,
               COUNT(*) FILTER (has_o) AS exact_b,
               COUNT(*) AS exact_union,
               COUNT(*) FILTER (has_f AND has_o) AS exact_intersection
        FROM (
            SELECT o_custkey,
                   BOOL_OR(o_orderstatus = 'F') AS has_f,
                   BOOL_OR(o_orderstatus = 'O') AS has_o
            FROM orders WHERE o_orderstatus IN ('F', 'O')
            GROUP BY o_custkey
        )
    )
    SELECT a_nz AS n_nonzero_a, a_sum AS scaled_sum_a,
           b_nz AS n_nonzero_b, b_sum AS scaled_sum_b,
           u_nz AS n_nonzero_union, u_sum AS scaled_sum_union,
           exact_a, exact_b, exact_union, exact_intersection,
           ABS((a_est + b_est - u_est) / exact_intersection - 1.0) < 0.15
             AS inter_within_tol
    FROM a, b, u, exact
    """,
)
def hll_overlap_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation estimates from MERGED HLL register tables: customers
    with finished (A) vs open (B) orders.  The union sketch is
    ``hll_merge(A, B)`` — NOT a rebuild — while the oracle builds its union
    registers directly from the combined slice, so a hash match proves the
    max-linear merge law (merge(A,B) ≡ build(A∪B)) cross-engine, on top of
    each sketch's bit-exact state.  Intersection is inclusion–exclusion
    over the three estimates with a 15% tolerance boolean (the error of
    |A|+|B|-|A∪B| amplifies ~3x at this ~92% overlap; 3σ ≈ 9%).  At 100 TB
    this is the pattern for corpus-overlap dashboards: per-slice register
    tables persist (≤2^p rows each) and any ad-hoc union/overlap question
    is answered from sketches alone, never rescanning the corpora."""
    from fs2_kinesis_firehose_spark.operators.hll import (
        hll_estimate,
        hll_merge,
        hll_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    fa = orders.where(F.col("o_orderstatus") == "F")
    ob = orders.where(F.col("o_orderstatus") == "O")
    ta = hll_table(fa, "o_custkey", p=_HLL_P).localCheckpoint(eager=False)
    tb = hll_table(ob, "o_custkey", p=_HLL_P).localCheckpoint(eager=False)
    ea = hll_estimate(ta, p=_HLL_P)
    eb = hll_estimate(tb, p=_HLL_P)
    eu = hll_estimate(hll_merge(ta, tb), p=_HLL_P)

    exact = (
        orders.where(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderstatus") == "F").alias("has_f"),
            F.max(F.col("o_orderstatus") == "O").alias("has_o"),
        )
        .agg(
            F.count_if(F.col("has_f")).alias("exact_a"),
            F.count_if(F.col("has_o")).alias("exact_b"),
            F.count(F.lit(1)).alias("exact_union"),
            F.count_if(F.col("has_f") & F.col("has_o")).alias("exact_intersection"),
        )
    )
    ra = ea.select(
        F.col("n_nonzero").alias("n_nonzero_a"),
        F.col("scaled_sum").alias("scaled_sum_a"),
        F.col("estimate").alias("_est_a"),
    )
    rb = eb.select(
        F.col("n_nonzero").alias("n_nonzero_b"),
        F.col("scaled_sum").alias("scaled_sum_b"),
        F.col("estimate").alias("_est_b"),
    )
    ru = eu.select(
        F.col("n_nonzero").alias("n_nonzero_union"),
        F.col("scaled_sum").alias("scaled_sum_union"),
        F.col("estimate").alias("_est_u"),
    )
    return (
        ra.crossJoin(rb)  # 1-row x 1-row each
        .crossJoin(ru)
        .crossJoin(exact)
        .select(
            "n_nonzero_a", "scaled_sum_a",
            "n_nonzero_b", "scaled_sum_b",
            "n_nonzero_union", "scaled_sum_union",
            "exact_a", "exact_b", "exact_union", "exact_intersection",
            (
                F.abs(
                    (F.col("_est_a") + F.col("_est_b") - F.col("_est_u"))
                    / F.col("exact_intersection")
                    - 1.0
                )
                < 0.15
            ).alias("inter_within_tol"),
        )
    )


def _hll_stream_oracle() -> str:
    """Rebuild the user_id registers from the SINGLE-copy events table and
    restate checksum + scaled sum + estimate.  The streaming side folds a
    copies=2 replay (every row delivered twice) — register max-merge is
    idempotent, so the fold MUST equal the one-shot build; duplicated or
    dropped deliveries would move the checksum and fail the hash."""
    return f"""
    SELECT CAST(2 AS BIGINT) AS n_batches, n_nonzero, scaled_sum,
           register_checksum,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct,
           ABS(
             {_HLL_ESTIMATE}
             / (SELECT COUNT(DISTINCT user_id) FROM events) - 1.0
           ) < 0.05 AS within_tol
    FROM (
        SELECT n_nonzero, scaled_sum, register_checksum,
               {_HLL_RAW}
        FROM (
            SELECT COUNT(*) AS n_nonzero,
                   {_HLL_SCALED_SUM},
                   CAST(SUM((bucket + 1) * rho) AS BIGINT) AS register_checksum
            FROM ({_hll_registers("user_id", "events WHERE user_id IS NOT NULL")})
        )
    )
    """


@query("streaming_hll_cardinality", oracle=_hll_stream_oracle())
def streaming_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality monitoring: fold per-micro-batch HLL register
    tables into a running sketch via ``hll_merge`` — exactly-once BY
    ALGEBRA, no idempotent sink needed: register max-merge is idempotent,
    so an at-least-once replay (copies=2: EVERY event delivered twice
    across two micro-batches) lands on the identical register table a
    single-pass build produces.  The oracle rebuilds the registers from
    the single-copy table; checksum + scaled-sum hashes would catch any
    duplication-sensitive fold (a SUM-based sketch, e.g. linear counters
    folded by +, fails this contract).  State per batch is the ≤2^p-row
    register table, localCheckpointed to truncate lineage — driver-side
    cost is independent of stream volume."""
    from fs2_kinesis_firehose_spark.operators.hll import (
        hll_estimate,
        hll_merge,
        hll_table,
    )
    from fs2_kinesis_firehose_spark.streaming.replay import replay_parquet, run_foreach_batch

    acc: dict = {"reg": None, "batches": 0}

    def fold(batch: DataFrame, batch_id: int) -> None:
        reg = hll_table(batch, "user_id", p=_HLL_P)
        merged = reg if acc["reg"] is None else hll_merge(acc["reg"], reg)
        acc["reg"] = merged.localCheckpoint(eager=True)
        acc["batches"] += 1

    stream = replay_parquet(
        spark, sf_dir, "events", copies=2, max_files_per_trigger=1
    ).select("user_id")
    run_foreach_batch(stream, fold)

    est = hll_estimate(acc["reg"], p=_HLL_P)
    exact = load_table(spark, sf_dir, "events").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    chk = acc["reg"].agg(
        F.sum((F.col("bucket") + 1) * F.col("rho")).cast("long").alias(
            "register_checksum"
        )
    )
    return _hll_checked(
        est.crossJoin(exact).crossJoin(chk),  # 1-row x 1-row x 1-row
        F.lit(acc["batches"]).cast("long").alias("n_batches"),
    )


# ---------------------------------------------------------------------------
# AMS (tug-of-war) F2 sketch (operators/sketches.py:ams_f2_sketch)
# ---------------------------------------------------------------------------
_AMS_REPS, _AMS_GROUPS = 80, 5
_AMS_PER = _AMS_REPS // _AMS_GROUPS


def _ams_oracle() -> str:
    """DuckDB restatement of the ENTIRE AMS pipeline — like Count-Min the
    sketch is deterministic (md5-derived ±1 signs, exact integer sums), so
    the 80 sign sums, the 5 group sums of squares, the median pick, and
    even the final double estimate (a division by 2^4) are bit-comparable
    cross-engine."""
    n_blocks = (_AMS_REPS + 31) // 32
    words = ",\n        ".join(
        f"CAST(CONCAT('0x', SUBSTRING(md5(bg || '|ams{b}'), 1, 8)) AS BIGINT) AS w{b}"
        for b in range(n_blocks)
    )
    sign_sums = ",\n        ".join(
        f"SUM(CASE WHEN (w{r // 32} >> {r % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS s{r}"
        for r in range(_AMS_REPS)
    )
    gcols = ",\n        ".join(
        "CAST("
        + " + ".join(f"s{g * _AMS_PER + i} * s{g * _AMS_PER + i}" for i in range(_AMS_PER))
        + f" AS BIGINT) AS g{g}"
        for g in range(_AMS_GROUPS)
    )
    return f"""
    WITH {_bigram_ctes("bg")},
    ws AS (
        SELECT {words}
        FROM big
    ),
    s AS (
        SELECT {sign_sums}
        FROM ws
    ),
    g AS (
        SELECT {gcols}
        FROM s
    ),
    exact AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2,
               CAST(SUM(c) AS BIGINT) AS n_items
        FROM (SELECT COUNT(*) AS c FROM big GROUP BY bg)
    )
    SELECT g0, g1, g2, g3, g4,
           list_sort([g0, g1, g2, g3, g4])[3] AS median_sq_sum,
           list_sort([g0, g1, g2, g3, g4])[3] / {float(_AMS_PER)!r} AS f2_estimate,
           exact_f2, n_items,
           ABS(list_sort([g0, g1, g2, g3, g4])[3] / {float(_AMS_PER)!r}
               / exact_f2 - 1.0) < 0.5 AS within_tol
    FROM g, exact
    """


@query("ams_f2_bigram_estimate", oracle=_ams_oracle())
def ams_f2_bigram_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war second-moment sketch over the bigram stream: F2 =
    Σ c_bg² (the self-join size / collision mass of the bigram key — the
    statistic that decides salting and partition strategy for a keyed
    shuffle at 100 TB) estimated in ONE narrow scan with O(reps) state and
    no keyed shuffle, vs the exact groupBy answer side by side.  80
    repetitions from 3 md5 calls per row (32 sign bits per hash), mean of
    16 within each of 5 groups, median across groups — the AMS
    concentration recipe, every intermediate an exact integer so the
    oracle rebuilds the sketch bit-for-bit (the Count-Min verification
    strategy applied to second moments)."""
    from fs2_kinesis_firehose_spark.operators.sketches import (
        ams_f2_estimate,
        ams_f2_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    bigrams = word_ngram_rows(
        docs, "text", "doc_id", 2, distinct=False, out_col="bg"
    ).localCheckpoint(eager=False)  # feeds the sketch AND the exact recount
    est = ams_f2_estimate(
        ams_f2_sketch(bigrams, "bg", reps=_AMS_REPS),
        reps=_AMS_REPS,
        groups=_AMS_GROUPS,
    )
    exact = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c")).agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"),
        F.sum("c").cast("long").alias("n_items"),
    )
    return est.crossJoin(exact).select(  # 1-row x 1-row
        "g0", "g1", "g2", "g3", "g4",
        "median_sq_sum",
        "f2_estimate",
        "exact_f2",
        "n_items",
        (F.abs(F.col("f2_estimate") / F.col("exact_f2") - 1.0) < 0.5).alias(
            "within_tol"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters: mergeable MG fold + exact recount gate
# ---------------------------------------------------------------------------
# Same phi as the batch query ABOVE — deliberately: the streaming fold must
# land on the identical statistic the one-shot pipeline computes (the hll /
# streaming_hll pairing).  k == ceil(1/phi) == 800 keeps the fold guarantee
# under the copies=2 replay (2f > 2n/(k+1) <= f >= ceil(phi*n)) and sits
# below the fixture's 916 distinct bigrams so compress genuinely fires.
# phi smaller than 0.00125 degenerates at sf0.01 (636+ of 916 bigrams pass);
# larger degenerates at sf0.1 (0 pass) — the corpus flattens as it grows.
_SHH_PHI = _PHI
_SHH_K = _K


@query(
    "streaming_heavy_hitter_bigrams",
    oracle=f"""
    WITH {_bigram_ctes("bigram")},
    tot AS (SELECT COUNT(*) AS n FROM big)
    SELECT CAST(2 AS BIGINT) AS n_batches, bigram, COUNT(*) AS cnt
    FROM big, tot
    GROUP BY bigram, n
    HAVING COUNT(*) >= CEIL({_SHH_PHI} * n)
    """,
)
def streaming_heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequency monitoring: fold per-micro-batch Misra–Gries
    summaries into ≤ k counters via ``mg_merge_compress`` (Agarwal et al.
    mergeable summaries), then gate with an exact recount.

    The replay is at-least-once (copies=2: every document delivered twice)
    and MG is NOT duplication-idempotent — replayed weights double — which
    is exactly why the pattern stays exact anyway: the fold only produces
    CANDIDATES (recall holds because doubling both counts and the stream
    length leaves "count > stream/(k+1)" invariant), while counts and the
    φ·n cut come from one exact pass over the single-copy table.  The
    complementary deployment contract to streaming_hll_cardinality's
    idempotent-algebra fold: there replay-safety lives in the MERGE, here
    it lives in the GATE.  Oracle is the plain GROUP BY/HAVING definition —
    every sketch internal is checked by implication.  State per batch is
    ≤ k rows, localCheckpointed; driver cost independent of stream volume.
    """
    from fs2_kinesis_firehose_spark.streaming.replay import replay_parquet, run_foreach_batch

    empty = spark.createDataFrame([], "item string, weight long")
    acc: dict = {"state": empty, "batches": 0}

    def fold(batch: DataFrame, batch_id: int) -> None:
        grams = word_ngram_rows(batch, "text", "doc_id", 2, distinct=False, out_col="bg")
        # per-partition summaries can total k·P rows, so the first batch
        # compresses through the same merge path as every later one
        summaries = SK.misra_gries_summaries(grams, "bg", _SHH_K)
        acc["state"] = SK.mg_merge_compress(acc["state"], summaries, _SHH_K).localCheckpoint(
            eager=True
        )
        acc["batches"] += 1

    stream = replay_parquet(
        spark, sf_dir, "documents", copies=2, max_files_per_trigger=1
    ).select("doc_id", "text")
    run_foreach_batch(stream, fold)

    docs = load_table(spark, sf_dir, "documents")
    grams = word_ngram_rows(docs, "text", "doc_id", 2, distinct=False, out_col="bg")
    totals = docs.agg(
        F.sum(F.greatest(F.size(tokens("text")) - 1, F.lit(0))).cast("long").alias("n")
    )
    candidates = acc["state"].select(F.col("item").alias("bg"))
    cut = F.ceil(F.lit(_SHH_PHI) * F.col("n")).cast("long")
    return (
        grams.join(F.broadcast(candidates), "bg", "inner")
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(totals))
        .where(F.col("cnt") >= cut)
        .select(
            F.lit(acc["batches"]).cast("long").alias("n_batches"),
            F.col("bg").alias("bigram"),
            "cnt",
        )
    )


@query(
    "streaming_kll_doclen_quantiles",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS n_batches, 0.01 AS phi, COUNT(text) AS n, TRUE AS rank_ok FROM documents
    UNION ALL SELECT 2, 0.1,  COUNT(text), TRUE FROM documents
    UNION ALL SELECT 2, 0.25, COUNT(text), TRUE FROM documents
    UNION ALL SELECT 2, 0.5,  COUNT(text), TRUE FROM documents
    UNION ALL SELECT 2, 0.75, COUNT(text), TRUE FROM documents
    UNION ALL SELECT 2, 0.9,  COUNT(text), TRUE FROM documents
    UNION ALL SELECT 2, 0.99, COUNT(text), TRUE FROM documents
    """,
)
def streaming_kll_doclen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile monitoring — the third leg of the streaming-sketch
    trio (cardinality: streaming_hll_cardinality, frequency:
    streaming_heavy_hitter_bigrams, quantiles: here).  Per micro-batch ONE
    Arrow pass builds a KLL summary; the driver folds it into the running
    sketch with the mergeable-summaries merge (a few KB of metadata,
    independent of stream volume — no localCheckpoint even needed, the
    state never re-enters a plan until the final validation projection).

    Replay story #3: the replay is at-least-once (copies=2) and KLL is
    neither duplication-idempotent (HLL max) nor gated by an exact recount
    (MG); instead QUANTILES THEMSELVES are duplication-invariant — doubling
    every value doubles every rank AND n, leaving rank/n ratios unchanged —
    so the folded sketch's estimates still satisfy the rank-error bound
    against the single-copy table, which is what the emitted ``rank_ok``
    booleans check exactly (one scan, two conditional sums per phi)."""
    from fs2_kinesis_firehose_spark.operators.kll import kll_sketch
    from fs2_kinesis_firehose_spark.streaming.replay import replay_parquet, run_foreach_batch

    acc: dict = {"sk": None, "batches": 0}

    def fold(batch: DataFrame, batch_id: int) -> None:
        sk = kll_sketch(_doc_lengths(batch), "len", k=200)
        acc["sk"] = sk if acc["sk"] is None else acc["sk"].merge(sk)
        acc["batches"] += 1

    stream = replay_parquet(
        spark, sf_dir, "documents", copies=2, max_files_per_trigger=1
    ).select("text")
    run_foreach_batch(stream, fold)

    return _rank_checks(
        _doc_lengths(load_table(spark, sf_dir, "documents")),
        [acc["sk"].quantile(p) for p in _KLL_PHIS],
        F.lit(acc["batches"]).cast("long").alias("n_batches"),
    )


def _hll_grouped_oracle() -> str:
    """Per-slice register rebuild: the single-query GROUP BY form of the
    hll_distinct_estimates oracle — registers, scaled sums, checksums, and
    the small-range branch all restated per o_orderpriority."""
    wbits = 60 - _HLL_P
    return f"""
    WITH h AS (
        SELECT o_orderpriority AS priority,
               CAST(CONCAT('0x',
                 SUBSTRING(md5(CAST(o_custkey AS VARCHAR) || '|hll'), 1, 15))
                 AS BIGINT) AS hv
        FROM orders WHERE o_custkey IS NOT NULL
    ),
    reg AS (
        SELECT priority, CAST(hv % {_HLL_M} AS INT) AS bucket,
               MAX(CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RMAX}
                        ELSE {wbits} - LENGTH(bin(hv // {_HLL_M})) + 1
                   END) AS rho
        FROM h GROUP BY priority, bucket
    ),
    s AS (
        SELECT priority, COUNT(*) AS n_nonzero,
               CAST(SUM(1::BIGINT << ({_HLL_RMAX} - rho)) AS BIGINT)
                 + ({_HLL_M} - COUNT(*)) * ({1 << _HLL_RMAX}::BIGINT) AS scaled_sum,
               CAST(SUM((bucket + 1) * rho) AS BIGINT) AS register_checksum
        FROM reg GROUP BY priority
    ),
    e AS (
        SELECT o_orderpriority AS priority,
               COUNT(DISTINCT o_custkey) AS exact_distinct
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY priority
    )
    SELECT s.priority, n_nonzero, scaled_sum, register_checksum, exact_distinct,
           ABS(
             CASE WHEN raw <= 2.5 * {_HLL_M} AND n_nonzero < {_HLL_M}
                  THEN {_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - n_nonzero))
                  ELSE raw END
             / exact_distinct - 1.0
           ) < 0.05 AS within_tol
    FROM (
        SELECT *, CAST({_HLL_ALPHA_MM!r} AS DOUBLE)
                    * CAST({float(1 << _HLL_RMAX)!r} AS DOUBLE) / scaled_sum AS raw
        FROM s
    ) s JOIN e ON s.priority = e.priority
    """


@query("hll_grouped_distinct_estimates", oracle=_hll_grouped_oracle())
def hll_grouped_distinct_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice distinct-count artifacts: ONE partial-aggregated pass
    builds a register table per o_orderpriority (group_cols on hll_table),
    estimates come from a per-group rollup of the same table — the shape a
    100 TB pipeline persists so per-day/per-source cardinalities union and
    intersect later WITHOUT rescanning (hll_merge is per-slice max).  The
    oracle rebuilds every group's registers bit-for-bit and restates
    checksum + scaled sum + the small-range branch per group."""
    from fs2_kinesis_firehose_spark.operators.hll import hll_estimate, hll_table

    orders = load_table(spark, sf_dir, "orders")
    reg = hll_table(
        orders.select(F.col("o_orderpriority").alias("priority"), "o_custkey"),
        "o_custkey",
        p=_HLL_P,
        group_cols=("priority",),
    ).localCheckpoint(eager=False)  # feeds estimate AND checksum
    est = hll_estimate(reg, p=_HLL_P, group_cols=("priority",))
    chk = reg.groupBy("priority").agg(
        F.sum((F.col("bucket") + 1) * F.col("rho")).cast("long").alias("register_checksum")
    )
    exact = (
        orders.where(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count_distinct("o_custkey").alias("exact_distinct"))
    )
    return _hll_checked(est.join(chk, "priority").join(exact, "priority"), "priority")
