"""Distributed quality-classifier training: logistic regression over hashed
bag-of-words features with DETERMINISTIC integer-quantized gradients.

The modern curation pipelines (fastText quality filters in CCNet, the
FineWeb-Edu / DCLM educational-quality classifiers) gate documents with a
small linear model over cheap text features.  This is that trainer as a
Spark-native operator: the corpus never leaves the cluster, one aggregate
pass per GD iteration, and the only driver-side state is the (dim+1)-float
weight vector.

Why quantized gradients: a float gradient is a SUM over documents, and
distributed float addition has no defined order — two runs (or two engines)
disagree in the last ulps, so training would not be reproducible, let alone
oracle-checkable.  Here each document's per-feature contribution
``(p − y)·x_j`` is rounded to a scaled INTEGER (``round(c · 2^scale_bits)``)
and the integers are summed exactly; the weight update then applies fixed
double arithmetic to exact integers.  Training is bit-reproducible across
partitionings, retries, AND engines — a DuckDB oracle replays the identical
iterations (see queries/llm.py:quality_classifier_accounting).

Scale shape: features are ONE token explode + one conditional-count
aggregate (dim count_if columns — pure codegen, no maps/UDFs); each GD
iteration is ONE aggregate returning a single (dim+1)-integer row to the
driver; scoring is a codegen projection.  At 100 TB: iterations × one
corpus pass, nothing driver-side but the weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.functions import text as T

__all__ = [
    "hashed_features",
    "logreg_train",
    "logreg_score",
    "classifier_eval",
    "feature_hash_bucket",
    "training_parallelism_floor",
]

# Target partition size for the training parallelism floor below.  The
# gradient loops are bit-reproducible across partitionings BY DESIGN
# (per-row contributions quantized to integers, summed exactly), so the
# floor is free to lift a byte-tiny features frame to defaultParallelism
# without moving a single bit of the result.  Module-level so tests can
# pin both gate directions.
_TRAIN_FLOOR_TARGET_BYTES = 128 * 1024 * 1024


def training_parallelism_floor(features: DataFrame, n: int, d1: int) -> DataFrame:
    """r14 parallelism floor for the GD training loops: the features frame
    is typically an AQE-coalesced aggregate output (or a single-file scan)
    — physically 1-2 partitions at small input — while each iteration's
    per-row work (sigmoid dots, contribution rounding; for the fused
    lang-id trainer interpreted higher-order functions) is CPU-bound, so
    byte-based sizing serializes the whole training loop onto one task.
    When the byte-estimated frame ((dim+1) doubles + row overhead per row)
    lands under ``defaultParallelism`` 128 MB-target partitions AND the
    frame physically has fewer partitions than that, repartition to
    ``defaultParallelism``; otherwise (the at-scale regime) leave sizing
    alone.  Output-identical by the integer-gradient contract above."""
    spark = features.sparkSession
    dp = spark.sparkContext.defaultParallelism
    est_bytes = n * (d1 * 8 + 56)
    if (
        -(-est_bytes // _TRAIN_FLOOR_TARGET_BYTES) < dp
        and features.rdd.getNumPartitions() < dp
    ):
        return features.repartition(dp)
    return features


def feature_hash_bucket(token, dim: int, salt: str):
    """md5-derived feature bucket — deterministic and SQL-restatable (the
    Count-Min / HLL hashing recipe)."""
    return T.md5_int(F.concat(token, F.lit("|" + salt)), 8).cast("long") % dim


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    dim: int = 32,
    label_min_tokens: int | None = None,
) -> DataFrame:
    """Per-document hashed bag-of-words features:

    ``(key_col, x array<double> of length dim+1, [label int])``

    ``x[0] = 1`` (bias); ``x[1+j] = (count of tokens hashing to bucket j)
    / 10`` — linear scaled counts.  (ln(1+cnt) compression was
    measured to condition full-batch GD far worse on this corpus: 0.85 acc
    at 40 iterations vs 0.96 at 12 with linear counts.)  Built with ``dim``
    conditional-count aggregate columns (whole-stage codegen; no pivot
    scan, no map types).  With ``label_min_tokens`` set, appends the
    weak-supervision label ``y = 1 iff token count ≥ that`` (the
    heuristic-teacher pattern: a rule labels, the model generalizes it).
    """
    tok = df.select(
        F.col(key_col), F.explode(T.tokens(text_col)).alias("_tok")
    ).withColumn("_b", feature_hash_bucket(F.col("_tok"), dim, "qc"))
    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs += [
        F.count_if(F.col("_b") == j).alias(f"_c{j}") for j in range(dim)
    ]
    per_doc = tok.groupBy(key_col).agg(*aggs)
    x = F.array(
        F.lit(1.0),
        *[
            (F.col(f"_c{j}").cast("double") / F.lit(10.0))
            for j in range(dim)
        ],
    ).alias("x")
    cols = [F.col(key_col), x]
    if label_min_tokens is not None:
        cols.append((F.col("_n") >= label_min_tokens).cast("int").alias("label"))
    return per_doc.select(*cols)


def _dot_w(x_col, weights: list[float]):
    """Flat multiply-add chain (left-assoc, same fold order as DuckDB's
    list_inner_product) — codegen-compatible, cross-engine bit-stable."""
    acc = F.lit(float(weights[0])) * F.element_at(x_col, 1)
    for i in range(1, len(weights)):
        acc = acc + F.lit(float(weights[i])) * F.element_at(x_col, i + 1)
    return acc


def logreg_train(
    features: DataFrame,
    *,
    label_col: str = "label",
    x_col: str = "x",
    dim: int = 32,
    iterations: int = 3,
    lr: float = 1.0,
    scale_bits: int = 12,
    n: int | None = None,
    first_grads: list[int] | None = None,
) -> list[float]:
    """Full-batch gradient descent with exact integer gradient sums.

    Per iteration: ``grad_j = Σ_docs round((σ(w·x) − y) · x_j · 2^s)``
    (one aggregate, one (dim+1)-long row to the driver), then
    ``w_j ← w_j − lr · grad_j / (2^s · n)``.  ``n`` and every ``grad_j``
    are exact integers; σ/ln enter only through per-document values whose
    ulp-level engine differences are absorbed by the coarse rounding step
    (2^−s ≫ ulp), so the trained weights are deterministic and
    engine-portable.  Returns the (dim+1) weights.

    Pass ``n`` (the exact row count) when the caller already knows it —
    skips one full ``count()`` scan of the features table, which at 100 TB
    is a whole extra pass; weights are bit-identical since ``n`` enters
    the update as the same exact integer either way.

    Pass ``first_grads`` when the caller has ALREADY computed the w=0
    first-iteration gradient integers (at w=0 the dot product is exactly
    0.0, σ(0)=0.5, so ``grad_j = Σ round((0.5 − y)·x_j·2^s)`` — exp-free
    and engine-exact; quality_classifier_accounting computes precisely
    this row for its ``g1_checksum`` output).  Iteration 1 then reuses the
    integers instead of re-aggregating them — one fewer full pass over the
    features table — and the weight trajectory is bit-identical because
    the same exact integers enter the same update arithmetic.  Only valid
    for the zero initial-weight vector this trainer always starts from;
    the integers must come from the identical rounding recipe.
    """
    if n is None:
        n = features.count()
    if n <= 0:
        raise ValueError("cannot train on an empty features DataFrame")
    s = float(1 << scale_bits)
    d1 = dim + 1
    # NOTE (r14, measured): training_parallelism_floor was A/B'd here and
    # REJECTED — this loop's per-row work is pure codegen (sigmoid dot +
    # round), cheap enough that 12 iterations of extra exchange + wide-
    # stage scheduling cost more than the parallelism saves (paired
    # interleaved A/B at sf0.1: floor-on med 4.32 s / min 4.22 vs
    # floor-off med 4.17 / min 3.77).  The fused lang-id trainer, whose
    # per-row work is INTERPRETED higher-order functions, keeps the floor
    # (med 9.3 vs 11.5 s) — see langid.train_lang_id.
    if first_grads is not None and len(first_grads) != d1:
        raise ValueError(
            f"first_grads must have dim+1={d1} entries, got {len(first_grads)}"
        )
    w = [0.0] * d1
    for it in range(iterations):
        if it == 0 and first_grads is not None:
            gl = [int(g) for g in first_grads]
            w = [w[j] - lr * gl[j] / (s * n) for j in range(d1)]
            continue
        # each iteration is TWO selectExpr string calls, not ~250 Column
        # constructions: profiling showed ~0.5 s/iteration was py4j
        # expression building on the driver (exec itself is ~0.2 s warm) —
        # the string path cut 12-iteration training 9.7 s → 2.6 s at sf0.1.
        # `a + b + c` parses left-associative, exactly _dot_w's fold order,
        # and float repr() round-trips through SQL decimal/scientific
        # literals to the identical double, so the weights stay
        # bit-identical to the Column path (pinned in tests).  The residual
        # is projected ONCE before the gradient sums — inlining the dot
        # product into every gradient column would make the plan O(dim²).
        dot = " + ".join(f"{w[i]!r} * element_at({x_col}, {i + 1})" for i in range(d1))
        resid = features.selectExpr(
            x_col,
            f"(1.0 / (1.0 + exp(-({dot})))) - cast({label_col} as double) as _r",
        )
        grads = resid.selectExpr(
            *[
                f"sum(cast(round(_r * element_at({x_col}, {j + 1}) * {s!r}) "
                f"as bigint)) as g{j}"
                for j in range(d1)
            ]
        ).collect()[0]
        w = [w[j] - lr * grads[f"g{j}"] / (s * n) for j in range(d1)]
    return w


def logreg_score(
    features: DataFrame,
    weights: list[float],
    *,
    x_col: str = "x",
    prob_col: str = "prob",
) -> DataFrame:
    """Append ``prob_col`` = σ(w·x) — a codegen projection with the weights
    baked in as literals (broadcast-free; the model IS the plan)."""
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_dot_w(F.col(x_col), weights)))
    return features.withColumn(prob_col, p)


def classifier_eval(
    features: DataFrame,
    weights: list[float],
    *,
    label_col: str = "label",
    x_col: str = "x",
) -> DataFrame:
    """Threshold-free evaluation of a trained linear model: rank-sum
    ROC-AUC (Mann–Whitney U with exact average-rank tie handling), a
    quantized Brier score, and a quantized expected-calibration-error —
    one row: ``(n_pos, n_neg, rank_sum_x2, auc, auc_ok, brier_scaled,
    ece_scaled)``.

    Determinism recipe (same as the trainer): every float that enters an
    unordered SUM is first rounded to a scaled integer.  Ranking happens on
    ``qs = round(margin · 2^12)`` — the rounding grid is
    orders of magnitude above cross-engine exp/fma ulps, so ties and ranks
    are identical everywhere; ``rank_sum_x2 = Σ_pos 2·avgrank`` is then an
    exact integer, and AUC = (rank_sum_x2 − n_pos(n_pos+1)) / (2·n_pos·
    n_neg) is ONE division of exactly-represented integers → bit-identical
    across engines.  Brier sums ``round((p−y)²·2^24)``; ECE sums per-bin
    ``|Σ round(p·2^24) − pos_b·2^24|`` over 10 equal probability bins.

    Scale shape: scoring + both quantized sums are distributed aggregates
    over the corpus; the ONLY single-partition step is the rank cumsum,
    which runs over the SCORE HISTOGRAM (one row per distinct quantized
    score — bounded by the margin range × 2^12, independent
    of corpus size), never over rows.
    """
    m = _dot_w(F.col(x_col), weights)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
    s_q = float(1 << 12)
    s_p = 1 << 24
    scored = features.select(
        F.round(m * s_q).cast("long").alias("_qs"),
        p.alias("_p"),
        F.col(label_col).cast("long").alias("_y"),
    )
    hist = scored.groupBy("_qs").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_npos")
    )
    cum_w = Window.orderBy("_qs").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = hist.withColumn("_cum", F.sum("_n").over(cum_w))
    # avg rank of a tie group = c + (n+1)/2 where c = rows strictly below;
    # 2·avgrank = 2(cum−n) + n + 1 keeps everything integer
    rank_stats = ranked.agg(
        F.sum(
            F.col("_npos")
            * (F.lit(2) * (F.col("_cum") - F.col("_n")) + F.col("_n") + F.lit(1))
        )
        .cast("long")
        .alias("rank_sum_x2"),
        F.sum("_npos").cast("long").alias("n_pos"),
        F.sum(F.col("_n") - F.col("_npos")).cast("long").alias("n_neg"),
    )
    point = scored.agg(
        F.sum(
            F.round(
                (F.col("_p") - F.col("_y")) * (F.col("_p") - F.col("_y")) * s_p
            ).cast("long")
        ).alias("brier_scaled")
    )
    bins = scored.groupBy(
        F.least(F.floor(F.col("_p") * 10).cast("int"), F.lit(9)).alias(
            "_b"
        )
    ).agg(
        F.sum(F.round(F.col("_p") * s_p).cast("long")).alias("_sp"),
        F.sum("_y").alias("_pos"),
    )
    ece = bins.agg(
        F.sum(F.abs(F.col("_sp") - F.col("_pos") * F.lit(s_p)))
        .cast("long")
        .alias("ece_scaled")
    )
    auc = (
        F.col("rank_sum_x2").cast("double")
        - F.col("n_pos") * (F.col("n_pos") + F.lit(1.0))
    ) / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
    return (
        rank_stats.crossJoin(point)
        .crossJoin(ece)
        .select(
            "n_pos",
            "n_neg",
            "rank_sum_x2",
            auc.alias("auc"),
            (auc >= F.lit(0.9)).alias("auc_ok"),
            "brier_scaled",
            "ece_scaled",
        )
    )
