"""Trained language identification: one-vs-rest logistic regression over
hashed character-n-gram features — the CCNet/fastText role (a small linear
model over char n-grams gates every document), built entirely from the
repo's deterministic trainer (operators/classifier.py).

Why char n-grams: language is a CHARACTER-level phenomenon (articles,
inflection morphology, diacritics, scripts) — the classic Cavnar–Trenkle
n-gram profile insight, and what fastText's lid.176 model uses.  Features
are hashed into ``dim`` buckets with the repo's md5 recipe so the whole
pipeline (featurize → train → predict) is bit-reproducible across engines
and restatable by a DuckDB oracle that replays every gradient integer.

Multiclass = K independent binary models (one-vs-rest) sharing ONE feature
pass; prediction is argmax over margins QUANTIZED to the same 2^12 grid the
trainer uses, with alphabetical tie-break — cross-engine ulp noise in the
dot products cannot flip a prediction.

Scale shape: featurization is one char-POSITION explode + codegen
substring + two keyed count aggregates (~n_chars rows/doc, the same cost
class as tokenization); training is iterations × ONE corpus pass — the K
gradient vectors fold in a single posexplode-keyed aggregate, weights
travel as broadcast data (constant plan text, constant expression count
in both K and dim); scoring is one broadcast join + an array argmax.  At
100 TB: exactly the fastText-filter deployment pattern — train on a
bounded sample, score at scan speed, linear in the data rather than in
the label set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fs2_kinesis_firehose_spark.operators.classifier import feature_hash_bucket

__all__ = ["char_ngram_features", "train_lang_id", "predict_lang"]


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal with quotes AND backslashes
    escaped — class names are data, not SQL; a name containing ``'`` must
    not break (or silently change) the interpolated expression, and with
    the default ``spark.sql.parser.escapedStringLiterals=false`` Spark
    processes C-style escapes inside literals, so a bare ``\\`` would
    silently vanish."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _bq(name: str) -> str:
    """Backtick-quoted identifier for interpolation into SQL expression
    strings, so column names with spaces/metacharacters stay identifiers."""
    return "`" + name.replace("`", "``") + "`"


def char_ngrams(col, n: int = 3):
    """All character n-grams of a string as array<string> — pure codegen:
    ``transform(sequence(1, length-n+1), i -> substring(text, i, n))``.
    Character (not byte) positions, so non-ASCII scripts hash whole glyphs
    identically across engines (both Spark and DuckDB substring/substr are
    codepoint-based on strings)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - F.lit(n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    *,
    n: int = 3,
    dim: int = 64,
    label_col: str | None = None,
) -> DataFrame:
    """Per-document hashed char-n-gram counts, same shape as
    ``classifier.hashed_features``: ``(key_col, x array<double> len dim+1
    [, label_col])`` with ``x[0]=1`` bias and ``x[1+j] = count(bucket j) /
    10``.

    Two executor-cost lessons are baked in (both measured ~10× at sf0.1):
    grams come from a POSITION explode + codegen ``substring`` — the
    ``transform(sequence, substr)`` array is a higher-order function,
    interpreted per element (8.96 s vs 0.89 s for the same 1.48 M grams) —
    and x assembles ARRAY-VALUED (bucket-count aggregate → count map → one
    ``transform(sequence(...))``) instead of ``dim`` count_if/array
    columns, whose expression fan-out costs seconds of driver-side
    Catalyst analysis per call regardless of data size."""
    grams = (
        df.where(F.length(text_col) >= n)
        .select(
            F.col(key_col),
            *([F.col(label_col)] if label_col else []),
            F.col(text_col),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - F.lit(n - 1))
            ).alias("_i"),
        )
        .select(
            F.col(key_col),
            *([F.col(label_col)] if label_col else []),
            F.expr(f"substring({_bq(text_col)}, _i, {n})").alias("_g"),
        )
        .withColumn("_b", feature_hash_bucket(F.col("_g"), dim, "lid"))
    )
    group_cols = [key_col] + ([label_col] if label_col else [])
    cnt = grams.groupBy(*group_cols, "_b").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = cnt.groupBy(*group_cols).agg(
        F.map_from_arrays(F.collect_list("_b"), F.collect_list("_c")).alias("_m")
    )
    # D-suffixed literals: bare `1.0`/`10.0` parse as DECIMAL in Spark SQL,
    # which would silently turn x into array<decimal> and detach the dot
    # products from the double math the oracle replays
    x = F.expr(
        f"concat(array(1.0D), transform(sequence(0, {dim - 1}), "
        f"j -> cast(coalesce(element_at(_m, cast(j as bigint)), 0L) as double) "
        "/ 10.0D))"
    ).alias("x")
    return per_doc.select(*group_cols, x)


def train_lang_id(
    features: DataFrame,
    classes: list[str],
    *,
    label_col: str = "lang",
    x_col: str = "x",
    dim: int = 64,
    iterations: int = 4,
    lr: float = 4.0,
    scale_bits: int = 12,
    n: int | None = None,
) -> dict[str, list[float]]:
    """One-vs-rest training: K binary logistic models over the SAME
    features (one feature pass, cached by the caller), all trained with
    the deterministic integer-quantized gradient recipe — FUSED so each
    GD iteration is ONE aggregate computing every class's gradient vector
    (K×(dim+1) exact-integer sums) instead of K separate jobs; per-class
    math is identical to ``classifier.logreg_train`` term by term (same
    residual projection, same rounding grid, same fixed-order update), so
    the weights are bit-equal to the sequential path (pytest-pinned) and
    the per-class DuckDB replay oracles still match.  Returns
    ``{class: weights}``.

    Scale shape: iterations × ONE corpus pass total — independent of the
    class count; at a fastText-style 176 languages the fused pass is what
    keeps training linear in the data, not in the label set."""
    if n is None:
        n = features.count()
    if n <= 0:
        raise ValueError("cannot train on an empty features DataFrame")
    spark = features.sparkSession
    s = float(1 << scale_bits)
    d1 = dim + 1
    # r14: lift a byte-tiny (AQE-coalesced) features frame to default
    # parallelism — the interpreted zip_with/aggregate dot products and
    # the contribution transform otherwise run the whole loop on 1 task;
    # bit-identical by the integer-gradient contract (classifier.py).
    from fs2_kinesis_firehose_spark.operators.classifier import (
        training_parallelism_floor,
    )

    features = training_parallelism_floor(features, n, d1)
    w: dict[str, list[float]] = {cls: [0.0] * d1 for cls in classes}
    # Weights travel as broadcast DATA (a 1-row array<array<double>>
    # relation, the repo's 1-row crossJoin idiom), NOT as plan literals:
    # literal weights change every iteration, forcing a fresh whole-stage
    # codegen COMPILE of the ~K·(dim+1)-column aggregate per iteration —
    # measured as the dominant training cost (plan exec itself is ~0.2 s
    # warm).  With data-weights the generated code is identical across
    # iterations, so Janino's cache compiles it ONCE.
    # The data-weight dot product aggregate(zip_with(x, w, *), 0.0, +) is
    # bit-equal to the literal left-assoc chain (same multiply/add order;
    # the leading 0.0+ changes at most the sign of a zero, which sigmoid
    # erases) — pinned against classifier.logreg_train in pytest.
    # Per-row, EVERY class's quantized gradient contributions flatten into
    # ONE bigint array (class-major: position ci*d1 + j); summing per
    # position via posexplode + a 1-shuffle keyed aggregate keeps the
    # expression count CONSTANT in K and dim — per-column gradient sums
    # (K·d1 aggregate expressions) put seconds of Catalyst analysis on the
    # driver per iteration, independent of data size.
    resid_exprs = [_bq(x_col)]
    for ci, cls in enumerate(classes):
        dot = (
            f"aggregate(zip_with({_bq(x_col)}, element_at(_w, {ci + 1}), "
            f"(a, b) -> a * b), cast(0.0 as double), (acc, v) -> acc + v)"
        )
        y = f"(case when {_bq(label_col)} = {_sql_str(cls)} then 1.0D else 0.0D end)"
        resid_exprs.append(f"(1.0D / (1.0D + exp(-({dot})))) - {y} as _r_{ci}")
    contrib = "concat(" + ", ".join(
        f"transform({_bq(x_col)}, xv -> cast(round(_r_{ci} * xv * {s!r}D) as bigint))"
        for ci in range(len(classes))
    ) + ") as _contrib"
    for _ in range(iterations):
        wdf = spark.createDataFrame(
            [([list(w[cls]) for cls in classes],)], "_w array<array<double>>"
        )
        # localCheckpoint = a lineage barrier between the residual
        # projection and the contribution transform: without it,
        # CollapseProject inlines each _r_ci (a full d1-term dot) into the
        # per-element lambda, recomputing every dot d1 times per row —
        # higher-order functions are interpreted, measured 4× slower at
        # sf0.1.  The materialized frame is K doubles + x per row.
        resid = (
            features.crossJoin(F.broadcast(wdf))  # 1 row → broadcast idiom
            .selectExpr(*resid_exprs)
            .localCheckpoint(eager=False)
        )
        rows = (
            resid.selectExpr(contrib)
            .selectExpr("posexplode(_contrib) as (p, v)")
            .groupBy("p")
            .agg(F.sum("v").alias("g"))
            .collect()
        )
        g = {r.p: r.g for r in rows}
        # contrib emits all K*(len(x)) positions per row, so any non-empty
        # frame fills every position — a shortfall means either an empty
        # frame behind an explicit n > 0, or feature arrays shorter than
        # dim+1 (a dim mismatch with the featurizer); name the right cause
        # instead of a KeyError from the w update
        if len(g) != len(classes) * d1:
            if not g:
                raise ValueError(
                    "gradient aggregate returned no rows — features "
                    "DataFrame is empty or fully length-filtered"
                )
            raise ValueError(
                f"gradient aggregate returned {len(g)} of "
                f"{len(classes) * d1} positions (K*(dim+1)) — the "
                f"features' array length does not match dim={dim} "
                f"(dim mismatch with the featurizer?)"
            )
        for ci, cls in enumerate(classes):
            w[cls] = [
                w[cls][j] - lr * g[ci * d1 + j] / (s * n) for j in range(d1)
            ]
    return w


def predict_lang(
    features: DataFrame,
    models: dict[str, list[float]],
    *,
    x_col: str = "x",
    pred_col: str = "lang_pred",
    scale_bits: int = 12,
) -> DataFrame:
    """Append ``pred_col`` = argmax-margin class.  Margins are rounded to
    the 2^scale_bits integer grid BEFORE comparison (the trainer/eval
    determinism recipe: the grid is orders of magnitude above cross-engine
    exp/fma ulps), ties break alphabetically — predictions are
    engine-portable, pinned by the DuckDB oracle replay.

    Array-valued like the trainer: weights ride as broadcast data, all K
    quantized margins land in one bigint array, and
    ``array_position(m, array_max(m))`` picks the FIRST maximum over the
    alphabetically-sorted class axis — exactly the strict-greater fold's
    tie-break, with a constant expression count."""
    classes = sorted(models)
    spark = features.sparkSession
    s = float(1 << scale_bits)
    wdf = spark.createDataFrame(
        [([list(models[c]) for c in classes],)], "_pw array<array<double>>"
    )
    classes_arr = "array(" + ", ".join(_sql_str(c) for c in classes) + ")"
    margins = (
        f"transform(_pw, wv -> cast(round(aggregate(zip_with({_bq(x_col)}, wv, "
        f"(a, b) -> a * b), cast(0.0 as double), (acc, v) -> acc + v) "
        f"* {s!r}D) as bigint))"
    )
    pred = (
        f"element_at({classes_arr}, "
        f"cast(array_position(_pm, array_max(_pm)) as int)) as {_bq(pred_col)}"
    )
    return (
        features.crossJoin(F.broadcast(wdf))
        .selectExpr("*", f"{margins} as _pm")
        .selectExpr(*[_bq(c) for c in features.columns], pred)
    )
