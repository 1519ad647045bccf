"""Vector math over ``ArrayType(FloatType)`` as pure Column expressions.

``zip_with`` + ``aggregate`` compile to codegen'd loops (SURVEY.md §7
hard-part 4) — at 100 TB the dot products run JVM-side at scan speed; no
Python UDF in the hot path.  All arithmetic is promoted to double before
accumulation so results are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product in double.

    With ``dim`` given, expands to a FLAT left-to-right multiply-add chain of
    ``element_at`` terms — whole-stage-codegen-compatible, ~100× the
    interpreted HOF path (Spark's higher-order functions ``aggregate``/
    ``zip_with`` are never codegen'd: they evaluate via per-element closures
    with allocation).  Same summation order as a sequential SQL fold, so
    results stay bit-identical to the DuckDB oracle either way."""
    if dim is not None:
        acc = F.element_at(a, 1).cast("double") * F.element_at(b, 1).cast("double")
        for i in range(2, dim + 1):
            acc = acc + F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None:
        return F.sqrt(dot(a, a, dim))
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def scale(a: Column, factor: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double") * factor)


def literal_vector(values: list[float]) -> Column:
    """A query vector as a foldable literal array (constant-folded by
    Catalyst, shipped once with the plan — the broadcast-free way to compare
    every row against one probe vector).

    ONE ``Literal(ArrayData)`` node instead of a dim-wide ``CreateArray``
    of scalar lits (r14): bit-identical values (pinned hex-for-hex), but a
    64-dim vector stops costing 64 ``F.lit`` py4j round-trips at plan
    BUILD and 64 extra nodes through every Catalyst phase — the dim-
    expanded dot chains referencing it still constant-fold their
    ``element_at(lit, i)`` terms to the same scalar literals."""
    return F.lit([float(v) for v in values])
