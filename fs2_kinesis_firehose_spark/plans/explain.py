"""Capture and assert on physical plans.

At 100 TB the plan IS the product: these helpers let tests pin the
scale-critical properties — predicate pushdown reaching the parquet scan,
broadcast joins for dimensions, TakeOrderedAndProject instead of global
sorts, whole-stage codegen coverage — so a regression in plan shape fails CI
even while results stay correct.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def assert_plan_contains(df: DataFrame, *needles: str) -> str:
    plan = explain_str(df)
    missing = [n for n in needles if n not in plan]
    assert not missing, f"plan lacks {missing}:\n{plan}"
    return plan


def assert_plan_lacks(df: DataFrame, *needles: str) -> str:
    plan = explain_str(df)
    present = [n for n in needles if n in plan]
    assert not present, f"plan unexpectedly contains {present}:\n{plan}"
    return plan
