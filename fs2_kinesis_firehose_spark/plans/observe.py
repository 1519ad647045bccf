"""Zero-cost pipeline metrics via ``pyspark.sql.Observation``.

At 100 TB you cannot afford a second pass just to count rows or sum a
column for monitoring: ``Observation`` piggybacks aggregate metrics onto the
action that already runs (computed by the same tasks, collected with the
job's result), so data-quality counters are free.

``observed_write`` is the curation-pipeline idiom: write the DataFrame and
get back the metrics (rows written, null keys, quality-flag counts) from the
very same job.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observe(df: DataFrame, name: str, *metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach named aggregate metrics to the next action on ``df``.

    Returns (df', observation); read ``observation.get`` AFTER an action on
    df' has completed."""
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def observed_write(
    df: DataFrame,
    path: str,
    *,
    extra_metrics: dict[str, Column] | None = None,
) -> dict[str, Any]:
    """Write ``df`` as parquet over ``path`` and return metrics computed BY
    THE WRITE JOB ITSELF (no second scan): row count plus any
    caller-supplied aggregates."""
    metrics: dict[str, Column] = {"n_rows": F.count(F.lit(1))}
    if extra_metrics:
        metrics.update(extra_metrics)
    cols = [m.alias(k) for k, m in metrics.items()]
    observed, obs = observe(df, f"write_{abs(hash(path)) % 10**8}", *cols)
    observed.write.mode("overwrite").parquet(path)
    return dict(obs.get)
