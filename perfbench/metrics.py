"""Metric names, units and the statistics the benchmark reports.

The names are part of the benchmark's interface: later changes claim gains
by them (README.md holds the layer -> metric -> workload table).
"""

from __future__ import annotations

import statistics

import numpy as np

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "worker_rss_mb": "MiB",
}

# the registry line deliver_batch runs, measured as a ``queries.*`` layer
PIPELINE = "pipeline_dedup_delivery_accounting"

_LINE_METRICS = {
    "s": "s",
    "stages": "count",
    "tasks": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
    "cpu_s": "s",
}

PER_LAYER = {
    "serializers.frame_s": "s",
    "serializers.frame_bytes": "bytes",
    "batching.requests": "count",
    "batching.fill": "ratio",
    "batching.slice_us_per_request": "us",
    "retry.attempts_per_request": "ratio",
    "retry.records_resent": "count",
    "retry.put_us_per_request": "us",
    "client.put_us_per_record": "us",
    "client.spool_us_per_record": "us",
    "client.retained_mb_per_rep": "MiB",
    "sink.stages": "count",
    "sink.tasks": "count",
    "sink.cut_stage_s": "s",
    "sink.put_stage_s": "s",
    "sink.ack_stage_s": "s",
    "sink.shuffle_write_bytes": "bytes",
    "sink.executor_cpu_s": "s",
    "sink.executor_run_s": "s",
    "source.read_s": "s",
    "source.records": "count",
    "source.shards": "count",
    "dedup.s": "s",
    "dedup.in_records": "count",
    "dedup.out_records": "count",
    "dedup.shuffle_write_bytes": "bytes",
    "stream.batches": "count",
    "stream.add_batch_ms_p50": "ms",
    "stream.trigger_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.input_rows_p50": "count",
    "stream.backlog_records_max": "count",
    "gen.late_ms_max": "ms",
    **{f"q.{PIPELINE}.{m}": u for m, u in _LINE_METRICS.items()},
    "trace.overhead_s": "s",
}


def quantile(values: list[float], q: float) -> float:
    return float(np.quantile(np.asarray(values, dtype=float), q))


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def as_metrics(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every name in ``units``; a layer a
    workload does not run reports 0."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
