#!/usr/bin/env python
"""Same-box alternating A/B of the iterative-graph exchange-reuse pin
(operators/graph.py `_pinned_by_key` / `_EXCHANGE_REUSE`) — r11 verdict ask
#4 adjudication.  Protocol: one bench-like session, warm both variants at
sf0.001, then alternate variants for --reps timed runs per query at the
target sf (cache cleared each run); report per-variant min/median.

Usage:
  PYTHONPATH=/root/repo python scripts/ab_graph_pin.py \
      [--sf /tmp/sf1] [--reps 2]
"""
from __future__ import annotations

import argparse
import statistics
import time

ap = argparse.ArgumentParser()
ap.add_argument("--sf", default="/tmp/sf1")
ap.add_argument("--reps", type=int, default=2)
args = ap.parse_args()

from fs2_kinesis_firehose_spark.session import get_spark  # noqa: E402

spark = get_spark("ab-graph-pin")

import fs2_kinesis_firehose_spark.operators.graph as G  # noqa: E402
import fs2_kinesis_firehose_spark.queries as q  # noqa: E402

q.load_all()
NAMES = [
    "pagerank_top_sources",
    "ppr_seed_sources",
    "hits_copurchase_scores",
    "doc_community_labels",
    "part_copurchase_kcore",
]

for pin in (True, False):
    G._EXCHANGE_REUSE = pin
    for n in NAMES:
        q.QUERIES[n](spark, "/root/testdata/sf0.001").collect()

times: dict[tuple[str, bool], list[float]] = {}
for rep in range(args.reps):
    for pin in (True, False):
        G._EXCHANGE_REUSE = pin
        for n in NAMES:
            spark.catalog.clearCache()
            t0 = time.monotonic()
            q.QUERIES[n](spark, args.sf).collect()
            t = time.monotonic() - t0
            times.setdefault((n, pin), []).append(t)
            print(f"rep {rep} pin={pin} {n}: {t:.2f}s", flush=True)

print("\n=== summary (min / median) ===")
for n in NAMES:
    on, off = times[(n, True)], times[(n, False)]
    print(
        f"{n}: pin ON min={min(on):.2f} med={statistics.median(on):.2f} | "
        f"pin OFF min={min(off):.2f} med={statistics.median(off):.2f}"
    )
