#!/usr/bin/env python
"""Print one digest per registered query's optimized plan, for diffing trees.

Builds every query in ``QUERIES`` (registration order) at the given scale and
prints ``name  plan-sha256  oracle-sha256``: the digest of its optimized
logical plan with the ``#<id>`` expression ids stripped, then the digest of
its ``ORACLES`` text (``-`` for a query without one), so one ``diff`` checks
that two checkouts plan alike and state the same oracles.  Queries whose
construction runs a stream or an eager job are built, and so run, too.

A query whose plan digest can differ between two builds of one tree is
marked ``unstable``: the distinct-aggregate ``Expand`` of
``analyze_orders_stats``, ``domain_dedup_stats`` and
``normalized_dedup_stats`` orders its distinct groups by expression hashes,
which carry expression ids, so the order follows how many ids the run
allocated before it.

Usage:
  python scripts/plan_digest.py SF_DIR > digest.txt   # in each checkout
  diff parent.txt digest.txt
"""
from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

# digest the tree this script sits in, whatever the working directory
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from fs2_kinesis_firehose_spark.session import get_spark  # noqa: E402

UNSTABLE = {"analyze_orders_stats", "domain_dedup_stats", "normalized_dedup_stats"}
_EXPR_ID = re.compile(r"#\d+L?")


def plan_digest(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return hashlib.sha256(_EXPR_ID.sub("", plan).encode()).hexdigest()


def oracle_digest(sql: str | None) -> str:
    return "-" if sql is None else hashlib.sha256(sql.encode()).hexdigest()


def main(sf_dir: str) -> None:
    # a wide projection's plan string is cut at maxToStringFields (25), which
    # would hide a change past its 25th column
    spark = get_spark(
        "plan-digest",
        shuffle_partitions=8,
        extra_conf={"spark.sql.debug.maxToStringFields": "100000"},
    )
    import fs2_kinesis_firehose_spark.queries as q

    q.load_all()
    for name, fn in q.QUERIES.items():
        mark = "  unstable" if name in UNSTABLE else ""
        plan = plan_digest(fn(spark, sf_dir))
        print(f"{name}  {plan}  {oracle_digest(q.ORACLES.get(name))}{mark}", flush=True)


if __name__ == "__main__":
    main(sys.argv[1])
