"""Guard for the driver's 50-query verification window.

The grading driver checks only the first 50 registered queries per round.
Round 2 lost verified coverage for 33 queries because new registrations
silently displaced the tail.  These tests make the window an explicit,
reviewed artifact:

- the first 50 registrations must equal the checked-in ``driver_window.txt``
  (any reorder is a deliberate, diffed change);
- every registered query WITHOUT a green driver row in a prior round
  (``verified_green.json``) must sit inside the window — new queries can
  never again silently evict never-verified ones.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import fs2_kinesis_firehose_spark.queries as q

REPO = Path(__file__).resolve().parent.parent
WINDOW_SIZE = 50


def _names() -> list[str]:
    q.load_all()
    return list(q.QUERIES)


def test_window_matches_checked_in_artifact():
    window = _names()[:WINDOW_SIZE]
    pinned = (REPO / "driver_window.txt").read_text().split()
    assert window == pinned, (
        "first-50 registration order drifted from driver_window.txt — "
        "regenerate the file ONLY as a deliberate window change"
    )


def test_every_never_verified_query_is_inside_window():
    names = _names()
    green = set(json.loads((REPO / "verified_green.json").read_text())["green"])
    window = set(names[:WINDOW_SIZE])
    evicted = [
        n
        for n in names
        if n not in green and n not in window and n not in q.WINDOW_EXEMPT
    ]
    assert not evicted, (
        f"queries with NO prior driver correctness row fell outside the "
        f"driver's {WINDOW_SIZE}-query window: {evicted} — reorder "
        f"_WINDOW_PRIORITY in queries/__init__.py"
    )


def test_priority_list_has_no_stale_names():
    names = set(_names())
    stale = [n for n in q._WINDOW_PRIORITY if n not in names]
    assert not stale, f"_WINDOW_PRIORITY references unregistered queries: {stale}"


def test_bench_headline_names_are_registered():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    names = set(_names())
    stale = [n for n in bench.HEADLINE if n not in names and n not in bench.EXTRA_BENCH]
    assert not stale, f"bench.HEADLINE references unregistered queries: {stale}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)), "bench.HEADLINE repeats a name"
