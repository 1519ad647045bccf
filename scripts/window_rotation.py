#!/usr/bin/env python
"""Derive the next round's 50-slot driver window (PLANS.md: "write the
rotation FIRST next round").

Policy (pinned by tests/test_driver_window.py and the round verdicts):
  1. NEVER-GREEN queries head the window — anything registered that has no
     passing row in any CORRECTNESS_r*.json (late registrations carried as
     WINDOW_EXEMPT last round lose their exemption here).
  2. Queries whose implementation changed this round (pass --changed).
  3. Remaining slots rotate in the OLDEST-evidence queries (newest green
     round ascending, then name) so recency of verification stays bounded.

Prints the ordered window (paste into _WINDOW_PRIORITY / driver_window.txt),
the evidence age histogram, and the refreshed verified_green 'green' list.

Usage:
  PYTHONPATH=. python scripts/window_rotation.py [--changed a,b,c] [--size 50]
"""

from __future__ import annotations

import argparse
import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# exemptions that survive rotation (per-name justification lives in
# queries/__init__.py); EMPTY — every registered query is window-eligible
PERMANENT_EXEMPT: set[str] = set()


def newest_green_rounds() -> dict[str, int]:
    """query -> newest round number with a passing driver row."""
    newest: dict[str, int] = {}
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f.name).group(1))
        data = json.loads(f.read_text())
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            ok = row.get("hash_match")
            if ok is None:  # no-oracle rows: rows-only check
                ok = row.get("rows_match")
            if ok:
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--changed", default="", help="comma-separated changed-this-round queries")
    ap.add_argument("--size", type=int, default=50)
    args = ap.parse_args()
    changed = [c for c in args.changed.split(",") if c]

    import fs2_kinesis_firehose_spark.queries as q

    q.load_all()
    registered = list(q.QUERIES)
    newest = newest_green_rounds()

    never = [
        n for n in registered if n not in newest and n not in PERMANENT_EXEMPT
    ]
    window: list[str] = []
    for n in never + [c for c in changed if c in registered]:
        if n not in window:
            window.append(n)
    rotations = sorted(
        (n for n in registered if n in newest and n not in window),
        key=lambda n: (newest[n], n),
    )
    head_len = len(window)
    window.extend(rotations[: args.size - len(window)])

    print(f"# window ({len(window)} slots: {head_len} never-green/changed + "
          f"{len(window) - head_len} oldest-evidence rotations)")
    for n in window:
        tag = "" if n in newest else "  # never driver-verified"
        if n in changed:
            tag = "  # changed this round"
        print(n + tag)

    from collections import Counter

    ages = Counter(newest[n] for n in registered if n in newest)
    print("\n# evidence age histogram (round -> queries whose newest green row is that round)")
    for rnd in sorted(ages):
        print(f"r{rnd:02d}: {ages[rnd]}")
    outside = [n for n in registered if n not in window and n not in newest]
    print(f"\n# registered, never-green, NOT in window (need exemption entries): "
          f"{[n for n in outside if n not in PERMANENT_EXEMPT] or 'none'}")
    print(f"# permanent exemptions: {sorted(PERMANENT_EXEMPT & set(registered))}")
    print(f"\n# verified_green refresh: {len(newest)} names with a green row "
          f"(rounds present: {sorted(set(newest.values()))})")


if __name__ == "__main__":
    main()
