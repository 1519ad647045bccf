"""Open-loop load generator for ``stream_deliver``.

Writes one JSON-lines file per tick into a directory that a Spark file
stream reads.  Tick ``k`` is due at ``start + k * tick_s`` and holds
``rate * tick_s`` records; each record carries its id and its due time.
The schedule never waits for the system under test.  A file is written
under a hidden name and renamed into place, so the stream never sees a
partial file.  On exit the generator prints one JSON line: records
written and how late it ran (``late_ms_max``).

    python3 perfbench/streamgen.py --dir D --seed S --rate 10000 \
        --tick 0.25 --ticks 20 --start T
"""

from __future__ import annotations

import argparse
import json
import os
import random
import string
import time


def tick_records(seed: int, k: int, per_tick: int, due: float) -> list[str]:
    rng = random.Random(seed * 1_000_003 + k)
    alphabet = string.ascii_letters + string.digits
    lines = []
    for i in range(per_tick):
        payload = "".join(rng.choices(alphabet, k=rng.randint(20, 200)))
        lines.append(json.dumps({"id": k * per_tick + i, "due": due, "payload": payload}))
    return lines


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--dir", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=int, required=True)
    p.add_argument("--tick", type=float, required=True)
    p.add_argument("--ticks", type=int, required=True)
    p.add_argument("--start", type=float, required=True)
    a = p.parse_args()
    per_tick = int(a.rate * a.tick)
    late_max = 0.0
    for k in range(a.ticks):
        due = a.start + k * a.tick
        lines = tick_records(a.seed, k, per_tick, due)  # built before it is due
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(a.dir, f".tick-{k:06d}.json")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(a.dir, f"tick-{k:06d}.json"))
        late_max = max(late_max, time.time() - due)
    print(json.dumps({"records": per_tick * a.ticks, "late_ms_max": late_max * 1e3}))


if __name__ == "__main__":
    main()
