#!/usr/bin/env python3
"""Which per-layer counters repeat exactly across traced runs.

    python3 perfbench/repeats.py run1.out run2.out [...]

Each file holds the standard output of one ``run.py --trace 1`` run of the
same workload and seed (its last line is the result JSON). Counts that
repeat exactly (jobs, stages, tasks, shuffle bytes, ...) can back a claim
on their own; the rest are judged over repeated runs like wall times.
"""

from __future__ import annotations

import json
import sys


def last_json(path: str) -> dict:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    return json.loads(lines[-1])["metrics"]


def main(paths: list[str]) -> int:
    if len(paths) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    runs = [last_json(p) for p in paths]
    for name in sorted(runs[0]):
        values = [r[name]["value"] for r in runs if name in r]
        if len(values) != len(runs) or not any(values):
            continue                  # missing, or never opened
        same = all(v == values[0] for v in values)
        print(f"{'exact ' if same else 'varies'}  {name}  "
              + " ".join(f"{v:.6g}" for v in values))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
