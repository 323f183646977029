#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload and metric.

    python3 segbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the records ``run.py`` appends to
``.segbench_work/results.jsonl`` (one per run).  For every end-to-end
metric of every workload it prints both medians and the relative change,
and marks a change worse than the metric's bound in BENCHMARK.json.
Results from hosts with different core counts are not comparable: the
comparison is refused (exit 2).  Exit 1 if any metric regressed.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [r for r in map(json.loads, f) if r.get("trace") == 0]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load(p) for p in argv)
    cores = {r["host"]["cores"] for r in base + new}
    if len(cores) != 1:
        print(f"compare: refused, results come from hosts with {sorted(cores)} cores",
              file=sys.stderr)
        return 2
    spec_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    regressed = False
    for wl in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in base if r["host"]["workload"] == wl]
            b = [r["metrics"][m["name"]]["value"] for r in new if r["host"]["workload"] == wl]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            regressed |= worse
            print(f"{wl:15s} {m['name']:12s} {ma:12.4f} -> {mb:12.4f} {change:+8.2%}"
                  f"  (n={len(a)}/{len(b)}){'  WORSE than bound' if worse else ''}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
