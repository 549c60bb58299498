#!/usr/bin/env python3
"""Spread of repeated perfbench runs.

    python3 perfbench/analyze.py RESULTS.jsonl [RESULTS.jsonl ...]

Each input line is one run's final JSON object (the last stdout line of
run.py), optionally wrapped as {"res": {...}}. For every metric prints
the median, the quartiles (`statistics.quantiles(n=4)`) and the
interquartile range as a share of the median, next to the metric's
bound in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def main(paths: list) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    for path in paths:
        with open(path) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        runs = [r.get("res", r) for r in runs]
        bad = sum(not r["correct"] for r in runs)
        print(f"{path}: {len(runs)} runs, {bad} incorrect")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            print(f"  {name:32s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
                  f"  spread {spread:6.3f}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
