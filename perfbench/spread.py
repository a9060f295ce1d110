#!/usr/bin/env python3
"""Median and spread of each metric over a set of benchmark runs.

Usage: python3 perfbench/spread.py .perfbench/results/graph-iter-s*-t0.json

Reads the run records `run.py` keeps and prints, per workload and
metric, the run count, the median and the spread: the distance between
the first and third quartile (`statistics.quantiles(values, n=4)`) as a
share of the median.
"""
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import metrics  # noqa: E402


def summarize(runs):
    """(workload, metric, runs, median, spread) rows, in first-seen order."""
    values = {}
    for r in runs:
        key = r["context"]["workload"]
        for name, m in r["result"]["metrics"].items():
            values.setdefault((key, name), []).append(m["value"])
    return [(w, name, len(xs), statistics.median(xs),
             metrics.spread(xs) if len(xs) > 1 and statistics.median(xs) else 0.0)
            for (w, name), xs in values.items()]


def main(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            run = json.load(f)
        if "result" in run:  # skip the span trees of traced runs
            runs.append(run)
    for w, name, n, med, spr in summarize(runs):
        print(f"{w:12} {name:22} n={n:<3} median {med:12.4f}  spread {spr:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
