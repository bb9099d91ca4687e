#!/usr/bin/env python3
"""Summarize benchmark runs: median, quartiles and spread per metric.

    python3 perfbench/summarize.py FILE [FILE ...]

Each JSON line of each FILE is one run's result: the output of a
`perfbench/run.py` run, or a `perfbench/baseline/*.jsonl` file. Runs
should share a workload and a trace setting. For every metric the
table gives the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`), and the spread:
(q3 - q1) / median.
"""
import json
import statistics
import sys


def results(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip().startswith("{")]


def main(paths):
    if not paths:
        sys.exit(__doc__)
    runs = [r for p in paths for r in results(p)]
    bad = sum(1 for r in runs if not r["correct"] or r["failed"])
    print(f"{len(runs)} runs, {bad} with failed checks")
    names = list(runs[0]["metrics"])
    print(f"{'metric':60s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s}")
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs if n in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        unit = runs[0]["metrics"][n]["unit"]
        print(f"{n + ' [' + unit + ']':60s} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:8.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
