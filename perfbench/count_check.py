#!/usr/bin/env python3
"""Count-regression checker for graft's benchmark.

    python3 perfbench/count_check.py BASE NEW

BASE and NEW each hold the output of one traced run
(`perfbench/run.py ... --trace 1`) of the same workload and seed; the
last JSON line of each file is read. Every per-layer count (Spark jobs,
tasks, shuffle bytes written, filesystem operations, persisted RDDs
left behind) that is higher in NEW than in BASE is reported, and the
exit code is 1 if any grew. Counts repeat exactly for one seed, unlike
times, so any growth is a real change in the work graft does.
"""
import json
import sys

COUNTERS = (".jobs", ".tasks", ".shuffle_write_bytes", ".fs_read_ops", ".fs_write_ops",
            ".fs_list_ops", "spark.persisted_rdds")


def load(path):
    with open(path) as f:
        lines = [l for l in f if l.strip().startswith("{")]
    if not lines:
        sys.exit(f"count_check: no result JSON line in {path}")
    return json.loads(lines[-1])["metrics"]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    base, new = load(argv[1]), load(argv[2])
    grew, compared = [], 0
    for name in sorted(base):
        if not name.endswith(COUNTERS) or name not in new:
            continue
        compared += 1
        b, n = base[name]["value"], new[name]["value"]
        if n > b:
            grew.append((name, b, n))
    missing = sorted(k for k in base if k.endswith(COUNTERS) and k not in new)
    for name in missing:
        print(f"MISSING  {name}")
    for name, b, n in grew:
        print(f"GREW     {name}: {b:g} -> {n:g} (+{n - b:g})")
    print(f"count_check: {compared} counts compared, {len(grew)} grew, {len(missing)} missing")
    return 1 if grew or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
