#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by workload.

    python3 perfbench/diff.py before.jsonl after.jsonl

Each file holds one JSON run record per line, as run.py appends them to
.bench_work/results.jsonl (copy that file aside between the two sets).
For every workload, and separately for untraced and traced runs, it
prints each metric's median and quartiles on both sides and the change
of the median. Counters (jobs, tasks, bytes) also get their absolute
difference, since they do not drift with the machine the way times do.
A change inside both sides' quartile ranges is marked "~" (noise).
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    runs = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            r = json.loads(line)
            if "workload" in r and "metrics" in r:
                runs[(r["workload"], bool(r.get("trace")))].append(r)
    return runs


def summary(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def fmt(v):
    return f"{v:.4g}" if abs(v) < 1e6 else f"{v:.4e}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    for key in sorted(set(a) | set(b)):
        workload, traced = key
        ra, rb = a.get(key, []), b.get(key, [])
        print(f"\n== {workload} ({'traced' if traced else 'untraced'}) "
              f"runs: {len(ra)} vs {len(rb)}")
        fails = [sum(r["failed"] for r in rs) for rs in (ra, rb)]
        if any(fails):
            print(f"   failed operations: {fails[0]} vs {fails[1]}")
        names = []
        for r in ra + rb:
            names += [n for n in r["metrics"] if n not in names]
        print(f"   {'metric':<34} {'before (q1 med q3)':>30} {'after (q1 med q3)':>30} {'change':>9}")
        for n in names:
            va = [r["metrics"][n]["value"] for r in ra if n in r["metrics"]]
            vb = [r["metrics"][n]["value"] for r in rb if n in r["metrics"]]
            unit = next(r["metrics"][n]["unit"] for r in ra + rb if n in r["metrics"])
            sa = summary(va) if va else None
            sb = summary(vb) if vb else None
            left = " ".join(fmt(x) for x in sa) if sa else "-"
            right = " ".join(fmt(x) for x in sb) if sb else "-"
            change = ""
            if sa and sb:
                if sa[1]:
                    change = f"{(sb[1] - sa[1]) / abs(sa[1]) * 100:+.1f}%"
                if unit in ("count", "bytes"):
                    change += f" ({sb[1] - sa[1]:+.0f})"
                elif sa[0] <= sb[1] <= sa[2] or sb[0] <= sa[1] <= sb[2]:
                    change += " ~"
            print(f"   {n:<34} {left:>30} {right:>30} {change:>9}  {unit}")


if __name__ == "__main__":
    main()
