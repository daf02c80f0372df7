#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py before.jsonl after.jsonl

Each file holds one JSON object per line, as `sweep.py` writes them:
{"workload": ..., "seed": ..., "trace": 0|1, "result": <run.py's last line>}.

For every workload and end-to-end metric it prints both medians, each
side's spread (interquartile range over median, as
`statistics.quantiles(values, n=4)` gives the quartiles), the change of the
median, and whether the change is worse than the metric's bound in
BENCHMARK.json. For the per-layer metrics (traced runs) it names the one
whose median moved most, relative to its own value. Exits 1 if any bound
is exceeded.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path):
    """{(workload, trace): {metric: [values]}} and run/failure counts."""
    runs = defaultdict(lambda: defaultdict(list))
    failed = defaultdict(int)
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        rec = json.loads(line)
        key = (rec["workload"], rec["trace"])
        res = rec["result"]
        failed[rec["workload"]] += res["failed"] + (0 if res["correct"] else 1)
        for name, m in res["metrics"].items():
            runs[key][name].append(m["value"])
    return runs, failed


def spread(values):
    """Interquartile range over median; 0 for fewer than two values."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(before, after, better):
    """Relative change in the bad direction (positive = worse)."""
    change = (after - before) / before
    return change if better == "lower" else -change


def main(argv):
    if len(argv) != 2:
        print(__doc__)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    a, fa = load(argv[0])
    b, fb = load(argv[1])
    exceeded = False
    workloads = sorted({w for w, _ in a} | {w for w, _ in b})
    for w in workloads:
        print(f"== {w}  (failed runs/ops: before {fa[w]}, after {fb[w]})")
        ea, eb = a.get((w, 0), {}), b.get((w, 0), {})
        print(f"  {'metric':18s} {'before':>12s} {'after':>12s} {'spread_b':>9s} "
              f"{'spread_a':>9s} {'change':>8s} {'bound':>6s}")
        for name, m in bounds.items():
            if name not in ea or name not in eb:
                print(f"  {name:18s} missing on one side")
                continue
            ma, mb = statistics.median(ea[name]), statistics.median(eb[name])
            change = worse_by(ma, mb, m["better"])
            over = change > m["bound"]
            exceeded |= over
            print(f"  {name:18s} {ma:12.4f} {mb:12.4f} {spread(ea[name]):9.3f} "
                  f"{spread(eb[name]):9.3f} {100 * (mb - ma) / ma:+7.1f}% {m['bound']:6.2f}"
                  + ("  EXCEEDED" if over else ""))
        la, lb = a.get((w, 1), {}), b.get((w, 1), {})
        moves = []
        for name in sorted(set(la) & set(lb)):
            ma, mb = statistics.median(la[name]), statistics.median(lb[name])
            base = max(abs(ma), abs(mb))
            if base > 0:
                moves.append((abs(mb - ma) / base, name, ma, mb))
        if moves:
            rel, name, ma, mb = max(moves)
            print(f"  per-layer metric that moved most: {name} {ma:.6g} -> {mb:.6g} "
                  f"({100 * rel:.1f}% of the larger)")
    return 1 if exceeded else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
