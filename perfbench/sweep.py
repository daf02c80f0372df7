#!/usr/bin/env python3
"""Run the benchmark over several seeds and workloads; collect the results.

    python3 perfbench/sweep.py --out runs.jsonl --seeds 1-10 [--workloads a,b] [--trace 0|1]
                               [--raw-dir DIR]

Appends one line per run to --out: {"workload", "seed", "trace", "result"},
where "result" is the last line run.py printed. Run from the repository
root; feed two such files to compare.py. Prints, per workload, the spread
of every end-to-end metric (interquartile range over median) so far.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import compare  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--raw-dir", help="keep each run's raw JVM record here")
    args = ap.parse_args()
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            if args.raw_dir:
                Path(args.raw_dir).mkdir(parents=True, exist_ok=True)
                cmd += ["--raw-out", str(Path(args.raw_dir) / f"{w}-{s}-{args.trace}.json")]
            p = subprocess.run(cmd, cwd=HERE.parent, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "trace": args.trace,
                                    "result": result}) + "\n")
            summary = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
            print(f"{w} seed {s}: correct={result['correct']} {summary}", flush=True)
    runs, _ = compare.load(args.out)
    for (w, t), metrics in sorted(runs.items()):
        if t == args.trace:
            print(w, {k: round(compare.spread(v), 3) for k, v in metrics.items()})
    return 0


if __name__ == "__main__":
    sys.exit(main())
