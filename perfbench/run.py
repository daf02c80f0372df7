#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
.bench_build/; later runs reuse it while the sources are unchanged.

The JVM side (perfbench.Main) sets up a pinned local[nproc] session,
runs warm-up passes (the first checks every operation's output digest),
then times passes over the workload's operations for --seconds. This script
turns its raw samples into metrics, checks the digests against
perfbench/expected/digests.json, prints a readable table, and prints as
its LAST line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
DATA = HERE / "data" / "sf0.1"
EXPECTED = HERE / "expected" / "digests.json"

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# Engine knobs that change the program being measured; a run with any of
# them set measures something else, so it is refused.
REFUSED_KNOBS = ["SPARK_GRAFT_SCAN_FANOUT", "SPARK_GRAFT_AQE_MIN_PARTITION",
                 "SPARK_GRAFT_SHUFFLE_PARTITIONS"]

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "4g"
# a fixed starting heap: peak RSS then moves with real memory demand, not
# with how far the collector happened to grow the heap
HEAP_MIN = "2g"
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def tail(samples):
    """The highest percentile with at least 10 samples beyond it.

    Nearest-rank: with n sorted samples, the value at rank n-10 has exactly
    10 samples above it, and it is the p-th percentile for p = (n-10)/n.
    Returns (value, percentile, n); None when n < 11 (no sample has ten
    beyond it)."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return s[n - 11], 100.0 * (n - 10) / n, n


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def check_digests(workload, reported, expected):
    """Names of operations whose digest is missing, errored or differs."""
    want = expected.get(workload, {})
    bad = []
    for op, got in reported.items():
        if got == "error" or want.get(op) != got:
            bad.append(op)
    bad.extend(op for op in want if op not in reported)
    return sorted(set(bad))


def summarize(raw, expected):
    """From the JVM's raw record of one run: the end-to-end metrics, the
    printed-only values, and the attempt and failure counts."""
    ops = raw["ops"]
    workload = raw["workload"]
    samples = [x for op in ops for x in op["samples"]]
    attempted = sum(op["attempted"] for op in ops)
    bad_digests = check_digests(
        workload, {op["name"]: op["digest"] for op in ops}, expected)
    # a wrong output counts as one failed attempt; an operation that threw
    # during warm-up already carries the digest "error" and is counted
    # there, not again from the failure log
    thrown = [f for f in raw["failures"] if "(warm-up)" not in f]
    failed = len(thrown) + len(bad_digests)
    e2e = {
        "setup_s": raw["setup_s"],
        "total_s": statistics.median(raw["pass_s"]) if raw["pass_s"] else None,
        "query_geomean_s": geomean([statistics.median(op["samples"])
                                    for op in ops if op["samples"]])
        if all(op["samples"] for op in ops) else None,
        "query_p50_s": statistics.median(samples) if samples else None,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    t = tail(samples)
    e2e["query_tail_s"] = t[0] if t else None
    extra = {
        "query_tail_percentile": round(t[1], 1) if t else None,
        "samples": len(samples),
        "passes": len(raw["pass_s"]),
        "error_rate": failed / attempted,
        "bad_digests": bad_digests,
    }
    ing = raw.get("ingest")
    if ing:
        extra["csv_rows_per_s"] = (ing["csv_rows"] / statistics.median(ing["read_s"])
                                   if ing["read_s"] else None)
        extra["batch_p50_s"] = (statistics.median(ing["batch_s"])
                                if ing["batch_s"] else None)
    return e2e, extra, attempted, failed


# --------------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in [ROOT / "project", HERE / "project"]:
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in [ROOT / "src" / "main", HERE / "src" / "main"]:
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")
                       + " -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: no engine sources next to perfbench/ "
                         "(run from a full checkout of the repository)")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine + harness with sbt (first run in this checkout)")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "export perfbench/Runtime/fullClasspath"],
                      cwd=HERE, env=sbt_env(), stdout=out, timeout=850)
    text = (BUILD / "build.log").read_text()
    cps = [l for l in text.splitlines() if l.startswith("/") and "perfbench" in l]
    if r != 0 or not cps:
        sys.stderr.write(text[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {r})")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


def run_group(cmd, cwd, env, stdout, timeout, stderr=subprocess.STDOUT):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ----------------------------------------------------------------------- run

def jvm_command(cp, nproc, work):
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xms{HEAP_MIN}", f"-Xmx{HEAP}", f"-XX:ParallelGCThreads={nproc}", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-cp", cp, "perfbench.Main"])


def run_jvm(cp, args, trace_file):
    nproc = os.cpu_count()
    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = jvm_command(cp, nproc, work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(DATA), "--work", str(work / "run"),
        "--t0", str(int(time.time() * 1000))]
    if trace_file:
        cmd += ["--trace-file", str(trace_file)]
    logs = BUILD / "logs"
    logs.mkdir(exist_ok=True)
    log_path = logs / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    try:
        with open(work / "stdout.txt", "w") as out, open(log_path, "w") as err:
            r = run_group(cmd, cwd=ROOT, env=env, stdout=out, stderr=err,
                          timeout=RUN_TIMEOUT_S)
        lines = (work / "stdout.txt").read_text().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec = [l for l in lines if l.startswith("PERFBENCH ")]
    if r != 0 or not rec:
        sys.stderr.write(log_path.read_text()[-4000:])
        raise SystemExit(f"perfbench: JVM run failed (exit {r}); log in {log_path}")
    return json.loads(rec[-1][len("PERFBENCH "):]), nproc


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--raw-out", help="also write the JVM's raw record here")
    args = ap.parse_args(argv)

    knobs = {k: os.environ[k] for k in REFUSED_KNOBS if k in os.environ}
    if knobs:
        raise SystemExit(f"perfbench: refusing to run with engine knobs set {knobs}: "
                         "a knobbed run measures a different program")
    if not DATA.is_dir():
        raise SystemExit(f"perfbench: input tables missing ({DATA})")
    cp = build()
    trace_file = (BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
                  if args.trace else None)
    raw, nproc = run_jvm(cp, args, trace_file)
    if args.raw_out:
        Path(args.raw_out).write_text(json.dumps(raw) + "\n")
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
    e2e, extra, attempted, failed = summarize(raw, expected)

    print(f"workload {args.workload}  seed {args.seed}  nproc {nproc}  "
          f"passes {extra['passes']}  samples {extra['samples']}  trace {args.trace}")
    print(f"config {json.dumps(raw['config'], sort_keys=True)}")
    for f in raw["failures"]:
        print(f"FAILED {f}")
    for op in extra["bad_digests"]:
        print(f"WRONG OUTPUT {op}")
    source = raw["layers"] if args.trace else e2e
    metrics = {m["name"]: {"value": source.get(m["name"]), "unit": m["unit"]}
               for m in SPEC["per_layer" if args.trace else "end_to_end"]}
    for name, m in metrics.items():
        print(f"  {name:34s} {m['value']!s:>24} {m['unit']}")
    if not args.trace:  # printed, not bounded: see perfbench/README.md
        print(f"  {'query_p50_s':34s} {e2e['query_p50_s']!s:>24} s")
        print(f"  {'query_tail_s':34s} {e2e['query_tail_s']!s:>24} s"
              f"  (p{extra['query_tail_percentile']}, n={extra['samples']})")
        print(f"  {'error_rate':34s} {extra['error_rate']!s:>24} ratio")
        for k, unit in [("csv_rows_per_s", "rows/s"), ("batch_p50_s", "s")]:
            if k in extra:
                print(f"  {k:34s} {extra[k]!s:>24} {unit}")
    if trace_file:
        print(f"trace {trace_file.relative_to(ROOT)}")

    missing = [k for k, m in metrics.items() if m["value"] is None]
    correct = failed == 0 and not missing
    if missing:
        print(f"NO VALUE for {missing}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: m for k, m in metrics.items() if m["value"] is not None}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
