#!/usr/bin/env python3
"""Set perfbench/expected/digests.json from outputs DuckDB agrees with.

    python3 perfbench/record_digests.py <scratch dir>

Run from the repository root, after a change that legitimately changes a
workload's output (or its operation list). Steps:

1. `graft.Verify` dumps every workload query's result at sf0.1 as parquet
   into <scratch dir>/verify, with its DuckDB oracle SQL.
2. `perfbench.RecordDigests` digests each query live, checks that digest
   against the dumped result's, digests the ingest steps (seed 1), and
   adds the ingest results and their DuckDB SQL to the dump.
3. `tools/compare_oracle.py` compares every dumped result with DuckDB.
   Only if it reports no mismatch are the digests written.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def java(cp, main, args, log):
    cmd = run.jvm_command(cp, 4, log.parent)[:-1] + [main] + args
    with open(log, "w") as out:
        r = run.run_group(cmd, cwd=run.ROOT, env=None, stdout=out, timeout=3600)
    if r != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"{main} failed (exit {r})")


def main(argv):
    if len(argv) != 1:
        print(__doc__)
        return 2
    scratch = Path(argv[0]).resolve()
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    verify = scratch / "verify"
    cp = run.build()
    names = subprocess.run(
        run.jvm_command(cp, 4, scratch)[:-1] + ["perfbench.RecordDigests", "--queries"],
        stdout=subprocess.PIPE, text=True, check=True).stdout.split()
    java(cp, "graft.Verify", [str(run.DATA), str(verify)] + names,
         scratch / "verify.log")
    out = scratch / "digests.json"
    java(cp, "perfbench.RecordDigests", [str(run.DATA), str(scratch / "work"), str(verify),
                                         str(out)], scratch / "record.log")
    cmp = subprocess.run([sys.executable, str(run.ROOT / "tools" / "compare_oracle.py"),
                          str(run.DATA), str(verify)], stdout=subprocess.PIPE, text=True)
    print(cmp.stdout)
    last = cmp.stdout.strip().splitlines()[-1]
    n_ok, n_bad = int(last.split()[0]), int(last.split()[2])
    expected_n = len(json.loads((verify / "oracle_sql.json").read_text()))
    if cmp.returncode != 0 or n_bad != 0 or n_ok != expected_n:
        raise SystemExit(f"oracle compare did not agree ({last}); digests NOT written")
    run.EXPECTED.parent.mkdir(exist_ok=True)
    run.EXPECTED.write_text(json.dumps(json.loads(out.read_text()), indent=1, sort_keys=True)
                            + "\n")
    print(f"wrote {run.EXPECTED.relative_to(run.ROOT)} ({last})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
