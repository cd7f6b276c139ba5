"""Check that a workload is a pure function of its seed.

    python3 perfbench/determinism.py --workload read_mix --seed 5 --requests 10

Serves the first ``--requests`` requests three times with tracing on:
twice with ``--seed`` and once with ``--seed + 1``.  The two runs of one
seed must agree on the request list, on every result checksum and on
every request's Spark job count; the other seed must give a different
request list.  Exits non-zero on any difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile


def serve(workload: str, seed: int, requests: int, dump: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--requests", str(requests), "--trace", "1", "--dump", dump],
        capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise SystemExit(f"run failed:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(dump) as f:
        return {"result": result, **json.load(f)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--requests", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(".bench_out", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=".bench_out") as tmp:
        a, b, c = (serve(args.workload, seed, args.requests, os.path.join(tmp, f"{i}.json"))
                   for i, seed in enumerate((args.seed, args.seed, args.seed + 1)))
    checks = {
        "same seed, same requests": a["requests"] == b["requests"],
        "same seed, same result checksums": a["checksums"] == b["checksums"],
        "same seed, same jobs per request": a["jobs"] == b["jobs"],
        "same seed, same spark.jobs_per_op": (
            a["result"]["metrics"]["spark.jobs_per_op"] == b["result"]["metrics"]["spark.jobs_per_op"]),
        "both runs correct": a["result"]["correct"] and b["result"]["correct"],
        "other seed, other requests": a["requests"] != c["requests"],
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    print(f"{args.workload}: jobs per request {a['jobs']}")
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
