#!/usr/bin/env python3
"""Self-test of the benchmark (run from the root of a checkout):

1. determinism: each workload runs twice with the same seed; the output hash,
   mcc, the adapt.* counts and mb.batches must be identical;
2. the checker can fail: a run with --inject 1 (one output row dropped, one
   altered) must exit 1 with ok_ratio below 1.

    python3 perfbench/selftest.py [--seconds 8]
"""
import argparse
import json
import subprocess
import sys

SEED = 3
EXACT = ("hash", "mcc", "adapt_counts", "mb.batches", "instructions")


def run(workload, seconds, inject=0):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(SEED), "--seconds", str(seconds), "--trace", "0",
                        "--inject", str(inject)], capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        sys.exit(f"{workload}: no result (exit {p.returncode})\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-2])["record"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=8)
    args = ap.parse_args()
    failures = []
    for w in ("many_keys", "drift_adapt"):
        runs = [run(w, args.seconds) for _ in range(2)]
        for code, _, res in runs:
            if code != 0 or not res["correct"] or res["metrics"]["ok_ratio"]["value"] != 1.0:
                failures.append(f"{w}: a clean run was not correct")
        for k in EXACT:
            a, b = runs[0][1].get(k), runs[1][1].get(k)
            print(f"{w:12s} {k:14s} {json.dumps(a)[:60]}")
            if a != b:
                failures.append(f"{w}: {k} differs between identical runs: {a} vs {b}")
        code, _, res = run(w, args.seconds, inject=1)
        ratio = res["metrics"]["ok_ratio"]["value"]
        print(f"{w:12s} injected fault: exit {code}, ok_ratio {ratio}, failed {res['failed']}")
        if code != 1 or res["correct"] or ratio >= 1.0:
            failures.append(f"{w}: the injected fault was not detected")
    print("\n".join(failures) or "selftest passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
