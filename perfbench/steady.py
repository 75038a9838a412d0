#!/usr/bin/env python3
"""Steadiness mode: repeat the benchmark and print, per workload, each
end-to-end metric's median, quartiles and spread (interquartile distance
as a share of the median) next to the bound BENCHMARK.json sets for it.

    python3 perfbench/steady.py --runs 10 --seed-base 100
    python3 perfbench/steady.py --runs 5 --workloads curate

Each run is a separate ``run.py`` process with its own seed
(seed-base, seed-base+1, ...), started from the checkout root, for
BENCHMARK.json's ``run_seconds``. This is how the bounds were set and how
they are shown to hold.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in args.workloads.split(","):
        results = [run_once(w, args.seed_base + i, bench["run_seconds"]) for i in range(args.runs)]
        shares = {r["failed"] / r["attempted"] for r in results}
        correct = all(r["correct"] for r in results)
        ok &= correct and len(shares) == 1
        print(f"\n{w}: {args.runs} runs, seeds {args.seed_base}..{args.seed_base + args.runs - 1},"
              f" correct={correct}, failed share {sorted(shares)}")
        print(f"  {'metric':<12} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            q1, q2, q3 = quartiles(vals)
            spread = (q3 - q1) / q2
            flag = "" if name == "setup_s" or spread < bound / 3 else "  WIDE"
            print(f"  {name:<12} {q1:>12.4f} {q2:>12.4f} {q3:>12.4f} {spread:>8.4f}"
                  f" {bound:>6}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
