#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/sweep.py --workload big-tail --seeds 1-10 --out DIR

Each run's standard output is kept as DIR/<workload>/seed-<n>.out (its
last line is the result JSON). The summary gives, per metric, the median,
the quartiles and the spread (quartile distance over the median) next to
the metric's bound from BENCHMARK.json, and checks that runs of one seed
report identical exact counts. DIR is then one result set for
perfbench/compare.py.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from results import load_set, spread  # noqa: E402


def seeds_of(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wdir = os.path.join(args.out, args.workload)
    os.makedirs(wdir, exist_ok=True)
    for seed in seeds_of(args.seeds):
        t0 = time.time()
        tag = f"seed-{seed}" + ("-trace" if args.trace else "")
        with open(os.path.join(wdir, tag + ".out"), "w") as out, \
                open(os.path.join(wdir, tag + ".err"), "w") as err:
            rc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", args.workload, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, stdout=out, stderr=err, check=False).returncode
        print(f"{args.workload} seed {seed}: exit {rc}, "
              f"{time.time() - t0:.1f} s", flush=True)
    runs = load_set(args.out).get(args.workload, [])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{len(runs)} runs; correct: "
          f"{sum(r['result']['correct'] for r in runs)}")
    names = sorted({k for r in runs for k in r["result"]["metrics"]})
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs
                if name in r["result"]["metrics"]]
        med, q1, q3, sp = spread(vals)
        b = bounds.get(name)
        mark = "" if b is None else (
            f" bound {b}" + ("  OK" if sp < b / 3 else
                             "  within bound" if sp <= b else "  TOO WIDE"))
        print(f"  {name:28s} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
              f"spread {sp:.3f}{mark}")
    by_seed: dict[int, set] = {}
    for r in runs:
        by_seed.setdefault(r["seed"], set()).add(
            json.dumps(r["counts"], sort_keys=True))
    bad = [s for s, c in by_seed.items() if len(c) > 1]
    print("exact counts identical per seed:",
          "yes" if not bad else f"NO for seeds {bad}")
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
