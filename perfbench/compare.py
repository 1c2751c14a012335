#!/usr/bin/env python3
"""Compare two result sets of the benchmark, workload by workload.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Both directories are written by perfbench/sweep.py. For every workload and
end-to-end metric the verdict is one of:

- better: the change wins at least 9 of 10 seed-matched pairs (ties count
  for neither) and the medians differ by more than the parent's quartile
  distance;
- worse: the change's median is worse than the parent's by more than the
  metric's bound from BENCHMARK.json;
- unresolved: either side's spread (quartile distance over median) is
  wider than the bound, unless every run of the change reads better than
  every run of the parent (then better);
- unchanged: otherwise.

Exits 1 when any verdict is worse.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from results import load_set, spread  # noqa: E402


def verdict(a: dict[int, float], b: dict[int, float], better: str,
            bound: float) -> tuple[str, dict]:
    sign = 1.0 if better == "higher" else -1.0
    va, vb = list(a.values()), list(b.values())
    med_a, q1_a, q3_a, sp_a = spread(va)
    med_b, _q1, _q3, sp_b = spread(vb)
    pairs = sorted(set(a) & set(b))
    wins = sum(1 for s in pairs if sign * (b[s] - a[s]) > 0)
    gain = sign * (med_b - med_a)
    info = {"parent_median": med_a, "change_median": med_b,
            "parent_spread": sp_a, "change_spread": sp_b,
            "pairs": len(pairs), "change_wins": wins,
            "relative": (med_b - med_a) / med_a if med_a else None}
    all_better = min(sign * x for x in vb) > max(sign * x for x in va)
    if pairs and wins >= 0.9 * len(pairs) and gain > (q3_a - q1_a):
        return "better", info
    if all_better:
        return "better", info
    if -gain > bound * abs(med_a):
        return "worse", info
    if sp_a > bound or sp_b > bound:
        return "unresolved", info
    return "unchanged", info


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load_set(sys.argv[1]), load_set(sys.argv[2])
    worse = False
    for w in sorted(set(parent) & set(change)):
        print(f"{w}: {len(parent[w])} parent runs, {len(change[w])} "
              "change runs")
        for m in bench["end_to_end"]:
            a = {r["seed"]: r["result"]["metrics"][m["name"]]["value"]
                 for r in parent[w] if m["name"] in r["result"]["metrics"]}
            b = {r["seed"]: r["result"]["metrics"][m["name"]]["value"]
                 for r in change[w] if m["name"] in r["result"]["metrics"]}
            if not a or not b:
                print(f"  {m['name']:26s} missing")
                continue
            v, info = verdict(a, b, m["better"], m["bound"])
            worse |= v == "worse"
            rel = info["relative"]
            print(f"  {m['name']:26s} {v:10s}"
                  f" parent {info['parent_median']:.6g}"
                  f" change {info['change_median']:.6g}"
                  f" ({rel:+.1%}) wins {info['change_wins']}/{info['pairs']}"
                  f" spreads {info['parent_spread']:.3f}/"
                  f"{info['change_spread']:.3f} bound {m['bound']}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
