"""Reading result sets written by perfbench/sweep.py."""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

REPORT_KEY = "perfbench_report"


def parse_run(path: str) -> dict | None:
    """One run's stdout: the report line and the final result line."""
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    if not lines:
        return None
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    report = {}
    for ln in lines[:-1]:
        if ln.startswith('{"' + REPORT_KEY):
            report = json.loads(ln)[REPORT_KEY]
    m = re.search(r"seed-(\d+)", os.path.basename(path))
    return {"seed": int(m.group(1)) if m else None, "result": result,
            "report": report, "counts": report.get("counts", {}),
            "path": path}


def load_set(root: str) -> dict[str, list[dict]]:
    """{workload: [run, ...]} for every untraced run under root."""
    out: dict[str, list[dict]] = {}
    for wdir in sorted(glob.glob(os.path.join(root, "*"))):
        if not os.path.isdir(wdir):
            continue
        for p in sorted(glob.glob(os.path.join(wdir, "seed-*.out"))):
            if p.endswith("-trace.out"):
                continue
            run = parse_run(p)
            if run is not None:
                out.setdefault(os.path.basename(wdir), []).append(run)
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) with statistics.quantiles."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")
