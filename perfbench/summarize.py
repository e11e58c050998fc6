#!/usr/bin/env python3
"""Summarise benchmark runs into medians and quartiles per workload.

    python3 perfbench/summarize.py .perfbench_cache/runs/*/result.json

Each run writes `result.json` next to its sinks; this prints one JSON
object {workload: {metric: {n, median, q1, q3, spread, unit}}} (traced
runs under "<workload>/trace"), where spread is (q3 - q1) / median as
`statistics.quantiles(values, n=4)` gives the quartiles, and under
"reported" the figures untraced runs report but do not declare (wall-clock
throughput, the tiny table's fixed pass cost, the marginal cost per
turn). For traced runs
it adds "layers": each ladder layer's self times and marginal CPU per
turn, pooled over the repetitions of all the runs, with a layer marked
unresolved when its median lies within its quartile spread, and how often
each layer was among the top two. The stored baseline was made this way.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import Counter, defaultdict


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def pooled(values: list[float]) -> dict:
    q1, med, q3 = quartiles(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "resolved": q1 > 0 and med > q3 - q1}


def summarize(paths: list[str]) -> dict:
    values: dict = defaultdict(lambda: defaultdict(list))
    units: dict = {}
    env: dict = {}
    reported: dict = defaultdict(lambda: defaultdict(list))
    reps: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    tops: dict = defaultdict(lambda: defaultdict(Counter))
    for path in paths:
        with open(path) as f:
            run = json.load(f)
        workload = run["workload"] + ("/trace" if run["trace"] else "")
        env.setdefault(workload, run["env"])
        for name, m in run["metrics"].items():
            values[workload][name].append(m["value"])
            units[name] = m["unit"]
        for name, v in (run.get("reported") or {}).items():
            if isinstance(v, (int, float)):
                reported[workload][name].append(v)
        for layer, got in (run.get("layers") or {}).items():
            if layer == "top_two":
                for what, top in got.items():
                    tops[workload][what].update(top)
                continue
            for key in ("wall_s", "marginal_us"):
                reps[workload][layer][key].extend(got[key])
    out: dict = {}
    for workload, metrics in sorted(values.items()):
        out[workload] = {"env": env[workload]}
        for name, vals in metrics.items():
            q1, med, q3 = quartiles(vals)
            out[workload][name] = {
                "n": len(vals), "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else None,
                "unit": units[name],
            }
        if workload in reported:
            out[workload]["reported"] = {
                name: dict(zip(("q1", "median", "q3"), quartiles(v)), n=len(v))
                for name, v in reported[workload].items()}
        if workload in reps:
            out[workload]["layers"] = {
                layer: {key: pooled(v) for key, v in got.items()}
                for layer, got in reps[workload].items()}
            out[workload]["layers"]["top_two_counts"] = {
                what: dict(c) for what, c in tops[workload].items()}
    return out


if __name__ == "__main__":
    json.dump(summarize(sys.argv[1:]), sys.stdout, indent=1)
    print()
