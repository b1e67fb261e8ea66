#!/usr/bin/env python3
"""Re-measures the reference costs in suites.json.

Usage (from the repository root):
  python3 perfbench/calibrate.py <workload> [repeats]

Runs every slice of the suite `repeats` times (default 3), each time in
a fresh JVM on another seed's inputs, and sets each query's reference
cost to the median of its cold latencies. Slice membership is kept.
Run it on an idle machine after adding a query to a slice.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SUITES = os.path.join(HERE, "suites.json")


def write(doc):
    """suites.json with one query per line."""
    lines = ["{"]
    for w in ("sql-suite", "kernel-suite"):
        qs = doc[w]["queries"]
        lines.append(f' "{w}": {{"slices": {doc[w]["slices"]}, '
                     '"queries": {')
        lines += [f'  "{n}": [{j}, {c}]' + ("," if i < len(qs) - 1 else "")
                  for i, (n, (j, c)) in enumerate(sorted(qs.items()))]
        lines.append(" }},")
    ex = sorted(doc["excluded"].items())
    lines.append(' "excluded": {')
    lines += [f"  {json.dumps(n)}: {json.dumps(r)}" +
              ("," if i < len(ex) - 1 else "") for i, (n, r) in enumerate(ex)]
    lines += [" }", "}"]
    with open(SUITES, "w") as f:
        f.write("\n".join(lines) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=["sql-suite", "kernel-suite"])
    ap.add_argument("repeats", type=int, nargs="?", default=3)
    a = ap.parse_args()
    with open(SUITES) as f:
        doc = json.load(f)
    k = doc[a.workload]["slices"]
    state = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp = run.build(os.path.dirname(HERE), state)
    lat = {}
    for r in range(a.repeats):
        for j in range(k):
            seed = k * (100 + r) + j  # seed mod k == j
            args = argparse.Namespace(workload=a.workload, seed=seed,
                                      seconds=0)
            res, _ = run.run_jvm(cp, state, args, run.inputs(state, seed),
                                 False, os.cpu_count() or 1,
                                 run.RUN_BUDGET_S)
            for n, ms in res["detail"]["query_ms"].items():
                lat.setdefault(n, []).append(ms)
            print(f"repeat {r} slice {j}: {res['detail']['slice_wall_s']:.2f} s",
                  flush=True)
    qs = doc[a.workload]["queries"]
    for n in qs:
        qs[n][1] = round(statistics.median(lat[n]))
    write(doc)


if __name__ == "__main__":
    main()
