#!/usr/bin/env python3
"""Per-layer profile of every workload, as a whole.

Usage (from the repository root):
  python3 perfbench/layers.py <scale>

Runs each slice of sql-suite and kernel-suite once, and serve-lifecycle
once, traced only, on inputs generated at `scale` (DESIGN.md compares
0.01 and 0.1). Sums each suite's per-layer figures over its slices,
keeps serve's figures and per-kind medians, and stores them under the
scale in perfbench/layers.json. Prints the shares of the measured wall
that the workloads' reasons in DESIGN.md rest on. Run it on an idle
machine; it takes 10-15 minutes on 4 cores.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

OUT = os.path.join(HERE, "layers.json")
SUMMED = ["exec.task_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_mb",
          "shuffle.read_mb", "sources.input_mb", "catalyst.analysis_s",
          "catalyst.optimization_s", "catalyst.planning_s",
          "codegen.compile_s", "spark.jobs", "spark.tasks",
          "spark.driver_idle_s", "operators.build_s"]
SERVE = ["insert_p50_ms", "search_after_insert_p50_ms",
         "search_warm_p50_ms", "delete_p50_ms",
         "search_after_delete_p50_ms", "fold_p50_ms", "serve.full_ratio",
         "serve.materialize_s", "serve.mat_commit_s", "serve.walk_hops_s"]


def profile(cp, state, workload, seeds, cores, scale):
    """Per-layer figures of `workload` summed over one traced run per
    seed, with the measured window's wall as `window_s`."""
    tot = dict.fromkeys(["window_s"] + SUMMED, 0.0)
    res = None
    for seed in seeds:
        args = argparse.Namespace(workload=workload, seed=seed, seconds=10)
        data = run.inputs(state, seed, scale)
        res, _ = run.run_jvm(cp, state, args, data, True, cores,
                             run.RUN_BUDGET_S)
        m, d = res["metrics"], res["detail"]
        tot["window_s"] += m["wall_s"] * float(d["passes"]) \
            if workload == "serve-lifecycle" else float(d["slice_wall_s"])
        for k in SUMMED:
            tot[k] += m[k]
        print(f"  {workload} seed {seed}: {tot['window_s']:.1f} s so far",
              flush=True)
    if workload == "serve-lifecycle":
        tot.update({k: float(res["detail"][k]) for k in SERVE})
    w = tot["window_s"]
    tot["task_share"] = tot["exec.task_s"] / (w * cores)
    tot["catalyst_codegen_share"] = sum(
        tot[k] for k in ["catalyst.analysis_s", "catalyst.optimization_s",
                         "catalyst.planning_s", "codegen.compile_s"]) / w
    tot["build_share"] = tot["operators.build_s"] / w
    tot["driver_idle_share"] = tot["spark.driver_idle_s"] / w
    tot["shuffle_mb_per_s"] = tot["shuffle.write_mb"] / w
    return {k: round(v, 4) for k, v in tot.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("scale", type=float)
    a = ap.parse_args()
    with open(os.path.join(HERE, "suites.json")) as f:
        suites = json.load(f)
    state = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp = run.build(os.path.dirname(HERE), state)
    cores = os.cpu_count() or 1
    out = {"cores": cores}
    for w in ["sql-suite", "kernel-suite"]:
        k = suites[w]["slices"]
        out[w] = profile(cp, state, w, [200 * k + j for j in range(k)],
                         cores, a.scale)
    out["serve-lifecycle"] = profile(cp, state, "serve-lifecycle", [200],
                                     cores, a.scale)
    doc = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            doc = json.load(f)
    doc[f"scale {a.scale}"] = out
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    keys = ["window_s", "task_share", "catalyst_codegen_share",
            "build_share", "driver_idle_share", "shuffle.write_mb",
            "shuffle_mb_per_s"]
    print("| workload | " + " | ".join(keys) + " |")
    for w in ["sql-suite", "kernel-suite", "serve-lifecycle"]:
        print(f"| {w} | " + " | ".join(f"{out[w][k]:.3g}" for k in keys)
              + " |")


if __name__ == "__main__":
    main()
