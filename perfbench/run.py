#!/usr/bin/env python3
"""Benchmark of the engine in the enclosing repository.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

Workloads: sql-suite, kernel-suite, serve-lifecycle (see DESIGN.md).

The first run builds the engine and the harness from source with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed. Each run starts one JVM
at local[N], N = the number of processors, with one client thread in a
closed loop. With --trace 1 the same seed is run twice, untraced and
traced, and the per-layer metrics come from the traced run.

The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
All state (build, inputs, outputs) stays under .bench_build/ in the
current directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gendata  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["sql-suite", "kernel-suite", "serve-lifecycle"]
# Input scale of every workload; DESIGN.md (Inputs) says why not 0.1.
SCALE = 0.01
HEAP = "4g"
# A run must end within 180 s once built; both JVMs of a traced run
# share this budget.
RUN_BUDGET_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect",
             "java.io", "java.net", "java.nio", "java.util",
             "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action",
             "sun.util.calendar"]

def sources_stamp(repo):
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(repo, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, repo).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(repo, state):
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    stamp_file = os.path.join(state, "build.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    stamp = sources_stamp(repo)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(state, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.exit(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def inputs(state, seed, scale=SCALE):
    """The seed's input tables at `scale`, generated once per seed,
    scale and generator."""
    with open(gendata.__file__, "rb") as f:
        gen = hashlib.sha256(f.read() + str(scale).encode()).hexdigest()
    d = os.path.join(state, "data", f"{gen[:12]}-seed-{seed}")
    if not os.path.exists(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gendata.generate(tmp, seed, scale)
        os.replace(tmp, d)
    return d


def run_jvm(cp, state, args, data, trace, cores, timeout):
    out = os.path.join(state, "runs",
                       f"{args.workload}-{args.seed}-{int(trace)}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={out}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(int(trace)),
            "--data", data, "--out", out, "--cores", str(cores),
            "--suites", os.path.join(HERE, "suites.json")]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"benchmark JVM exceeded the run's time budget; "
                     f"see {out}/jvm.log")
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        sys.exit(f"benchmark JVM failed (rc={rc}); see {out}/jvm.log")
    with open(res) as f:
        return json.load(f), out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    repo = os.path.dirname(HERE)
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        spec = json.load(f)
    state = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cores = os.cpu_count() or 1
    cp = build(repo, state)
    deadline = time.monotonic() + RUN_BUDGET_S
    data = inputs(state, args.seed)

    untraced, out = run_jvm(cp, state, args, data, False, cores,
                            deadline - time.monotonic())
    res = untraced
    if args.trace:
        res, out = run_jvm(cp, state, args, data, True, cores,
                           deadline - time.monotonic())
        res["metrics"]["trace.overhead_s"] = (
            res["metrics"]["wall_s"] - untraced["metrics"]["wall_s"])

    failures = [(f["op"], f["reason"]) for f in res["failures"]]
    attempted = res["attempted"]
    unchecked = {}
    if args.workload == "serve-lifecycle":
        failed = len(failures)
    else:
        bad, unchecked = oracle.check(data, os.path.join(out, "results"))
        failures += sorted(bad.items())
        failed = len({op for op, _ in failures})
    failed = min(attempted, failed)

    env = res["env"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"on {env['master']} (nproc {env['nproc']}, -Xmx "
          f"{env['xmx_mb']} MB, Spark {env['spark']}, JDK {env['jdk']}, "
          f"load {env['load_before']:.2f} -> {env['load_after']:.2f})")
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        v = res["metrics"][m["name"]]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  {m['name']} = {v:.6g} {m['unit']}")
    for k, v in res["metrics"].items():
        if k not in metrics:
            print(f"  {k} = {v:.6g} (not gated here)")
    for k, v in res["detail"].items():
        if k not in ("queries", "query_ms"):
            print(f"  {k}: {v}")
    print(f"  failed_frac = {failed}/{attempted} = "
          f"{failed / attempted:.4f}")
    for op, reason in failures:
        print(f"  FAILED {op}: {reason}")
    for op, reason in unchecked.items():
        print(f"  UNCHECKED {op}: {reason}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
