#!/usr/bin/env python3
"""The repo's benchmark: one command per (workload, seed, trace) run.

    python3 perfbench/run.py --workload declared_suite --seed 1 --seconds 20 --trace 0

Run from the repo root. It builds what it needs into `.bench_build/`
(see build.py), runs the workload in one JVM through the program's public
entry points (perfbench/src/Harness.scala), checks every output against
DuckDB, prints a human-readable report, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). The full result, with the host and provenance block, goes
to `.bench_build/results/`; a traced run also leaves its span file there.
A failed output check makes the command exit 1.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analysis  # noqa: E402
import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("declared_suite", "plot_batch", "dedup_pipeline")
JVM_BUDGET_S = 170
# build.sbt's javaOptions: the JDK 17 module opens Spark needs outside
# spark-submit, plus its two system properties.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_size():
    """Tier-1's SPARK_DRIVER_MEM formula: half of MemTotal in GiB,
    clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def provenance(root, seed):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {"git_commit": commit,
            "source_digest": build.digest(build.program_sources(root))[:16],
            "seed": seed}


def run_jvm(cp, args, run_dir, heap):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(cp), "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        return subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                              timeout=JVM_BUDGET_S).returncode


def check_outputs(doc, ref):
    """Marks failed ops in place; returns the list of failure reasons."""
    reasons = []
    passes = {p["index"]: p for p in doc["passes"]}
    raster_want = ref.raster_md5(doc["inputs"]) if doc["workload"] == "plot_batch" else None
    for op in doc["ops"]:
        why = op["error"]
        checks = passes[op["pass"]]["checks"]
        if not why and op["name"].startswith("memo:"):
            if checks.get("memo_stable") != "true":
                why = "memo table differs from the first pass"
        elif not why and raster_want is not None:
            if checks.get("png_stable") != "true":
                why = "PNG bytes differ from the first batch"
            elif checks.get("raster_md5") != raster_want:
                why = "raster parquet differs from the DuckDB count"
        elif not why:
            want = ref.query_md5(op["name"])
            if want is None:
                why = "no oracle"
            elif op["md5"] != want:
                why = f"md5 {op['md5']} != oracle {want}"
        op["failed"] = bool(why)
        if why:
            reasons.append(f"pass {op['pass']} {op['name']}: {why}")
    return reasons


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    bench = os.path.join(root, ".bench_build")
    try:
        cp, data, data_digest = build.ensure(root, bench)
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(bench, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "run.json")
    if a.workload == "plot_batch":
        datagen.write_vis(os.path.join(run_dir, "work", "vis.parquet"), a.seed)
    heap = heap_size()
    t0 = time.time()
    try:
        rc = run_jvm(cp, ["run", "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--data", data, "--work", os.path.join(run_dir, "work"),
                          "--out", out], run_dir, heap)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        print(f"[perfbench] harness failed ({rc}) after {time.time() - t0:.0f}s:\n{tail}",
              file=sys.stderr)
        return 3
    with open(out) as f:
        doc = json.load(f)
    reasons = check_outputs(doc, oracle.Oracle(root, bench, data, data_digest))
    attempted, failed = len(doc["ops"]), sum(op["failed"] for op in doc["ops"])
    host = dict(doc["host"], heap_flag=heap, **provenance(root, a.seed))
    e2e, extra = analysis.end_to_end(doc)
    extra["failed_frac"] = failed / attempted
    if a.trace:
        metrics, layer_extra = analysis.per_layer(doc)
        units = dict(analysis.PER_LAYER)
        extra.update(layer_extra)
    else:
        metrics, units = e2e, dict(analysis.END_TO_END)
    results = os.path.join(bench, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"workload": a.workload, "host": host, "end_to_end": e2e, "extra": extra,
                   "metrics": metrics, "failures": reasons}, f, indent=1)
    if a.trace:
        shutil.move(out, stem + "-spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"[host] {json.dumps(host, sort_keys=True)}")
    print(f"[{a.workload}] trace={a.trace} warm_passes={extra['passes_measured']} "
          f"warm_ops={extra['ops_measured']} attempted={attempted} failed={failed}")
    for k, v in e2e.items():
        print(f"  {k:<34} {fmt(v):>14} {dict(analysis.END_TO_END)[k]}")
    print(f"  {'failed_frac':<34} {fmt(extra['failed_frac']):>14} ratio")
    print("  not declared in BENCHMARK.json (warm passes are untraced passes after the first):")
    tail = [k for k in extra if k.startswith("op_p") and k != "op_p50_s"]
    for k in ["pass_s", "op_p50_s"] + tail + ["cpu_s", "first_pass_cpu_s", "first_setup_s",
                                             "jvm_to_ready_s"]:
        print(f"  {k:<34} {fmt(extra[k]):>14} s")
    if not tail:
        print(f"  {'op tail percentile':<34} {'none':>14}   (n={extra['ops_measured']} warm ops < 40)")
    print(f"  {'steal_frac':<34} {fmt(extra['steal_frac']):>14} ratio (host CPU given to other guests)")
    if a.trace:
        for k, u in analysis.PER_LAYER:
            print(f"  {k:<34} {fmt(metrics[k]):>14} {u}")
        for layer, s in sorted(extra["job_s_by_layer"].items()):
            print(f"  jobs in layer {layer:<20} {fmt(s):>14} s per pass")
        print(f"  span file: {os.path.relpath(stem + '-spans.json', root)}")
    for r in reasons[:20]:
        print(f"  FAILED {r}")
    print(json.dumps({"correct": not reasons, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics}}))
    return 0 if not reasons else 1


if __name__ == "__main__":
    sys.exit(main())
