"""Pure arithmetic over one run document written by `perfbench.Harness`.

No I/O and no Spark here, so every rule is unit-tested in
`tests/test_analysis.py`: the tail-percentile rule, self time over
overlapping job intervals, call-site -> (site, layer) attribution, and
the end-to-end and per-layer metric tables.

Times in the run document are epoch nanoseconds for ops and passes, and
epoch milliseconds for listener spans (jobs, stages, Catalyst phases).
"""
import math
import re
import statistics

NS = 1e9
MS_TO_NS = 1_000_000

# The end-to-end metrics, in the order BENCHMARK.json lists them.
END_TO_END = [
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("live_heap_mb", "MB"),
]

# Call sites reported one by one; any other graft file is "other", a job
# launched by the benchmark's own result collect is "result".
SITES = ["Cli", "ShadePlot", "Raster", "Queries", "Tables", "Dedup",
         "CacheDiscipline", "result", "other"]
SITE_FIELDS = [("job_s", "s"), ("task_cpu_s", "s"), ("shuffle_bytes", "bytes")]

PER_LAYER = [
    ("session.start_s", "s"),
    ("tables.open_s", "s"),
    ("tables.memo_build_s", "s"),
    ("tables.memo_jobs", "count"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("codegen.compiles", "count"),
    ("sched.jobs", "count"),
    ("sched.stages", "count"),
    ("sched.tasks", "count"),
    ("sched.first_task_wait_s", "s"),
    ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.deser_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.busy_frac", "ratio"),
    ("exec.input_rows", "count"),
    ("exec.input_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.peak_mem_bytes", "bytes"),
    ("cache.entries", "count"),
    ("cache.mem_bytes", "bytes"),
    ("cache.disk_bytes", "bytes"),
    ("driver.self_s", "s"),
    ("driver.result_rows", "count"),
    ("driver.written_bytes", "bytes"),
] + [(f"site.{s}.{f}", u) for s in SITES for f, u in SITE_FIELDS] + [
    ("trace.overhead_s", "s"),
    ("trace.job_overhang_ms", "ms"),
]

TAIL_CANDIDATES = (99, 95, 90, 75)

_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(([\w$]+)\.scala:\d+\)")


def tail_percentile(n):
    """The highest tail percentile that has at least ten samples beyond
    it, or None when even p75 has fewer (n < 40)."""
    for p in TAIL_CANDIDATES:
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(op_start, op_end, job_intervals):
    """(self, covered): the op's wall time outside / inside the union of
    its jobs' intervals."""
    covered = union_length(job_intervals, op_start, op_end)
    return (op_end - op_start) - covered, covered


# Files whose jobs belong to a layer other than their package's default:
# top-level graft files are query construction, graft.operators/functions/
# plans are execution.
LAYER_BY_FILE = {"Engine": "session", "Tables": "tables", "Cli": "driver",
                 "ShadePlot": "driver", "CacheDiscipline": "cache"}


def call_site(stack):
    """Map a Spark long-form call site to (site, layer).

    The site is the innermost `graft` source file on the stack; the layer
    is the repo module that file belongs to. A stack without a graft frame
    is the benchmark's own result collect, which is driver work."""
    for line in (stack or "").splitlines():
        m = _FRAME.match(line)
        if not m or not m.group(1).startswith("graft."):
            continue
        cls, src = m.group(1), m.group(2)
        nested = cls.count(".") >= 2
        layer = LAYER_BY_FILE.get(src, "exec" if nested else "queries")
        return (src if src in SITES else "other"), layer
    return "result", "driver"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(doc):
    """End-to-end metrics, and the untraced warm passes' numbers that are
    reported beside them."""
    untraced = [p for p in doc["passes"] if not p["traced"]]
    cold = untraced[0]
    warm = untraced[1:]
    ids = {p["index"] for p in warm}
    walls = [(o["end"] - o["start"]) / NS for o in doc["ops"] if o["pass"] in ids]
    out = {
        "setup_s": _median([sum(s.values()) / NS for s in doc["setups"]]),
        "first_pass_s": (cold["end"] - cold["start"]) / NS,
        "live_heap_mb": max(p["heap_bytes"] for p in untraced) / 2**20,
    }
    extra = {"pass_s": _median([(p["end"] - p["start"]) / NS for p in warm]),
             "op_p50_s": _median(walls),
             "cpu_s": _median([p["cpu_ns"] / NS for p in warm]),
             "first_pass_cpu_s": cold["cpu_ns"] / NS,
             "ops_measured": len(walls), "passes_measured": len(warm),
             "first_setup_s": doc["first_setup_ns"] / NS,
             "jvm_to_ready_s": doc["jvm_to_ready_ns"] / NS,
             "steal_frac": _median([p["steal_frac"] for p in doc["passes"]]),
             "pass_walls_s": [(p["end"] - p["start"]) / NS for p in doc["passes"]],
             "pass_cpu_s": [p["cpu_ns"] / NS for p in doc["passes"]],
             "pass_jvm_gc_s": [p["jvm_gc_ms"] / 1e3 for p in doc["passes"]],
             "pass_jit_s": [p["jit_ms"] / 1e3 for p in doc["passes"]]}
    tail = tail_percentile(len(walls))
    if tail is not None:
        extra[f"op_p{tail}_s"] = percentile(walls, tail)
    return out, extra


def per_layer(doc):
    """Per-layer metrics: medians over the traced passes of per-pass sums
    built from the recorded spans. Also returns the mean job seconds per
    pass by layer, for the report."""
    spans = doc["spans"]
    traced = [p for p in doc["passes"] if p["traced"]]
    untraced = [p for p in doc["passes"] if not p["traced"] and not p["cold"]]
    op_pass = {str(o["id"]): o["pass"] for o in doc["ops"]}
    stages = {s["id"]: s for s in spans["stages"]}
    jobs_by_pass, jobs_by_op = {}, {}
    for j in spans["jobs"]:
        if j["op"] in op_pass:
            jobs_by_pass.setdefault(op_pass[j["op"]], []).append(j)
            jobs_by_op.setdefault(j["op"], []).append(j)
    nproc = doc["host"]["nproc"]
    rows, overhang, layer_job_s = [], 0.0, {}
    for p in traced:
        m = dict.fromkeys((k for k, _ in PER_LAYER), 0.0)
        ops = [o for o in doc["ops"] if o["pass"] == p["index"]]
        for o in ops:
            ivs = [(j["submit"] * MS_TO_NS, j["end"] * MS_TO_NS)
                   for j in jobs_by_op.get(str(o["id"]), []) if j["end"]]
            own, _ = self_time(o["start"], o["end"], ivs)
            for a, b in ivs:
                overhang = max(overhang, (o["start"] - a) / MS_TO_NS, (b - o["end"]) / MS_TO_NS)
            m["driver.self_s"] += own / NS
            m["driver.result_rows"] += max(o["rows"], 0)
            m["queries.build_s"] += (o["build_end"] - o["start"]) / NS
            if o["name"].startswith("memo:"):
                m["tables.memo_build_s"] += (o["end"] - o["start"]) / NS
        for j in jobs_by_pass.get(p["index"], []):
            m["sched.jobs"] += 1
            if j["phase"] == "build":
                m["queries.build_jobs"] += 1
            elif j["phase"] == "memo":
                m["tables.memo_jobs"] += 1
            if j["first_task"]:
                m["sched.first_task_wait_s"] += (j["first_task"] - j["submit"]) / 1e3
            site, layer = call_site(j["call_site"])
            if j["end"]:
                m[f"site.{site}.job_s"] += (j["end"] - j["submit"]) / 1e3
                layer_job_s[layer] = layer_job_s.get(layer, 0.0) + (j["end"] - j["submit"]) / 1e3 / len(traced)
            for sid in j["stages"]:
                s = stages.get(sid)
                if not s or not s["submit"] or s["job"] != j["id"]:
                    continue
                m["sched.stages"] += 1
                m["sched.tasks"] += s["tasks"]
                m["exec.task_run_s"] += s["run_ns"] / NS
                m["exec.task_cpu_s"] += s["cpu_ns"] / NS
                m["exec.deser_s"] += s["deser_ns"] / NS
                m["exec.gc_s"] += s["gc_ns"] / NS
                for f in ("input_rows", "input_bytes", "shuffle_read_bytes",
                          "shuffle_write_bytes", "spill_bytes"):
                    m[f"exec.{f}"] += s[f]
                m["exec.peak_mem_bytes"] = max(m["exec.peak_mem_bytes"], s["peak_mem_bytes"])
                m[f"site.{site}.task_cpu_s"] += s["cpu_ns"] / NS
                m[f"site.{site}.shuffle_bytes"] += s["shuffle_read_bytes"] + s["shuffle_write_bytes"]
        lo, hi = p["start"] / MS_TO_NS, p["end"] / MS_TO_NS
        for e in spans["executions"]:
            if lo <= e["end"] <= hi:
                for ph in ("analysis", "optimization", "planning"):
                    m[f"catalyst.{ph}_s"] += e.get(f"{ph}_ms", 0) / 1e3
        wall = (p["end"] - p["start"]) / NS
        m["exec.busy_frac"] = m["exec.task_run_s"] / (wall * nproc)
        m["codegen.compiles"] = p["codegen_compiles"]
        m["cache.entries"] = p["cache_entries"]
        m["cache.mem_bytes"] = p["cache_mem_bytes"]
        m["cache.disk_bytes"] = p["cache_disk_bytes"]
        m["driver.written_bytes"] = p["written_bytes"]
        rows.append(m)
    out = {k: _median([r[k] for r in rows]) for k, _ in PER_LAYER}
    out["session.start_s"] = _median([s["session_ns"] / NS for s in doc["setups"]])
    out["tables.open_s"] = _median([s["open_ns"] / NS for s in doc["setups"]])
    out["trace.overhead_s"] = (_median([(p["end"] - p["start"]) / NS for p in traced]) -
                               _median([(p["end"] - p["start"]) / NS for p in untraced]))
    out["trace.job_overhang_ms"] = overhang
    return out, {"job_s_by_layer": layer_job_s}
