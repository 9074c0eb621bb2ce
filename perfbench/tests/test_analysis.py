"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests

Run from the repo root. The canonical-hash test needs the harness built
(any `perfbench/run.py` run builds it) and is skipped otherwise.
"""
import datetime
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)

import analysis  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(analysis.tail_percentile(100), 90)
        self.assertEqual(analysis.tail_percentile(99), 75)
        self.assertEqual(analysis.tail_percentile(200), 95)
        self.assertEqual(analysis.tail_percentile(1000), 99)
        self.assertEqual(analysis.tail_percentile(40), 75)
        self.assertIsNone(analysis.tail_percentile(39))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(analysis.percentile(xs, 90), 90)
        self.assertEqual(analysis.percentile(xs, 50), 50)
        self.assertEqual(analysis.percentile([3.0], 90), 3.0)

    def test_reported_sample_count(self):
        _, extra = analysis.end_to_end(_doc(op_walls=[[1.0] * 30, [2.0] * 30, [3.0] * 39]))
        self.assertEqual(extra["ops_measured"], 99)
        self.assertEqual(extra["op_p75_s"], 3.0)
        self.assertNotIn("op_p90_s", extra)
        _, extra = analysis.end_to_end(_doc(op_walls=[[1.0] * 50, [2.0] * 50]))
        self.assertEqual(extra["ops_measured"], 100)
        self.assertEqual(extra["op_p90_s"], 2.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        own, covered = analysis.self_time(0, 100, [(10, 40), (30, 60), (35, 50)])
        self.assertEqual(covered, 50)
        self.assertEqual(own, 50)

    def test_disjoint_nested_and_clipped(self):
        own, covered = analysis.self_time(10, 110, [(0, 20), (50, 60), (52, 58), (100, 200)])
        self.assertEqual(covered, 10 + 10 + 10)
        self.assertEqual(own + covered, 100)

    def test_no_children(self):
        self.assertEqual(analysis.self_time(5, 9, []), (4, 0))

    def test_zero_length_and_outside(self):
        self.assertEqual(analysis.union_length([(3, 3), (20, 30)], 0, 10), 0)


QUERIES_STACK = """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
graft.Queries$.sortedLarge(Queries.scala:74)
graft.Queries$.$anonfun$q01$1(Queries.scala:87)
org.apache.spark.sql.Dataset.transform(Dataset.scala:2707)
graft.Queries$.q01(Queries.scala:87)
graft.SparkEntry$.$anonfun$queries$2(SparkEntry.scala:19)
perfbench.Harness$.queryOp(Harness.scala:213)"""

RESULT_STACK = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)
perfbench.Harness$.queryOp(Harness.scala:216)
perfbench.Harness$.timed(Harness.scala:196)"""

SHADE_STACK = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)
graft.operators.ShadePlot$.writePng(ShadePlot.scala:210)
graft.Cli$.renderOne$1(Cli.scala:330)
graft.Cli$.runBatch(Cli.scala:345)"""

RASTER_STACK = """org.apache.spark.sql.classic.Dataset.head(Dataset.scala:1400)
graft.operators.Raster$.shadeEqHist(Raster.scala:120)
graft.operators.ShadePlot$.shade(ShadePlot.scala:60)
graft.Cli$.runBatch(Cli.scala:312)"""

MEMO_STACK = """org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1500)
graft.Tables.$anonfun$documentNearDupComponents$1(Tables.scala:89)
graft.Tables$.memo(Tables.scala:181)"""

OTHER_STACK = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)
graft.operators.Similarity$.trainCentroids(Similarity.scala:77)
graft.PipelineQueries$.q142(PipelineQueries.scala:900)"""


class CallSite(unittest.TestCase):
    def test_innermost_graft_frame_names_the_site(self):
        self.assertEqual(analysis.call_site(QUERIES_STACK), ("Queries", "queries"))
        self.assertEqual(analysis.call_site(SHADE_STACK), ("ShadePlot", "driver"))
        self.assertEqual(analysis.call_site(RASTER_STACK), ("Raster", "exec"))
        self.assertEqual(analysis.call_site(MEMO_STACK), ("Tables", "tables"))

    def test_unlisted_files_are_other_but_keep_their_layer(self):
        self.assertEqual(analysis.call_site(OTHER_STACK), ("other", "exec"))

    def test_no_graft_frame_is_the_result_collect(self):
        self.assertEqual(analysis.call_site(RESULT_STACK), ("result", "driver"))
        self.assertEqual(analysis.call_site(""), ("result", "driver"))


def _doc(op_walls, traced=None):
    """A run document with a one-second cold pass, then one warm pass per
    entry of `op_walls` (seconds per op, ops run back to back)."""
    s = 1_000_000_000
    passes, ops, t, oid = [], [], 10 * s, 0
    for i, walls in enumerate([[1.0]] + op_walls):
        start = t
        for w in walls:
            ops.append({"id": oid, "pass": i, "client": 0, "name": f"q{oid}", "start": t,
                        "build_end": t + int(0.1 * w * s), "end": t + int(w * s),
                        "rows": 2, "md5": "", "error": ""})
            t += int(w * s)
            oid += 1
        passes.append({"index": i, "cold": i == 0, "traced": bool(traced and i in traced),
                       "start": start, "end": t, "cpu_ns": 2 * (t - start),
                       "codegen_compiles": 3, "heap_bytes": (100 + i) * 2**20,
                       "cache_entries": 1, "cache_mem_bytes": 10, "cache_disk_bytes": 0,
                       "written_bytes": 0, "steal_frac": 0.0, "jvm_gc_ms": 0,
                       "jit_ms": 0, "checks": {}})
        t += s
    return {"host": {"nproc": 4}, "passes": passes, "ops": ops,
            "setups": [{"session_ns": 2 * s, "open_ns": s}, {"session_ns": s, "open_ns": s},
                       {"session_ns": s, "open_ns": 2 * s}],
            "first_setup_ns": 3 * s, "jvm_to_ready_ns": 5 * s,
            "spans": {"jobs": [], "stages": [], "executions": []}}


class Metrics(unittest.TestCase):
    def test_end_to_end_splits_the_cold_pass_from_warm_ones(self):
        e2e, extra = analysis.end_to_end(_doc([[1.0, 1.0], [2.0, 2.0], [3.0, 3.0]]))
        self.assertEqual(set(e2e), {k for k, _ in analysis.END_TO_END})
        self.assertAlmostEqual(e2e["setup_s"], 3.0)
        self.assertAlmostEqual(e2e["first_pass_s"], 1.0)
        self.assertAlmostEqual(e2e["live_heap_mb"], 103.0)
        self.assertAlmostEqual(extra["pass_s"], 4.0)
        self.assertAlmostEqual(extra["op_p50_s"], 2.0)
        self.assertAlmostEqual(extra["cpu_s"], 8.0)
        self.assertAlmostEqual(extra["first_pass_cpu_s"], 2.0)
        self.assertEqual(extra["passes_measured"], 3)
        self.assertEqual(extra["ops_measured"], 6)

    def test_per_layer_attributes_jobs_to_their_op(self):
        doc = _doc([[1.0], [2.0]], traced={2})
        op = next(o for o in doc["ops"] if o["pass"] == 2)
        ms = op["start"] // 1_000_000
        doc["spans"] = {
            "jobs": [{"id": 7, "op": str(op["id"]), "phase": "exec", "execution": "1",
                      "submit": ms + 100, "end": ms + 600, "first_task": ms + 150,
                      "stages": [3], "call_site": QUERIES_STACK},
                     {"id": 8, "op": "", "phase": "", "execution": "",
                      "submit": ms, "end": ms + 50, "first_task": 0, "stages": [], "call_site": ""}],
            "stages": [{"id": 3, "job": 7, "submit": ms + 140, "end": ms + 590, "tasks": 4,
                        "run_ns": 1_600_000_000, "cpu_ns": 1_000_000_000, "deser_ns": 0,
                        "gc_ns": 0, "input_rows": 10, "input_bytes": 100,
                        "shuffle_read_bytes": 5, "shuffle_write_bytes": 6, "spill_bytes": 0,
                        "peak_mem_bytes": 64}],
            "executions": [{"id": 1, "end": ms + 590, "analysis_ms": 10,
                            "optimization_ms": 20, "planning_ms": 30}]}
        m, extra = analysis.per_layer(doc)
        self.assertEqual(set(m), {k for k, _ in analysis.PER_LAYER})
        self.assertEqual(m["sched.jobs"], 1)
        self.assertEqual(m["sched.tasks"], 4)
        self.assertAlmostEqual(m["driver.self_s"], 1.5)
        self.assertAlmostEqual(m["sched.first_task_wait_s"], 0.05)
        self.assertAlmostEqual(m["site.Queries.job_s"], 0.5)
        self.assertAlmostEqual(m["site.Queries.shuffle_bytes"], 11)
        self.assertAlmostEqual(m["exec.busy_frac"], 1.6 / (2.0 * 4))
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.03)
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)
        self.assertEqual(m["trace.job_overhang_ms"], 0)
        self.assertEqual(extra["job_s_by_layer"], {"queries": 0.5})


class CanonicalHash(unittest.TestCase):
    """The harness's JVM-side canonical md5 of a fixed table equals
    scripts/check.py's md5 of the same table as pandas reads it."""

    def test_matches_check_py(self):
        harness = os.path.join(ROOT, ".bench_build", "harness")
        if not os.path.isdir(harness):
            self.skipTest("harness not built; run perfbench/run.py once")
        import build
        cp = [harness, os.path.join(ROOT, ".bench_build", "classes"),
              os.path.join(build.spark_jars(ROOT), "*")]
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            out = os.path.join(d, "md5")
            subprocess.run(["java", "-Duser.timezone=UTC", "-cp", os.pathsep.join(cp),
                            "perfbench.Harness", "canon", out], check=True, timeout=120)
            with open(out) as f:
                jvm = f.read().strip()
        import pandas as pd
        import oracle
        check = oracle._check_module(ROOT)
        ts = datetime.datetime
        df = pd.DataFrame({
            "name": ["b", "a", None, "c"],
            "amount": [104912.5, -0.0, float("nan"), 1.0e-7],
            "n": [3, None, 12, 5],
            "k": pd.array([7, 1, 2, 3], dtype="int32"),
            "ts": [ts(2024, 1, 1, 0, 9, 58, 778549), ts(1995, 1, 1), None,
                   ts(2001, 8, 1, 12, 30, 0, 500000)]})
        self.assertEqual(jvm, check.canon(df)[0])


if __name__ == "__main__":
    unittest.main()
