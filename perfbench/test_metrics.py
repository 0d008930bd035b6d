"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The metric reductions are tested on hand-made records; the smoke tests
build the program and run every workload at tiny sizes, traced and
untraced, through the same entry point the benchmark command uses."""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


class QpsAtRecall(unittest.TestCase):
    def test_interpolates_log_qps_between_bracketing_points(self):
        pts = [(0.80, 1000.0), (0.88, 800.0), (0.96, 400.0)]
        got = metrics.qps_at_recall(pts, 0.90)
        want = math.exp(math.log(800) + 0.25 * (math.log(400) - math.log(800)))
        self.assertAlmostEqual(got, want, places=9)

    def test_exact_hit_returns_that_point(self):
        pts = [(0.85, 1000.0), (0.90, 700.0), (0.99, 100.0)]
        self.assertAlmostEqual(metrics.qps_at_recall(pts, 0.90), 700.0, places=9)

    def test_first_point_already_above_target(self):
        self.assertEqual(metrics.qps_at_recall([(0.97, 900.0), (0.99, 500.0)], 0.95), 900.0)

    def test_unreached_target_is_zero(self):
        self.assertEqual(metrics.qps_at_recall([(0.5, 900.0), (0.94, 500.0)], 0.95), 0.0)
        self.assertEqual(metrics.qps_at_recall([], 0.9), 0.0)

    def test_l_at_recall(self):
        pts = [(20, 0.8), (80, 0.9), (320, 0.95)]
        self.assertAlmostEqual(metrics.l_at_recall(pts, 0.9), 80.0, places=9)
        self.assertAlmostEqual(metrics.l_at_recall(pts, 0.925), math.sqrt(80 * 320), places=6)
        self.assertIsNone(metrics.l_at_recall(pts, 0.99))


class OutsideTasks(unittest.TestCase):
    def test_fully_busy_cores_is_zero(self):
        self.assertAlmostEqual(metrics.outside_tasks_frac(2.0, 8.0, 4), 0.0)

    def test_idle_cores(self):
        self.assertAlmostEqual(metrics.outside_tasks_frac(2.0, 2.0, 4), 0.75)
        self.assertAlmostEqual(metrics.outside_tasks_frac(1.0, 0.0, 4), 1.0)

    def test_rejects_zero_wall(self):
        with self.assertRaises(ValueError):
            metrics.outside_tasks_frac(0.0, 1.0, 4)


def stage(job, start, end, cpu, *sites):
    return {"job": job, "start_ms": start, "end_ms": end, "cpu_s": cpu, "run_s": cpu,
            "sites": list(sites)}


class BuildPhases(unittest.TestCase):
    SRC = "\n".join([
        "object RoarGraphBuilder {",            # 1
        "  private def learnBaseKnn(",          # 2
        "  }",                                  # 3
        "  private def normalizeIfNeeded(",     # 4
        "  def build(",                         # 5
        "    val rows = base.collect()",        # 6
        "    // ---- phase 1: projection",      # 7
        "    val p = proposals",                # 8
        "    // ---- phase 2: connectivity",    # 9
        "    val s = selfSearch",               # 10
        "    val supplyRev = s.flatMap",        # 11
        "    val merged = cogroup",             # 12
        "    // ---- merge supply into projection",  # 13
        "    val adj = merge",                  # 14
    ])

    def test_ranges_follow_section_comments(self):
        r = metrics.phase_ranges(self.SRC)
        self.assertEqual(r, [(2, "train_knn"), (4, "driver"), (7, "projection"),
                             (9, "self_search"), (11, "supply_merge"), (13, "driver")])

    def test_stage_attribution(self):
        r = metrics.phase_ranges(self.SRC)
        at = lambda n: f"map at RoarGraphBuilder.scala:{n}"  # noqa: E731
        self.assertEqual(metrics.stage_phase(stage(1, 0, 1, 0, "collect at X.java:1"), r, 1),
                         "driver")
        self.assertEqual(metrics.stage_phase(stage(2, 0, 1, 0, "x at CompletableFuture.java:1"),
                                             r, 1), "train_knn")
        self.assertEqual(metrics.stage_phase(stage(2, 0, 1, 0, at(8)), r, 1), "projection")
        # a stage holding both self-search and supply RDDs is self-search
        self.assertEqual(metrics.stage_phase(stage(3, 0, 1, 0, at(11), at(10)), r, 1),
                         "self_search")
        self.assertEqual(metrics.stage_phase(stage(3, 0, 1, 0, at(12)), r, 1), "supply_merge")
        self.assertEqual(metrics.stage_phase(stage(3, 0, 1, 0, at(14)), r, 1), "driver")

    def test_walls_add_up_to_the_build_wall(self):
        r = metrics.phase_ranges(self.SRC)
        at = lambda n: f"map at RoarGraphBuilder.scala:{n}"  # noqa: E731
        call = {"start_ms": 1000, "wall_s": 10.0, "stages": [
            stage(1, 1100, 1200, 0.1, "collect at X.java:1"),      # load: driver
            stage(2, 1500, 4500, 9.0, "CompletableFuture.java"),   # train kNN
            stage(2, 4000, 5000, 1.0, at(8)),                      # projection
            stage(3, 6000, 8000, 2.0, at(10)),                     # self-search
            stage(3, 8000, 8500, 0.5, at(12)),                     # supply merge
        ]}
        wall, cpu = metrics.build_phases(call, r)
        self.assertAlmostEqual(wall["train_knn"], 3.0)
        self.assertAlmostEqual(wall["projection"], 0.5)   # overlap goes to train_knn
        self.assertAlmostEqual(wall["self_search"], 2.0)
        self.assertAlmostEqual(wall["supply_merge"], 0.5)
        self.assertAlmostEqual(wall["driver"], 4.0)
        self.assertAlmostEqual(sum(wall.values()), 10.0)
        self.assertAlmostEqual(cpu["train_knn"], 9.0)
        self.assertAlmostEqual(cpu["driver"], 0.1)

    def test_markers_exist_in_the_program(self):
        with open(run.BUILDER_SOURCE) as fh:
            phases = {p for _, p in metrics.phase_ranges(fh.read())}
        self.assertEqual(phases, {"train_knn", "driver", "projection", "self_search",
                                  "supply_merge"})


class SweepPoints(unittest.TestCase):
    def test_median_wall_per_beam_width(self):
        sweep = [{"tier": "memory", "kind": "ood", "l": l, "wall_s": w, "queries": 100,
                  "recall": r} for l, w, r in
                 [(20, 1.0, 0.8), (80, 2.0, 0.9), (20, 3.0, 0.8), (20, 2.0, 0.8)]]
        sweep.append({"tier": "memory", "kind": "id", "l": 20, "wall_s": 9.0,
                      "queries": 100, "recall": 0.1})
        self.assertEqual(metrics.sweep_points(sweep, "memory", "ood"),
                         [(20, 0.8, 50.0), (80, 0.9, 50.0)])


class EndToEnd(unittest.TestCase):
    def test_warm_up_calls_count_in_setup_only(self):
        def call(layer, wall, warm=None, **extra):
            c = {"layer": layer, "wall_s": wall, **extra}
            if warm is not None:
                c["warmup"] = warm
            return c
        knn = {"queries": 2000, "base": 100}
        raw = {
            "session_s": 4.0, "setup_reps_s": [9.0, 2.0, 3.0], "warmup_s": 20.0,
            "heap_live_mb": 150.0,
            "calls": [call("knnjoin.exact", 5.0, True, **knn),
                      call("roargraph.build", 9.0, True),
                      call("roargraph.build", 2.0, False), call("knnjoin.exact", 1.0, False, **knn),
                      call("roargraph.build", 4.0, False), call("knnjoin.exact", 2.0, False, **knn),
                      call("roargraph.build", 3.0, False), call("knnjoin.exact", 4.0, False, **knn)],
            "sweep": [{"tier": "scan", "kind": "ood", "l": 10, "queries": 10, "recall": 0.99}]
                     + [{"tier": "memory", "kind": k, "l": 10, "wall_s": 0.5, "queries": 100,
                         "recall": 0.97} for k in ("ood", "id")],
        }
        m = metrics.end_to_end(raw)
        self.assertAlmostEqual(m["setup_s"][0], 4.0 + 3.0 + 20.0)
        self.assertAlmostEqual(m["build_s"][0], 3.0)
        self.assertAlmostEqual(m["knn_exact_qps"][0], 1000.0)
        self.assertAlmostEqual(m["search_qps_r95_ood"][0], 200.0)
        self.assertAlmostEqual(m["search_qps_r90_id"][0], 200.0)


class Smoke(unittest.TestCase):
    """Every workload, tiny sizes, both modes: one JSON line last on stdout
    with exactly the keys correct, attempted, failed and metrics, all
    checks passing."""

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        self.assertEqual(len(lines), 1, p.stdout[-2000:])
        out = json.loads(lines[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stderr[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        for name, m in out["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"}, name)
            self.assertTrue(math.isfinite(m["value"]), name)
        return out["metrics"]

    def expected(self, key):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            return {m["name"] for m in json.load(fh)[key]}

    def test_every_workload(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(set(self.run_bench(w, 0)), self.expected("end_to_end"))
                self.assertEqual(set(self.run_bench(w, 1)), self.expected("per_layer"))


if __name__ == "__main__":
    unittest.main()
