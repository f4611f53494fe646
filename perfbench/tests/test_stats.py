"""Unit tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def span(id, parent, kind, start, end, **attrs):
    return {"id": id, "parent": parent, "kind": kind, "name": f"{kind} {id}",
            "start": start, "end": end, "attrs": attrs}


class Percentiles(unittest.TestCase):
    def test_median_and_tail_with_sample_count(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), (50.5, 100))
        v, n = stats.percentile(xs, 95)
        self.assertAlmostEqual(v, 95.05)
        self.assertEqual(n, 100)

    def test_order_does_not_matter_and_single_sample(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        self.assertEqual(stats.percentile([7.0], 95), (7.0, 1))

    def test_empty(self):
        self.assertEqual(stats.percentile([], 50), (None, 0))


class FailureAccounting(unittest.TestCase):
    def test_failed_op_is_attempted_but_not_timed(self):
        ops = [{"ok": True, "seconds": 1.0}, {"ok": False, "error": "boom"},
               {"ok": True, "seconds": 3.0}]
        self.assertEqual(stats.account(ops), (3, 1, [1.0, 3.0]))

    def test_throwing_key_counts_in_failed_and_not_in_latency(self):
        ok = {"kind": "key", "ok": True, "traced": False, "build_s": 0.1, "plan_s": 0.1,
              "exec_s": 0.3, "seconds": 0.5}
        raw = {"setup_s": [1.0, 2.0, 3.0],
               "ops": [dict(ok, key="q_a", **{"pass": 0}), dict(ok, key="q_a", **{"pass": 1}),
                       {"kind": "key", "key": "q_b", "pass": 0, "traced": False, "ok": False,
                        "error": "java.lang.RuntimeException: boom"},
                       {"kind": "key", "key": "q_b", "pass": 1, "traced": False, "ok": False,
                        "error": "java.lang.RuntimeException: boom"}],
               "passes": [{"pass": 0, "traced": False, "heap_mb": 10.0},
                          {"pass": 1, "traced": False, "heap_mb": 12.0}]}
        self.assertEqual(stats.account(raw["ops"])[:2], (4, 2))
        values, counts = run.end_to_end(run.WORKLOADS["query_suite"], raw)
        self.assertAlmostEqual(values["op_p50_s"], 0.5)
        self.assertEqual(counts["op_p50_s"], 2)
        self.assertAlmostEqual(values["pass_p50_s"], 0.5)
        self.assertEqual(values["heap_live_mb"], 11.0)
        self.assertEqual(values["setup_s"], 2.0)

    def test_oracle_mismatch_fails_every_execution_of_the_key(self):
        raw = {"checks": [{"key": "q_a", "ok": True}, {"key": "q_b", "ok": False, "error": "x"}],
               "oracle_sql": {},
               "ops": [{"key": "q_a", "ok": True}, {"key": "q_b", "ok": True}]}
        unverified = run.check_suite(raw, "/nonexistent", "/nonexistent")
        self.assertEqual(unverified, ["q_a"])
        self.assertEqual([op["ok"] for op in raw["ops"]], [True, False])


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_ignores_empty(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_part_only(self):
        parent = {"start": 100, "end": 200}
        children = [{"start": 90, "end": 120}, {"start": 110, "end": 130},
                    {"start": 190, "end": 250}, {"start": 300, "end": 400}]
        # covered inside the parent: [100, 130) and [190, 200) = 40
        self.assertEqual(stats.self_time(parent, children), 60)

    def test_lloyd_layers_split_init_and_iterations(self):
        us = 1_000_000
        spans = [span(1, 0, "op", 0, 10 * us),
                 span(2, 1, "job", 0, 1 * us),                   # input read
                 span(3, 1, "job", 1 * us, 2 * us, init=True),   # init collect
                 span(4, 1, "job", 2 * us, 3 * us), span(5, 1, "job", 3 * us, 4 * us),
                 span(6, 1, "job", 5 * us, 6 * us), span(7, 1, "job", 6 * us, 8 * us),
                 span(8, 4, "stage", 2 * us, 3 * us),
                 span(9, 8, "task", 2 * us, int(2.5 * us), type="ShuffleMapTask", cpu_ns=4e8,
                      input_b=stats.MB, shuffle_write_b=100),
                 span(10, 6, "stage", 5 * us, 6 * us),
                 span(11, 10, "task", 5 * us, 6 * us, type="ResultTask", cpu_ns=1e9)]
        tree = stats.Tree(spans)
        layer, walls = stats.lloyd_layers(tree, spans[0], {"iterations": 2})
        self.assertEqual(layer["kmeans.jobs_per_iter"], 2)
        self.assertEqual(layer["kmeans.stages_per_iter"], 1)
        self.assertEqual(layer["kmeans.tasks_per_iter"], 1)
        self.assertEqual(layer["kmeans.init_s"], 2.0)
        self.assertEqual(walls, [2.0, 4.0])
        # iteration 1 [2, 4) has 0.5 s of tasks, iteration 2 [4, 8) has 1 s
        self.assertEqual(layer["kmeans.driver_s_per_iter"], (1.5 + 3.0) / 2)
        self.assertAlmostEqual(layer["kmeans.map_cpu_s_per_iter"], 0.2)
        self.assertEqual(layer["kmeans.cache_scan_mb_per_iter"], 0.5)
        self.assertEqual(layer["kmeans.shuffle_write_bytes_per_iter"], 50)

    def test_trace_overhead_cancels_a_linear_drift(self):
        # untraced ops drift down by 1 s each; traced ops cost 10 % more
        seconds = [10.0, 9.0 * 1.1, 8.0, 7.0 * 1.1, 6.0]
        traced = [False, True, False, True, False]
        self.assertAlmostEqual(stats.trace_overhead(seconds, traced), 0.1)
        self.assertIsNone(stats.trace_overhead([1.0, 2.0], [False, True]))

    def test_spark_counters_sum_the_subtree(self):
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "op", 0, 50), span(3, 2, "job", 0, 40),
                 span(4, 3, "stage", 0, 40),
                 span(5, 4, "task", 0, 4000, run_ms=3, deser_ms=0.5, gc_ms=1, ok=True),
                 span(6, 4, "task", 0, 2000, run_ms=1, deser_ms=0.5, ok=False)]
        c = stats.spark_counters(stats.Tree(spans), 1)
        self.assertEqual((c["spark.jobs"], c["spark.stages"], c["spark.tasks"]), (1, 1, 2))
        self.assertEqual(c["spark.task_failures"], 1)
        self.assertAlmostEqual(c["spark.task_wait_s"], (0.5 + 0.5) / 1e3)
        self.assertAlmostEqual(c["spark.gc_s"], 0.001)


class References(unittest.TestCase):
    def test_lloyd_reference_ties_go_to_lower_id_and_snap_half_up(self):
        # point 2 is equidistant from both initial centroids -> cid 1
        x = np.array([[0.0, 0.0], [2.0, 0.0], [1.0, 0.0], [0.00000005, 0.0]], dtype=np.float32)
        cents, iters = oracle.lloyd_reference(x, 2, max_iter=1)
        self.assertEqual(iters, 1)
        self.assertEqual(cents[1], [2, [2.0, 0.0]])
        self.assertEqual(cents[0][0], 1)
        mean0 = (0.0 + 1.0 + float(np.float32(0.00000005))) / 3
        self.assertEqual(cents[0][1][0], oracle.snap(mean0, 7))

    def test_frames_compare_bitwise(self):
        a = pd.DataFrame({"b": [0.0], "a": ["x"]})
        self.assertIsNone(oracle.compare_frames(a, a[["a", "b"]]))
        self.assertIn("differ", oracle.compare_frames(a, pd.DataFrame({"a": ["x"], "b": [-0.0]})))


if __name__ == "__main__":
    unittest.main()
