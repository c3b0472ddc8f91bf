"""Self time and the per-layer derivations on a synthetic span tree."""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


def span(i, parent, kind, name, start, end):
    return {"id": i, "parent": parent, "kind": kind, "name": name,
            "start": start, "end": end}


# one pass of two steps, in microseconds:
#   pass1 [0, 100]
#     step a [0, 40]:  construct [0, 10] with job [2, 6];
#                      action [10, 40] with jobs [12, 20] and [15, 30]
#     step b [45, 100]: construct [45, 50]; action [50, 100] with a job
#                      [90, 120] that outlives it (clipped to the action)
SPANS = [
    span(0, -1, "workload", "w", 0, 100),
    span(1, 0, "pass", "pass1", 0, 100),
    span(2, 1, "step", "a", 0, 40),
    span(3, 2, "construct", "a", 0, 10),
    span(4, 2, "action", "a", 10, 40),
    span(5, 1, "step", "b", 45, 100),
    span(6, 5, "construct", "b", 45, 50),
    span(7, 5, "action", "b", 50, 100),
    span(8, 3, "job", "job0", 2, 6),
    span(9, 4, "job", "job1", 12, 20),
    span(10, 4, "job", "job2", 15, 30),
    span(11, 7, "job", "job3", 90, 120),
]


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(20, 25), (0, 10), (2, 3)]), 15)

    def test_self_times(self):
        s = metrics.self_times(SPANS)
        self.assertEqual(s[1], 100 - 95)   # the gap between the steps
        self.assertEqual(s[2], 0)          # construct + action cover it
        self.assertEqual(s[3], 10 - 4)
        self.assertEqual(s[4], 30 - 18)    # overlapping jobs count once
        self.assertEqual(s[7], 50 - 10)    # the job is clipped to the action
        self.assertEqual(s[11], 30)        # a leaf's self time is its length

    def test_per_layer(self):
        def run(step, wall, construct, counters):
            return {"pass": 1, "step": step, "ok": True, "wall_s": wall,
                    "construct_s": construct, "driver_cpu_s": 0.5,
                    "persisted_bytes": 7, "counters": counters, "trigger_ms": [3, 5]}
        result = {
            "passes": [{"pass": 0, "traced": True, "wall_s": 1e-4},
                       {"pass": 1, "traced": True, "wall_s": 95e-6},
                       {"pass": 2, "traced": False, "wall_s": 80e-6}],
            "runs": [run("extract", 40e-6, 10e-6, {"task.run_s": 8.0, "task.cpu_s": 2.0}),
                     run("b", 55e-6, 5e-6, {"exec.jobs": 3.0}),
                     dict(run("extract", 30e-6, 5e-6, {}), **{"pass": 2}),
                     dict(run("b", 50e-6, 5e-6, {}), **{"pass": 2})],
            "spans": SPANS,
        }
        m = metrics.per_layer(result, cores=4)
        self.assertAlmostEqual(m["driver.gap_s"], (0 + 12 + 0 + 40) / 1e6)
        self.assertAlmostEqual(m["exec.busy_s"], (4 + 18 + 30) / 1e6)
        self.assertAlmostEqual(m["queries.construct_s"], 15e-6)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertEqual(m["exec.jobs"], 3.0)
        self.assertEqual(m["task.cpu_ratio"], 0.25)
        self.assertAlmostEqual(m["exec.core_util"], 8.0 / (52e-6 * 4))
        self.assertAlmostEqual(m["etl.extract.cpu_s"], 2.5)
        self.assertEqual(m["storage.persisted_bytes"], 7)
        self.assertAlmostEqual(m["streaming.trigger_p50_s"], 0.004)
        self.assertAlmostEqual(m["trace.overhead_s"], 15e-6)

    def test_pass_and_step_p50_are_built_from_step_medians(self):
        # passes 1 and 2 warm up; 3 to 5 are measured
        walls = {"a": [9, 9, 1, 3, 2], "b": [30, 30, 10, 11, 12], "c": [20, 20, 5, 6, 4]}
        runs = [{"pass": p + 1, "step": k, "ok": True, "wall_s": float(v[p])}
                for k, v in walls.items() for p in range(5)]
        runs.append({"pass": 3, "step": "c", "ok": False, "wall_s": 100.0})
        result = {"passes": [{"pass": p, "traced": False, "warmup": p in (1, 2),
                              "wall_s": 20.0} for p in range(6)],
                  "runs": runs, "setup_s": 1.0, "peak_rss_mb": 1.0}
        m, n = metrics.end_to_end(result, rows=36)
        self.assertEqual(n, 9)  # the failed sample is left out
        self.assertEqual(m["step_p50_s"], 5.0)
        self.assertEqual(m["pass_s"], 2.0 + 11.0 + 5.0)
        self.assertEqual(m["rows_per_s"], 2.0)
        self.assertEqual(m["cold_pass_s"], 20.0)

    def test_quantile(self):
        self.assertEqual(metrics.quantile([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(metrics.quantile(list(range(11)), 0.9), 9.0)


if __name__ == "__main__":
    unittest.main()
