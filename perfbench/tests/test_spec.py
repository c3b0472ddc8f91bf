"""Every metric the benchmark prints is declared in BENCHMARK.json (the
JSON line) or in perfbench/spec.json (the summary lines), with one unit."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SPEC = json.load(open(os.path.join(PERFBENCH, "spec.json")))


def names(entries):
    return [e["name"] for e in entries]


class SpecTest(unittest.TestCase):
    def test_benchmark_json_matches_spec(self):
        self.assertEqual(BENCH["end_to_end"][0]["name"], "setup_s")
        strip = [{k: e[k] for k in ("name", "unit", "better")} for e in BENCH["end_to_end"]]
        self.assertEqual(strip, [e for e in SPEC["end_to_end"]
                                 if e["name"] not in SPEC["printed_only"]])
        self.assertEqual(BENCH["per_layer"], SPEC["per_layer"])
        self.assertEqual(sorted(names(BENCH["workloads"])), sorted(gen.WORKLOADS))
        setup = BENCH["end_to_end"][0]["bound"]
        self.assertTrue(all(0 < e["bound"] <= setup <= 0.25 for e in BENCH["end_to_end"]))

    def test_end_to_end_names(self):
        result = {
            "passes": [{"pass": 0, "traced": False, "wall_s": 3.0},
                       {"pass": 1, "traced": False, "wall_s": 2.0}],
            "runs": [{"pass": 1, "step": "s", "ok": True, "wall_s": 2.0}],
            "peak_rss_mb": 100.0, "setup_s": 1.0,
        }
        m, n = metrics.end_to_end(result, rows=10)
        self.assertEqual(n, 1)
        # fail_ratio and wrong_ratio are added by the runner
        self.assertEqual(sorted(list(m) + ["fail_ratio", "wrong_ratio"]),
                         sorted(names(SPEC["end_to_end"])))
        for k in set(m) - set(SPEC["printed_only"]):
            self.assertGreater(m[k], 0, k)
        self.assertIsNone(m["step_p90_s"])  # one step sample

    def test_per_layer_names(self):
        from test_metrics import SPANS  # noqa: E402
        result = {
            "passes": [{"pass": 1, "traced": True, "wall_s": 1.0},
                       {"pass": 2, "traced": False, "wall_s": 1.0}],
            "runs": [],
            "spans": SPANS,
        }
        self.assertEqual(sorted(metrics.per_layer(result, cores=4)),
                         sorted(names(SPEC["per_layer"])))

    def test_layer_map_covers_every_per_layer_metric(self):
        mapped = [m for layer in SPEC["layers"] for m in layer["metrics"]]
        self.assertEqual(sorted(mapped), sorted(names(SPEC["per_layer"])))
        e2e = set(names(SPEC["end_to_end"]))
        for layer in SPEC["layers"]:
            self.assertTrue(set(layer["moves"]) <= e2e, layer)
            self.assertTrue(set(layer["on"]) <= set(gen.WORKLOADS), layer)


if __name__ == "__main__":
    unittest.main()
