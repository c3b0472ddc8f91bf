"""End-to-end runs of the benchmark: the last line carries exactly the
declared metrics, outputs match their oracles, and the counters every
layer depends on are non-zero. Each run starts a Spark JVM (about a
minute on four cores)."""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd, workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


class RunTest(unittest.TestCase):
    def last(self, p):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        return out["metrics"]

    def test_untraced_metrics(self):
        m = self.last(run(ROOT, "survey_medallion", 0))
        self.assertEqual(sorted(m), sorted(e["name"] for e in BENCH["end_to_end"]))
        for k, v in m.items():
            self.assertGreater(v["value"], 0, k)

    def test_traced_counters(self):
        want = {"survey_medallion": ["sources.output_bytes", "sources.files",
                                     "etl.transform.wall_s", "task.cpu_s"],
                "query_mix": ["shuffle.write_bytes", "streaming.batches",
                              "queries.construct_s", "exec.jobs", "scan.rows"]}
        for workload, counters in want.items():
            m = self.last(run(ROOT, workload, 1))
            self.assertEqual(sorted(m), sorted(e["name"] for e in BENCH["per_layer"]))
            for k in counters:
                self.assertGreater(m[k]["value"], 0, f"{workload}: {k}")

    def test_fails_without_the_program(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for path in BENCH["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(d, path),
                                ignore=shutil.ignore_patterns("__pycache__"))
            p = run(d, "survey_medallion", 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
