"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The tail rule and the BENCHMARK.json contract are checked in Python; the
generators and the output checks run in the JVM self test
(perfbench.SelfTest), which this file builds and launches.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # nearest rank: p90 of 100 samples is the 90th, 10 lie beyond it
        self.assertEqual(run.tail_percentile(100), 90.0)
        self.assertEqual(run.tail_percentile(99), 85.0)
        self.assertEqual(run.tail_percentile(66), 80.0)
        self.assertEqual(run.tail_percentile(67), 85.0)
        self.assertEqual(run.tail_percentile(49), 75.0)
        self.assertEqual(run.tail_percentile(200), 95.0)
        self.assertEqual(run.tail_percentile(1000), 99.0)
        self.assertEqual(run.tail_percentile(10000), 99.9)
        self.assertEqual(run.tail_percentile(20), 50.0)
        self.assertIsNone(run.tail_percentile(19))

    def test_every_pick_has_ten_beyond_and_the_next_rung_does_not(self):
        for n in range(1, 3000):
            p = run.tail_percentile(n)
            if p is None:
                self.assertLess(run.beyond(n, run.LADDER[0]), 10)
                continue
            self.assertGreaterEqual(run.beyond(n, p), 10)
            higher = [q for q in run.LADDER if q > p]
            if higher:
                self.assertLess(run.beyond(n, higher[0]), 10)

    def test_fixed_percentile_per_workload(self):
        xs = list(range(1, 1001))
        self.assertEqual(run.tail(xs, "search"), (80.0, 800))
        self.assertEqual(run.tail([5, 1, 3], "etl"), (100.0, 5))
        self.assertEqual(run.percentile([3, 1, 2], 50.0), 2)
        # search's percentile is the rule's pick at the fewest samples it
        # accepts, and one sample fewer would leave fewer than ten beyond
        p, need = run.TAIL["search"]
        self.assertEqual(run.tail_percentile(need), p)
        self.assertLess(run.beyond(need - 1, p), 10)

    def test_too_few_samples_fail_instead_of_moving_the_percentile(self):
        for workload, (_, need) in run.TAIL.items():
            with self.assertRaises(SystemExit):
                run.tail(list(range(need - 1)), workload)


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads_and_metrics_match_the_runner(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual(set(run.TAIL), set(run.WORKLOADS))
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))

    def test_layers_are_the_jvm_layers(self):
        with open(os.path.join(run.BENCH_SRC, "perfbench", "Workloads.scala")) as f:
            src = f.read()
        for m in self.spec["per_layer"]:
            stem = m["name"].rsplit(".", 1)[0] if m["name"].startswith(
                ("ops.cold_ms.", "ops.rebuild_ms.", "sources.touch_ms.")) else m["name"]
            self.assertIn(stem, src, m["name"])

    def test_refuses_to_run_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), d)
            shutil.copytree(run.HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)


class JvmSelfTest(unittest.TestCase):
    def test_generators_and_output_checks(self):
        classes = run.build()
        work = os.path.join(run.ROOT, ".bench_work", f"selftest-{os.getpid()}")
        os.makedirs(work)
        try:
            run.run_jvm(classes, "perfbench.SelfTest", ["--work", work], work)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
