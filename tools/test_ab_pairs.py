"""Tests of the A/B pair verdict: python3 -m unittest discover -s tools -p 'test_*.py'"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs  # noqa: E402


class VerdictTest(unittest.TestCase):
    def test_lower_is_better_gain_holds(self):
        parent = [3500, 3400, 3700, 3600, 3550, 3450, 3650, 3500, 3580, 3620]
        change = [2400, 2300, 2500, 2450, 2350, 2380, 2420, 2510, 2390, 3700]
        v = ab_pairs.verdict(parent, change, "lower")
        self.assertEqual(v["wins"], 9)
        self.assertTrue(v["holds"])

    def test_eight_of_ten_is_not_a_gain(self):
        parent = [10.0] * 10
        change = [5.0] * 8 + [11.0, 12.0]
        self.assertFalse(ab_pairs.verdict(parent, change, "lower")["holds"])

    def test_higher_is_better_and_ties_count_for_neither(self):
        parent = [1.0, 1.0, 1.0, 1.0]
        change = [1.0, 2.0, 2.0, 2.0]
        v = ab_pairs.verdict(parent, change, "higher")
        self.assertEqual(v["wins"], 3)
        self.assertFalse(v["holds"])

    def test_median_gap_must_exceed_parent_iqr(self):
        parent = [100, 200, 300, 400, 500, 600, 700, 800, 900, 1000]
        change = [p - 10 for p in parent]
        v = ab_pairs.verdict(parent, change, "lower")
        self.assertEqual(v["wins"], 10)
        self.assertFalse(v["holds"])

    def test_more_failed_ops_voids_a_gain(self):
        parent = [3500, 3400, 3700, 3600, 3550, 3450, 3650, 3500, 3580, 3620]
        change = [2400] * 10
        self.assertTrue(ab_pairs.verdict(parent, change, "lower", 1, 1)["holds"])
        self.assertFalse(ab_pairs.verdict(parent, change, "lower", 0, 1)["holds"])

    def test_run_length_comes_from_the_benchmark(self):
        seconds, metrics = ab_pairs.benchmark()
        self.assertGreater(seconds, 0)
        self.assertIn(("p50_ms", "lower", 0.25), metrics)


class RegressionTest(unittest.TestCase):
    def test_median_worse_by_more_than_the_bound_is_worse(self):
        parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [130] * 10
        self.assertEqual(ab_pairs.regression(parent, change, "lower", 0.25), "worse")
        self.assertEqual(ab_pairs.regression(change, parent, "higher", 0.2), "worse")

    def test_worse_within_the_bound_is_ok(self):
        parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [120] * 10
        self.assertEqual(ab_pairs.regression(parent, change, "lower", 0.25), "ok")

    def test_parent_spread_wider_than_the_bound_is_unresolved(self):
        parent = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        change = [p + 5 for p in parent]
        self.assertEqual(ab_pairs.regression(parent, change, "lower", 0.25), "unresolved")

    def test_wide_spread_but_every_change_run_better_is_ok(self):
        parent = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        change = [40, 45, 42, 41, 44, 43, 46, 47, 48, 49]
        self.assertEqual(ab_pairs.regression(parent, change, "lower", 0.25), "ok")
        higher = [p + 200 for p in parent]
        self.assertEqual(ab_pairs.regression(parent, higher, "higher", 0.25), "ok")


class FaceLatencyTest(unittest.TestCase):
    def test_face_medians_read_the_runs_artifact(self):
        with tempfile.TemporaryDirectory() as tree:
            os.makedirs(os.path.join(tree, ".bench_out"))
            plain = {"lat_face": ["match", "fuzzy", "match", "match", "fuzzy"],
                     "lat_ms": [300.0, 900.0, 100.0, 200.0, 700.0]}
            path = os.path.join(tree, ".bench_out", "result-search-seed7-trace0.json")
            with open(path, "w") as f:
                json.dump({"phases": {"plain": plain}}, f)
            self.assertEqual(ab_pairs.face_medians(tree, "search", 7),
                             {"match": 200.0, "fuzzy": 800.0})

    def test_face_table_shows_each_sides_median_and_quartiles(self):
        parent = [{"match": 300.0, "fuzzy": 900.0}, {"match": 320.0, "fuzzy": 1000.0},
                  {"match": 310.0, "fuzzy": 950.0}]
        change = [{"match": 305.0, "fuzzy": 500.0}, {"match": 300.0, "fuzzy": 520.0},
                  {"match": 315.0}]
        lines = ab_pairs.face_table(parent, change)
        self.assertEqual(len(lines), 3)  # header, fuzzy, match
        fuzzy = lines[1].split()
        self.assertEqual(fuzzy[0], "fuzzy")
        self.assertEqual(fuzzy[1], "950")     # parent median
        self.assertEqual(fuzzy[4], "510")     # change median of the runs that served fuzzy
        self.assertTrue(lines[2].split()[0] == "match")


if __name__ == "__main__":
    unittest.main()
