"""Tests of tools/perfbench_pairs.py on synthetic run outputs.

    python3 -m unittest discover -s tools -p 'test_perfbench_pairs.py'
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfbench_pairs as pp  # noqa: E402

BENCHMARK = {
    "end_to_end": [
        {"name": "op_p50_ms", "unit": "ms", "better": "lower", "bound": 0.25},
        {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    ],
    "per_layer": [{"name": "exec.ms", "unit": "ms", "better": "lower"}],
}


class PairsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.bench = self.path("BENCHMARK.json")
        with open(self.bench, "w") as f:
            json.dump(BENCHMARK, f)
        self.n = 0

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def run_file(self, workload, correct=True, failed=0, **metrics):
        """One synthetic run.py output: a log line, the record, the result."""
        self.n += 1
        p = self.path(f"run{self.n}.out")
        with open(p, "w") as f:
            f.write("[perfbench] not json\n")
            f.write(json.dumps({"workload": workload, "trace": 0, "run_record": {}}) + "\n")
            f.write(json.dumps({"correct": correct, "attempted": 10, "failed": failed,
                                "metrics": {k: {"value": v, "unit": "x"}
                                            for k, v in metrics.items()}}) + "\n")
        return p

    def test_gain_holds_on_ten_wins_beyond_the_parent_iqr(self):
        parent = [1000 + 10 * i for i in range(10)]
        change = [200 + 10 * i for i in range(10)]
        s = pp.compare(parent, change, "lower", 0.25)
        self.assertEqual((s["wins"], s["ties"], s["losses"]), (10, 0, 0))
        self.assertTrue(s["gain"])
        self.assertTrue(s["bound"])
        self.assertAlmostEqual(s["parent"][0], 1045)
        self.assertAlmostEqual(s["ratio"], 245 / 1045)

    def test_gain_needs_nine_tenths_of_the_pairs(self):
        parent = [1000] * 10
        change = [500] * 8 + [1500] * 2
        s = pp.compare(parent, change, "lower")
        self.assertEqual(s["wins"], 8)
        self.assertFalse(s["gain"])

    def test_ties_count_for_neither_side(self):
        s = pp.compare([5, 5, 5, 5], [5, 4, 5, 6], "lower")
        self.assertEqual((s["wins"], s["ties"], s["losses"]), (1, 2, 1))
        self.assertFalse(s["gain"])

    def test_gain_needs_a_gap_beyond_the_parent_iqr(self):
        parent = [100, 200, 300, 400, 500, 600, 700, 800, 900, 1000]
        change = [p - 1 for p in parent]  # wins every pair by too little
        s = pp.compare(parent, change, "lower")
        self.assertEqual(s["wins"], 10)
        self.assertFalse(s["gain"])

    def test_higher_is_better_and_its_bound(self):
        s = pp.compare([2.0, 2.0], [1.6, 1.6], "higher", 0.25)
        self.assertEqual(s["losses"], 2)
        self.assertTrue(s["bound"])  # 20% worse, inside 25%
        s = pp.compare([2.0, 2.0], [1.4, 1.4], "higher", 0.25)
        self.assertFalse(s["bound"])  # 30% worse

    def test_report_groups_by_workload_and_flags_bad_runs(self):
        parent = [self.run_file("etl_serve", op_p50_ms=1000 + i, ops_per_s=2.0)
                  for i in range(10)] + [self.run_file("suite", op_p50_ms=500, ops_per_s=2.0)]
        change = [self.run_file("etl_serve", op_p50_ms=200 + i, ops_per_s=5.0)
                  for i in range(9)]
        change += [self.run_file("etl_serve", correct=False, op_p50_ms=300, ops_per_s=4.0),
                   self.run_file("suite", failed=1, op_p50_ms=700, ops_per_s=2.0)]
        out = pp.report(parent, change, self.bench)
        lines = out.splitlines()
        self.assertIn("== etl_serve: 10 pairs", lines)
        self.assertIn("== suite: 1 pairs", lines)
        etl = out.split("== suite")[0]
        self.assertIn("change: 9/10 runs correct with 0 failed; not: " + change[9], etl)
        self.assertRegex(etl, r"op_p50_ms \(lower is better\).*wins 10/10, ties 0; "
                              r"gain holds; bound inside 0.25")
        self.assertRegex(etl, r"ops_per_s \(higher is better\).*gain holds")
        suite = out.split("== suite")[1]
        self.assertIn("change: 0/1 runs correct", suite)
        self.assertRegex(suite, r"op_p50_ms .*1.400x; wins 0/1.*bound OUTSIDE 0.25")

    def test_pairs_must_run_the_same_workload(self):
        with self.assertRaises(ValueError):
            pp.report([self.run_file("suite", op_p50_ms=1)],
                      [self.run_file("etl_serve", op_p50_ms=1)], self.bench)
        with self.assertRaises(ValueError):
            pp.report([self.run_file("suite", op_p50_ms=1)], [], self.bench)


if __name__ == "__main__":
    unittest.main()
