"""Tests of tools/plan_diff.py on synthetic plan records.

    python3 -m unittest discover -s tools -p 'test_plan_diff.py'
"""
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff as pd  # noqa: E402


class PlanDiffTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.n = 0

    def tearDown(self):
        self.tmp.cleanup()

    def record(self, *rows):
        """A record file from (query, plan, ops) rows."""
        self.n += 1
        p = os.path.join(self.tmp.name, f"r{self.n}.jsonl")
        with open(p, "w") as f:
            for q, plan, ops in rows:
                f.write(json.dumps({"query": q, "plan": plan, "ops": ops}) + "\n")
        return pd.load(p)

    def test_order_within_a_query_does_not_matter(self):
        a = self.record(("q", "P1", ["A"]), ("q", "P2", ["B"]))
        b = self.record(("q", "P2", ["B"]), ("q", "P1", ["A"]))
        self.assertEqual(pd.diff(a, b), [])

    def test_multiplicity_counts(self):
        a = self.record(("q", "P1", ["A"]), ("q", "P1", ["A"]))
        b = self.record(("q", "P1", ["A"]))
        self.assertEqual(pd.diff(a, b), [("q", [("P1", ("A",))], [])])

    def test_a_plan_moved_between_queries_differs(self):
        a = self.record(("q1", "P1", ["A"]), ("q2", "P2", ["B"]))
        b = self.record(("q1", "P2", ["B"]), ("q2", "P1", ["A"]))
        self.assertEqual([q for q, _, _ in pd.diff(a, b)], ["q1", "q2"])

    def test_spelling_only_difference_reports_same_operators(self):
        a = self.record(("q", "Filter (rn = 1)", ["WindowGroupLimit"]))
        b = self.record(("q", "Filter (rn <= 1)", ["WindowGroupLimit"]))
        rows = pd.diff(a, b)
        out = io.StringIO()
        pd.report(rows, out)
        self.assertIn("same operators", out.getvalue())
        self.assertIn("< Filter (rn = 1)", out.getvalue())
        self.assertIn("> Filter (rn <= 1)", out.getvalue())

    def test_real_difference_reports_different_operators(self):
        a = self.record(("q", "Join Inner", ["SortMergeJoin"]))
        b = self.record(("q", "Join Inner, hint", ["BroadcastHashJoin"]))
        out = io.StringIO()
        pd.report(pd.diff(a, b), out)
        self.assertIn("different operators", out.getvalue())

    def test_two_unmatched_executions_compare_as_operator_multisets(self):
        a = self.record(("q", "P1", ["X"]), ("q", "P2", ["Y"]))
        b = self.record(("q", "Q1", ["Y"]), ("q", "Q2", ["X"]))
        out = io.StringIO()
        pd.report(pd.diff(a, b), out)
        self.assertIn("same operators", out.getvalue())
        self.assertNotIn("different operators", out.getvalue())
        c = self.record(("q", "Q1", ["X"]), ("q", "Q2", ["Z"]))
        out = io.StringIO()
        pd.report(pd.diff(a, c), out)
        self.assertIn("different operators", out.getvalue())
        self.assertNotIn("same operators", out.getvalue())
        for line in ("< ops: X", "< ops: Y", "> ops: X", "> ops: Z"):
            self.assertIn(line, out.getvalue())

    def test_each_unmatched_execution_keeps_its_own_ops(self):
        a = self.record(("q", "P", ["X"]), ("q", "P", ["Y"]))
        b = self.record(("q", "P", ["X"]))
        self.assertEqual(pd.diff(a, b), [("q", [("P", ("Y",))], [])])
        c = self.record(("q", "P", ["Y"]), ("q", "P", ["X"]))
        self.assertEqual(pd.diff(c, b), [("q", [("P", ("Y",))], [])])

    def test_a_query_on_one_side_only_differs(self):
        a = self.record(("q", "P1", ["A"]))
        b = self.record(("q", "P1", ["A"]), ("extra", "P9", ["Z"]))
        self.assertEqual(pd.diff(a, b), [("extra", [], [("P9", ("Z",))])])

    def test_exit_status(self):
        p = os.path.join(self.tmp.name, "same.jsonl")
        with open(p, "w") as f:
            f.write(json.dumps({"query": "q", "plan": "P", "ops": ["A"]}) + "\n")
        out = sys.stdout
        sys.stdout = io.StringIO()
        try:
            self.assertEqual(pd.main(["plan_diff.py", p, p]), 0)
        finally:
            sys.stdout = out


if __name__ == "__main__":
    unittest.main()
