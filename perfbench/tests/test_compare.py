import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402

SPEC = {"pass_s": {"name": "pass_s", "better": "lower", "bound": 0.1}}


class Compare(unittest.TestCase):
    def test_no_shared_workload_is_reported(self):
        out = compare.compare({"w1": [{"pass_s": 1.0}]}, {"w2": [{"pass_s": 1.0}]}, SPEC)
        self.assertEqual(out, ["no workload is shared by both sets"])

    def test_no_shared_metric_is_reported(self):
        out = compare.compare({"w": [{"pass_s": 1.0}]}, {"w": [{"op_p50_s": 1.0}]}, SPEC)
        self.assertEqual(out, ["w: no metric is shared by both sets"])

    def test_empty_sets_are_reported(self):
        self.assertEqual(compare.compare({}, {}, SPEC), ["no workload is shared by both sets"])

    def test_regression_beyond_the_bound(self):
        a = {"w": [{"pass_s": x} for x in (1.0, 1.1, 0.9)]}
        b = {"w": [{"pass_s": x} for x in (1.3, 1.2, 1.25)]}
        line = compare.compare(a, b, SPEC)[1]
        self.assertIn("REGRESSION", line)
        self.assertIn("B wins 0/3", line)

    def test_within_bound_and_unbounded(self):
        a = {"w": [{"pass_s": 1.0, "jobs.count": 5}]}
        b = {"w": [{"pass_s": 0.98, "jobs.count": 4}]}
        out = compare.compare(a, b, SPEC)
        self.assertIn("no bound", out[1])
        self.assertIn("within bound", out[2])
        self.assertIn("B wins 1/1", out[2])


if __name__ == "__main__":
    unittest.main()
