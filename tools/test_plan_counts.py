"""Tests for tools/plan_counts.py: python3 -m unittest discover tools"""
import contextlib
import io
import os
import tempfile
import unittest

import plan_counts

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- Exchange (7)

(3) BroadcastExchange
Input [1]: [a#1L]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=1]

(4) Exchange
Input [1]: [a#1L]
Arguments: hashpartitioning(a#1L, 4), REPARTITION_BY_NUM, [plan_id=2]

(5) ReusedExchange [Reuses operator id: 4]
Output [1]: [a#2L]

(6) Window
Arguments: [row_number() windowspecdefinition(a#1L)], [a#1L]

(7) Exchange
Input [1]: [a#1L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]

(8) HashAggregate [codegen id : 2]
Input [1]: [a#1L]

(9) CartesianProduct
Join condition: None
"""


class PlanCountsTest(unittest.TestCase):
    def test_counts_shuffles_not_broadcasts_or_reuses(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "q1_before.txt")
            with open(path, "w") as f:
                f.write(PLAN)
            self.assertEqual(plan_counts.counts(path),
                             {"exchange": 2, "hashagg": 1, "window": 1,
                              "cartesian": 1, "broadcast": 1})
            self.assertEqual(plan_counts.queries(d, "before"), {"q1"})

    def test_gained_operator_fails(self):
        fewer = PLAN.replace("(8) HashAggregate", "(8) Project")
        more = PLAN + "\n(10) BroadcastExchange\nInput [1]: [a#1L]\n"
        with tempfile.TemporaryDirectory() as d:
            for name, text in (("q1_before", PLAN), ("q1_fewer", fewer),
                               ("q1_more", more)):
                with open(os.path.join(d, name + ".txt"), "w") as f:
                    f.write(text)
            self.assertEqual(plan_counts.counts(
                os.path.join(d, "q1_more.txt"))["broadcast"], 2)
            main = plan_counts.main
            with contextlib.redirect_stdout(io.StringIO()):
                self.assertEqual(main(["p", d, "before", "fewer"]), 0)
                self.assertEqual(main(["p", d, "before", "before"]), 0)
                self.assertEqual(main(["p", d, "before", "more"]), 1)
                self.assertEqual(main(["p", d, "fewer", "before"]), 1)


if __name__ == "__main__":
    unittest.main()
