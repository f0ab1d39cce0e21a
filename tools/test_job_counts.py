"""Tests for tools/job_counts.py: python3 -m unittest discover tools"""
import os
import tempfile
import unittest

import job_counts

LOG_A = """[stage] q1 3 tasks=   1 runMs=       5 cpuMs=       4 | x
[cutover] q1 percentile_sort evidence=6 (footer) threshold=2000000 branch=sort
[inspect] q1                 jobs=5 construct=2 0.10 0.09 0.11
[info] [inspect] q2          jobs=3 construct=0 0.05 0.04 0.05
[inspect] q3                 jobs=4 construct=1 0.07 0.07 0.06
"""
LOG_B = """[inspect] q1                 jobs=4 construct=2 0.10 0.09 0.11
[inspect] q2                 jobs=3 construct=1 0.05 0.04 0.05
[inspect] q4                 jobs=9 construct=9 0.01 0.01 0.01
"""


class JobCountsTest(unittest.TestCase):
    def logs(self, d):
        paths = []
        for name, text in (("a.log", LOG_A), ("b.log", LOG_B)):
            paths.append(os.path.join(d, name))
            with open(paths[-1], "w") as f:
                f.write(text)
        return paths

    def test_parses_inspect_lines_only(self):
        with tempfile.TemporaryDirectory() as d:
            a, _ = self.logs(d)
            self.assertEqual(job_counts.counts(a),
                             {"q1": (5, 2), "q2": (3, 0), "q3": (4, 1)})

    def test_gain_in_construction_jobs_fails(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = self.logs(d)
            lines, gained = job_counts.compare(job_counts.counts(a),
                                               job_counts.counts(b))
            self.assertEqual(gained, ["q2"])
            self.assertIn("total over 2 queries: jobs 8 → 7, "
                          "construct 2 → 3", lines)
            self.assertIn("only in A: q3", lines)
            self.assertIn("only in B: q4", lines)
            self.assertEqual(job_counts.main(["job_counts", a, b]), 1)
            self.assertEqual(job_counts.main(["job_counts", a, a]), 0)


if __name__ == "__main__":
    unittest.main()
