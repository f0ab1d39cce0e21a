"""Tests of the benchmark's metric arithmetic: python3 -m unittest discover perfbench"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))          # 100 samples
        p, v, beyond = metrics.tail(xs)
        self.assertEqual((p, v, beyond), (90, 90, 10))

    def test_sample_count_moves_the_percentile(self):
        xs = list(range(1, 51))           # 50 samples: p80 leaves 10 beyond
        self.assertEqual(metrics.tail(xs), (80, 40, 10))
        xs = list(range(1, 1001))         # 1000 samples: p99 leaves 10
        self.assertEqual(metrics.tail(xs), (99, 990, 10))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_too_few_samples_falls_back_to_median(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (50, 2, 1))


class GeomeanTest(unittest.TestCase):
    def test_geomean_of_per_query_medians(self):
        by = {"a": [10.0, 1000.0, 10.0], "b": [1000.0], "c": [1.0, 1.0]}
        # medians 10, 1000, 1 -> geomean 10^((1 + 3 + 0) / 3)
        self.assertAlmostEqual(metrics.geomean_of_medians(by), 10 ** (4 / 3))

    def test_every_query_weighs_the_same(self):
        few = {"a": [4.0], "b": [16.0]}
        many = {"a": [4.0] * 50, "b": [16.0]}
        self.assertAlmostEqual(metrics.geomean_of_medians(few), 8.0)
        self.assertAlmostEqual(metrics.geomean_of_medians(many), 8.0)


class FailuresTest(unittest.TestCase):
    """A fake registry: each query returns a table or throws, and the check
    hashes what it wrote, as the benchmark does with the engine's output."""

    REGISTRY = {
        "q_ok": lambda: (["k", "v"], [(1, 0.5), (2, 1.5)]),
        "q_wrong": lambda: (["k", "v"], [(1, 0.5), (2, 1.25)]),
        "q_throws": lambda: (_ for _ in ()).throw(RuntimeError("boom")),
    }

    def run_registry(self, out):
        import pyarrow as pa
        import pyarrow.parquet as pq
        records = []
        for q, fn in self.REGISTRY.items():
            try:
                cols, rows = fn()
                t = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
                pq.write_table(t, os.path.join(out, q))
                records.append({"q": q, "err": None})
            except Exception as e:  # noqa: BLE001 - counted, as the harness does
                records.append({"q": q, "err": repr(e)})
        return records

    def test_thrown_and_wrong_hash_both_fail(self):
        want_rows = [(2, 1.5), (1, 0.5)]
        expected = {q: {"rows": 2, "hash": metrics.fingerprint(["v", "k"],
                                                                [(v, k) for k, v in want_rows])}
                    for q in self.REGISTRY}
        with tempfile.TemporaryDirectory() as out:
            checks = self.run_registry(out)
            timed = [{"q": "q_ok", "err": None}, {"q": "q_throws", "err": "boom"}]
            attempted, failed, reasons = metrics.failures(
                timed, checks, expected,
                lambda q: metrics.parquet_fingerprint(os.path.join(out, q)))
        self.assertEqual(attempted, 5)
        self.assertEqual(failed, 3)
        self.assertTrue(any(r.startswith("q_wrong: got") for r in reasons))
        self.assertEqual(sum(r.startswith("q_throws") for r in reasons), 2)

    def test_missing_expectation_fails(self):
        attempted, failed, _ = metrics.failures(
            [], [{"q": "q_new", "err": None}], {}, lambda q: (0, ""))
        self.assertEqual((attempted, failed), (1, 1))


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, a, b):
        return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, -1, 0, 100),
                 self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60),     # overlaps span 2 by 10
                 self.span(4, 1, 80, 90),
                 self.span(5, 2, 15, 20)]     # grandchild: only span 2's
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - (60 - 10) - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 5)

    def test_child_outside_the_parent_is_clipped(self):
        spans = [self.span(1, -1, 0, 50), self.span(2, 1, 40, 70)]
        self.assertEqual(metrics.self_times(spans)[1], 40)


if __name__ == "__main__":
    unittest.main()
