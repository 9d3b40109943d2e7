"""Tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class DriverGapTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # three jobs overlap, as jobs on parallel lanes do: their walls sum
        # to 15 in a 10-unit pass, so wall minus the sum would be -5
        jobs = [(1, 6), (2, 7), (3, 8)]
        gap, busy = metrics.driver_gap(0, 10, jobs)
        self.assertEqual(busy, 7)
        self.assertEqual(gap, 3)

    def test_disjoint_and_nested_jobs(self):
        gap, busy = metrics.driver_gap(0, 20, [(1, 3), (5, 9), (6, 7), (15, 16)])
        self.assertEqual(busy, 7)
        self.assertEqual(gap, 13)

    def test_jobs_are_clipped_to_the_pass(self):
        gap, busy = metrics.driver_gap(10, 20, [(5, 12), (18, 25), (30, 31)])
        self.assertEqual(busy, 4)
        self.assertEqual(gap, 6)


class SpanTest(unittest.TestCase):
    def test_self_time_excludes_direct_children(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 10},
                 {"id": 1, "parent": 0, "start": 1, "end": 4},
                 {"id": 2, "parent": 0, "start": 5, "end": 9},
                 {"id": 3, "parent": 2, "start": 6, "end": 7}]
        self.assertEqual(metrics.self_times(spans), {0: 3, 1: 3, 2: 3, 3: 1})

    def test_layer_counts_attribute_jobs_to_their_span(self):
        p = {"start_ms": 0, "end_ms": 100, "wall_s": 0.1, "files": 2,
             "spans": [[0, "pipelines.tiki", -1, 0, 60], [1, "pipelines.fx", -1, 60, 100]],
             # id, span, desc, start, end, stages, tasks, failures, task_ms,
             # shuffle read/write, spill, output
             "jobs": [[0, 0, "", 5, 30, 2, 8, 0, 400, 0, 10, 0, 1000],
                      [1, 0, "", 20, 50, 1, 1, 0, 20, 0, 0, 0, 0],
                      [2, 1, "", 70, 80, 1, 1, 0, 10, 0, 0, 0, 0]]}
        c = metrics.layer_counts(p)
        self.assertEqual(c["pipelines.tiki.jobs"], 2)
        self.assertEqual(c["pipelines.tiki.s"], 0.06)
        self.assertEqual(c["spark.jobs"], 3)
        self.assertEqual(c["spark.tiny_jobs"], 2)
        self.assertAlmostEqual(c["spark.job_busy_s"], 0.055)
        self.assertAlmostEqual(c["spark.driver_gap_s"], 0.045)
        self.assertEqual(c["trace.span_coverage"], 1.0)
        self.assertEqual(c["trace.unattributed_jobs"], 0)


class TailTest(unittest.TestCase):
    def test_few_samples_report_the_median(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3]), (50.0, 3, 5))
        self.assertEqual(metrics.tail([2, 1]), (50.0, 1.5, 2))

    def test_ten_samples_stay_beyond_the_reported_one(self):
        xs = list(range(1, 31))
        pct, value, n = metrics.tail(xs)
        self.assertEqual(value, 20)
        self.assertEqual(sum(1 for x in xs if x > value), 10)


class CheckTest(unittest.TestCase):
    def table(self, prices=(1.5, 2.25, 0.3)):
        return pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                         "name": ["a", "b", "c"],
                         "price": pa.array(prices, pa.float64())})

    def test_identical_rows_in_any_order_pass(self):
        t = self.table()
        self.assertIsNone(check.diff(t, t.take([2, 0, 1])))

    def test_corrupted_values_are_caught(self):
        want = self.table()
        self.assertIn("differing row", check.diff(want, self.table((1.5, 2.25, 0.1 + 0.2))))
        self.assertIn("row count", check.diff(want, want.slice(0, 2)))
        self.assertIn("type of id", check.diff(
            want, want.set_column(0, "id", pa.array([1, 2, 3], pa.int32()))))
        self.assertIn("columns differ", check.diff(want, want.drop(["name"])))

    def test_floats_compare_by_bit_pattern(self):
        def t(*xs):
            return pa.table({"x": pa.array(xs, pa.float64())})
        self.assertIsNone(check.diff(t(float("nan"), 1.0), t(1.0, -float("nan"))))
        self.assertIn("differing row", check.diff(t(0.0, 1.0), t(-0.0, 1.0)))
        self.assertIn("differing row", check.diff(t(None, 1.0), t(0.0, 1.0)))
        self.assertIsNone(check.diff(t(None, 2.5), t(2.5, None)))

    def test_a_corrupted_output_file_fails_the_pass(self):
        want = {"mart": self.table()}
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "mart"))
            pq.write_table(self.table(), os.path.join(d, "mart", "part-0.parquet"))
            pq.write_table(self.table().slice(0, 0), os.path.join(d, "mart", "part-1.parquet"))
            open(os.path.join(d, "mart", "_SUCCESS"), "w").close()
            self.assertEqual(check.check_pass(d, want), [])
            pq.write_table(self.table((1.5, 2.5, 0.3)), os.path.join(d, "mart", "part-0.parquet"))
            self.assertEqual(len(check.check_pass(d, want)), 1)
            os.remove(os.path.join(d, "mart", "part-0.parquet"))
            os.remove(os.path.join(d, "mart", "part-1.parquet"))
            self.assertIn("no parquet output", check.check_pass(d, want)[0])


class GenerateTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for workload in gen.GENERATORS:
            with tempfile.TemporaryDirectory() as d:
                a = gen.generate(workload, 7, os.path.join(d, "a"))
                b = gen.generate(workload, 7, os.path.join(d, "b"))
                c = gen.generate(workload, 8, os.path.join(d, "c"))
                self.assertEqual(a, b)
                for root, _, files in os.walk(os.path.join(d, "a")):
                    for f in files:
                        other = os.path.join(d, "b", os.path.relpath(os.path.join(root, f),
                                                                      os.path.join(d, "a")))
                        with open(os.path.join(root, f), "rb") as x, open(other, "rb") as y:
                            self.assertEqual(x.read(), y.read(), f"{workload}: {f}")
                main_table = {"etl_backfill": "truth/snapshots.parquet",
                              "media_incremental": "documents.parquet"}[workload]
                self.assertNotEqual(pq.read_table(os.path.join(d, "a", main_table)),
                                    pq.read_table(os.path.join(d, "c", main_table)))


if __name__ == "__main__":
    unittest.main()
