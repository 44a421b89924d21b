"""Tests of the metric arithmetic: python3 -m unittest discover -s perfbench"""
import unittest

import metrics


def step(jobs, construct=(0, 400), wall_ms=1000, **kw):
    s = {"name": "q", "ok": True, "wall_s": wall_ms / 1e3,
         "construct_s": (construct[1] - construct[0]) / 1e3,
         "write_s": (wall_ms - construct[1]) / 1e3,
         "window_ms": [0, construct[1], wall_ms], "jobs": jobs}
    s.update(kw)
    return s


class UnionTest(unittest.TestCase):
    def test_overlapping_intervals_count_once(self):
        self.assertAlmostEqual(metrics.union_s([(0, 1000), (500, 1500)]), 1.5)

    def test_nested_and_unsorted(self):
        self.assertAlmostEqual(metrics.union_s([(200, 300), (0, 1000), (100, 900)]), 1.0)

    def test_disjoint_and_touching(self):
        self.assertAlmostEqual(metrics.union_s([(0, 100), (100, 200), (500, 600)]), 0.3)

    def test_empty(self):
        self.assertEqual(metrics.union_s([]), 0.0)

    def test_broadcast_overlap_keeps_driver_only_time_non_negative(self):
        # a join job waits on two broadcast jobs that run beside it: their
        # sum (2.4 s) exceeds the 1 s step, their union does not
        jobs = [(0, 900, "a"), (50, 800, "b"), (100, 850, "c")]
        layers = metrics.step_layers(step(jobs))
        self.assertAlmostEqual(layers["spark.job_s"], 0.9)
        self.assertAlmostEqual(layers["spark.driver_only_s"], 0.1)
        self.assertEqual(metrics.reconcile(step(jobs), layers, 0.1), [])


class StepLayersTest(unittest.TestCase):
    def test_jobs_split_between_construction_and_write(self):
        jobs = [(10, 110, "parquet at Tables.scala:15"), (300, 350, "collect at Dedup.scala:9"),
                (500, 900, "csv at Csv.scala:88")]
        layers = metrics.step_layers(step(jobs))
        self.assertEqual(layers["operators.construct_jobs"], 2)
        self.assertAlmostEqual(layers["operators.construct_job_s"], 0.15)
        self.assertAlmostEqual(layers["operators.construct_driver_s"], 0.25)
        self.assertEqual(layers["sources.schema_jobs"], 2)
        self.assertAlmostEqual(layers["sources.schema_job_s"], 0.5)

    def test_stream_batches(self):
        b = {"rows": 10, "state_rows": 7, "state_commit_ms": 5, "dropped_late": 0,
             "durations_ms": {"addBatch": 800, "queryPlanning": 50, "walCommit": 20,
                              "commitOffsets": 10, "triggerExecution": 1000}}
        layers = metrics.step_layers(step([], batches=[b, dict(b, state_rows=9)]))
        self.assertAlmostEqual(layers["streaming.add_batch_s"], 1.6)
        self.assertAlmostEqual(layers["streaming.commit_s"], 0.07)
        self.assertEqual(layers["streaming.state_rows"], 9)


class ReconcileTest(unittest.TestCase):
    def test_job_outside_the_step_is_flagged(self):
        s = step([(0, 1300, "x")])
        self.assertEqual(len(metrics.reconcile(s, metrics.step_layers(s), 0.1)), 1)

    def test_unaccounted_wall_time_is_flagged(self):
        s = step([], write_s=0.3)
        self.assertEqual(len(metrics.reconcile(s, metrics.step_layers(s), 0.1)), 1)


class SteadyTest(unittest.TestCase):
    def test_untraced_passes_right_after_the_cold_one(self):
        passes = [{"pass": i, "traced": i in (0, 2, 5)} for i in range(8)]
        self.assertEqual([p["pass"] for p in metrics.steady(passes)], [1, 3])

    def test_every_warm_pass_when_none_qualifies(self):
        passes = [{"pass": i, "traced": True} for i in range(6)]
        self.assertEqual([p["pass"] for p in metrics.steady(passes)], [1, 2, 3, 4, 5])


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(48)))[0], 75)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90)
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(list(range(14)))[0])


if __name__ == "__main__":
    unittest.main()
