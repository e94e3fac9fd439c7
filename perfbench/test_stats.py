"""Self-tests of the benchmark's arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


def nearest_rank(xs, p):
    return sorted(xs)[max(1, math.ceil(p / 100 * len(xs))) - 1]


class TailPercentile(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        for n in range(40, 500):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            v = nearest_rank(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # the next percentile up would leave fewer than ten beyond
            if p < 100:
                w = nearest_rank(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > w), 10 + (n + 99) // 100, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        # too few samples for ten beyond an upper percentile: the upper quartile
        for n in (1, 10, 11, 18, 22, 39):
            self.assertEqual(stats.tail_percentile(n), 75, n)

    def test_tail_of_ramp(self):
        value, p, n = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual((p, n), (90, 100))
        # the weights' mean rank on a ramp is n * 0.9 + 1/2
        self.assertAlmostEqual(value, 90.5, places=5)


class HarrellDavis(unittest.TestCase):
    def test_betainc(self):
        self.assertAlmostEqual(stats.betainc(1, 1, 0.3), 0.3)
        self.assertAlmostEqual(stats.betainc(2, 3, 0.4), 0.5248)
        self.assertAlmostEqual(stats.betainc(8.25, 2.75, 0.7) + stats.betainc(2.75, 8.25, 0.3), 1.0)

    def test_weights_and_symmetry(self):
        self.assertAlmostEqual(stats.harrell_davis([4.0] * 7, 75), 4.0)
        self.assertAlmostEqual(stats.harrell_davis([1.0, 2.0, 3.0, 4.0, 5.0], 50), 3.0)
        self.assertEqual(stats.harrell_davis([2.5], 75), 2.5)

    def test_steadier_than_one_order_statistic(self):
        # moving the largest sample moves the estimate by its small weight,
        # not by the whole jump a nearest-rank maximum would make
        xs = [1.0, 1.1, 1.2, 1.4, 1.5, 2.0, 2.2, 2.6, 3.0, 3.1]
        base = stats.harrell_davis(xs, 75)
        moved = stats.harrell_davis(xs[:-1] + [6.2], 75)
        self.assertLess(moved - base, 0.2 * (6.2 - 3.1))
        self.assertTrue(2.0 < base < 3.1)


class FailedFrac(unittest.TestCase):
    def test_share(self):
        self.assertEqual(stats.failed_frac(40, 0), 0.0)
        self.assertEqual(stats.failed_frac(40, 10), 0.25)

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


class Intervals(unittest.TestCase):
    def test_merge_and_subtract(self):
        self.assertEqual(stats.merge([(5, 7), (0, 2), (1, 3), (7, 8)]), [(0, 3), (5, 8)])
        self.assertEqual(stats.subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 12)]),
                         [(0, 2), (4, 9)])
        self.assertEqual(stats.subtract([(0, 10)], []), [(0, 10)])


def span(i, parent, module, start, end):
    return {"id": i, "parent": parent, "module": module, "name": f"s{i}",
            "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, -1, "lib", 0, 1000), span(1, 0, "ops", 100, 300),
                 span(2, 0, "ops", 250, 600), span(3, 2, "api", 400, 500)]
        t = {i: stats.length(iv) / 1e3 for i, iv in stats.self_intervals(spans).items()}
        self.assertAlmostEqual(t[0], 0.5)   # 1000 - union(100..600)
        self.assertAlmostEqual(t[1], 0.2)
        self.assertAlmostEqual(t[2], 0.25)  # 350 - 100
        self.assertAlmostEqual(t[3], 0.1)

    def test_layer_rollup(self):
        spans = [span(0, -1, "lib", 0, 1000), span(1, 0, "ops", 100, 300)]
        job = {"span": 1, "start_ms": 150, "end_ms": 250, "stages": 2, "stages_skipped": 1,
               "tasks": 8, "failed_tasks": 0, "task_s": 0.3, "task_cpu_s": 0.25,
               "shuffle_bytes": 100, "spill_bytes": 0}
        query = {"analysis_start_ms": 120, "analysis_s": 0.01,
                 "optimization_start_ms": 130, "optimization_s": 0.02,
                 "planning_start_ms": 150, "planning_s": 0.005,
                 "exec_s": 0.1, "files_written": 3}
        m = stats.layer_metrics({"spans": spans, "jobs": [job], "queries": [query],
                                 "gc_s": 0.05}, wall_s=1.0, rounds=1)
        self.assertEqual(m["ops.jobs"], 1)
        self.assertEqual(m["ops.tasks"], 8)
        self.assertAlmostEqual(m["ops.self_s"], 0.2)
        self.assertAlmostEqual(m["ops.driver_gap_s"], 0.1)
        self.assertAlmostEqual(m["lib.self_s"], 0.8)
        self.assertAlmostEqual(m["lib.driver_gap_s"], 0.8)
        self.assertAlmostEqual(m["ops.plan_s"], 0.035)
        self.assertEqual(m["ops.files_written"], 3)
        self.assertEqual(m["lib.jobs"], 0)
        # one job covers 150..250 of the 1000 ms wall; the driver gap is the
        # rest, and only the 5 ms of planning that overlap the job add to it
        self.assertAlmostEqual(m["trace.job_wall_share"], 0.1)
        self.assertAlmostEqual(m["trace.gap_plan_wall_share"], 0.905)
        self.assertEqual(len([k for k in m if k.split(".")[0] in stats.LAYERS]),
                         len(stats.LAYERS) * len(stats.LAYER_METRICS))
        halved = stats.layer_metrics({"spans": spans, "jobs": [job], "queries": [query],
                                      "gc_s": 0.05}, wall_s=1.0, rounds=2)
        self.assertAlmostEqual(halved["ops.tasks"], 4)
        self.assertAlmostEqual(halved["trace.job_wall_share"], 0.1)
        by_name = stats.by_span_name({"spans": spans, "jobs": [job], "queries": [query],
                                      "gc_s": 0.05})
        self.assertEqual(by_name["ops/s1"]["jobs"], 1)
        self.assertAlmostEqual(by_name["lib/s0"]["self_s"], 0.8)


class Spread(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


if __name__ == "__main__":
    unittest.main()
