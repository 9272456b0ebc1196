import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(run.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(run.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_p90_needs_ten_samples_beyond_it(self):
        for n in (1, 10, 99):
            self.assertIsNone(run.p90_supported([float(x) for x in range(n)]))
        xs = [float(x) for x in range(1, 101)]
        random.Random(3).shuffle(xs)
        p = run.p90_supported(xs)
        self.assertEqual(p, 90.0)
        self.assertEqual(sum(1 for x in xs if x > p), 10)

    def test_p90_keeps_ten_beyond_at_any_size(self):
        rnd = random.Random(5)
        for n in (100, 101, 109, 110, 150, 1000):
            xs = [rnd.random() for _ in range(n)]
            p = run.p90_supported(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > p), 10)
            self.assertGreaterEqual(sum(1 for x in xs if x <= p), 0.9 * n - 1)


class Attribution(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(run.union_ms([]), 0)

    def test_day_split_by_output_directory(self):
        op = {"start_ms": 1000, "wall_s": 2.0}
        execs = [{"id": 1, "start": 1100, "end": 1400, "out": "file:/w/temp"},
                 {"id": 2, "start": 1450, "end": 1800, "out": "file:/w/final_staged"},
                 {"id": 3, "start": 1900, "end": 2100, "out": "file:/w/agg/sku_daily"},
                 {"id": 4, "start": 2150, "end": 2300, "out": "file:/w/agg/sales_daily"},
                 {"id": 5, "start": 2350, "end": 2500, "out": ""}]
        phases, staged = run.day_phases(op, execs)
        self.assertEqual([e["id"] for e in staged], [2])
        self.assertAlmostEqual(phases["land"], 0.4)
        self.assertAlmostEqual(phases["promote"], 0.5)
        self.assertAlmostEqual(phases["agg"], 0.4)
        self.assertAlmostEqual(phases["retention"], 0.2)
        self.assertAlmostEqual(phases["archive_notify"], 0.5)
        self.assertAlmostEqual(sum(phases.values()), op["wall_s"])

    def test_day_without_its_writes_is_not_attributed(self):
        op = {"start_ms": 0, "wall_s": 1.0}
        self.assertIsNone(run.day_phases(op, [{"id": 1, "start": 1, "end": 2, "out": ""}]))


if __name__ == "__main__":
    unittest.main()
