import glob
import os
import sys
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import run  # noqa: E402


class OneDayBackfill(unittest.TestCase):
    """Builds the benchmark and runs a traced one-day backfill of sf0.001
    orders through `DailyIngest.run`."""

    @classmethod
    def setUpClass(cls):
        cls.res = run.measure("daily_backfill", seed=7, seconds=0, trace=1,
                              days=1, orders=1500)

    def test_phases_cover_the_day(self):
        day = self.res["ops"][0]
        self.assertTrue(day["ok"], day["err"])
        _, _, execs, _ = run.op_trace(self.res, day)
        split = run.day_phases(day, execs)
        self.assertIsNotNone(split, "temp, final_staged or agg action not found")
        phases = split[0]
        for p in ("land", "promote", "agg"):
            self.assertGreater(phases[p], 0.0, p)
        for p in ("retention", "archive_notify"):
            self.assertGreaterEqual(phases[p], 0.0, p)
        self.assertLess(abs(sum(phases.values()) - day["wall_s"]) / day["wall_s"], 0.10)

    def test_output_checks_and_a_dropped_row_fails(self):
        self.assertEqual(check.backfill(self.res["inputs_dir"], self.res), [])
        part = sorted(glob.glob(f'{self.res["work_dir"]}/final/*/*.parquet'))[0]
        t = pq.ParquetFile(part).read()
        pq.write_table(t.slice(1), part)
        failures = check.backfill(self.res["inputs_dir"], self.res)
        self.assertIn("final", [name for name, _ in failures])


if __name__ == "__main__":
    unittest.main()
