import json
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import gen  # noqa: E402

SQL = """SELECT l_partkey AS sku, CAST(l_shipdate AS DATE) AS business_date,
       SUM(l_quantity) AS sum_qty, COUNT(*) AS n_lines
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""


class QueryCheck(unittest.TestCase):
    """The oracle rule on a small fixture: a faithful output passes, an
    output missing one row fails."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.fx = f"{self.tmp.name}/fx"
        gen.fixture(self.fx, 0.001, 1)
        self.out = f"{self.tmp.name}/out"
        os.makedirs(f"{self.out}/q_test")
        with open(f"{self.out}/oracle_sql.json", "w") as f:
            json.dump({"q_test": SQL}, f)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{self.fx}/lineitem.parquet'")
        self.result = con.execute(SQL).fetch_arrow_table()

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, table):
        pq.write_table(table, f"{self.out}/q_test/part-0.parquet")

    def test_faithful_output_passes(self):
        self.write(self.result.slice(0).take(list(reversed(range(self.result.num_rows)))))
        self.assertEqual(check.queries(self.fx, self.out), [])

    def test_one_dropped_row_fails(self):
        self.write(self.result.slice(1))
        failures = check.queries(self.fx, self.out)
        self.assertEqual(len(failures), 1)
        self.assertIn("rows oracle=", failures[0][1])

    def test_one_changed_value_fails(self):
        rows = self.result.to_pylist()
        rows[0]["n_lines"] += 1
        self.write(self.result.from_pylist(rows, schema=self.result.schema))
        self.assertIn("rows differ", check.queries(self.fx, self.out)[0][1])


if __name__ == "__main__":
    unittest.main()
