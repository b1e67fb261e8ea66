"""Tests of the result check and the input generator:
python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gendata  # noqa: E402
import oracle  # noqa: E402

ORACLE = ("SELECT r_regionkey AS k, r_name AS name, "
          "CASE WHEN r_regionkey = 4 THEN NULL ELSE r_regionkey * 1.5 END "
          "AS x FROM region ORDER BY k")


class CheckTest(unittest.TestCase):
    """The oracle comparison on a tiny frame: region's five rows."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.results = os.path.join(self.tmp.name, "results")
        gendata.generate(self.data, 5, 0.0001)
        os.makedirs(self.results)
        with open(os.path.join(self.results, "oracle_sql.json"), "w") as f:
            json.dump({"r": ORACLE}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, columns):
        os.makedirs(os.path.join(self.results, "r"), exist_ok=True)
        pq.write_table(pa.table(columns),
                       os.path.join(self.results, "r", "part-0.parquet"))
        return oracle.check(self.data, self.results)

    def test_column_and_row_order_do_not_matter(self):
        # columns out of name order, rows reversed, NaN for the NULL
        rows = list(reversed(range(5)))
        bad, unchecked = self.write({
            "x": [float("nan") if k == 4 else k * 1.5 for k in rows],
            "name": [gendata.REGIONS[k] for k in rows],
            "k": pa.array(rows, pa.int32())})
        self.assertEqual(bad, {})
        self.assertEqual(unchecked, {})

    def test_a_changed_value_is_a_named_failure(self):
        bad, _ = self.write({
            "k": pa.array(range(5), pa.int32()),
            "name": gendata.REGIONS,
            "x": [0.0, 1.5, 3.0, 4.5000001, None]})
        self.assertEqual(list(bad), ["r"])
        self.assertIn("value diff", bad["r"])

    def test_a_missing_row_is_a_named_failure(self):
        bad, _ = self.write({
            "k": pa.array(range(4), pa.int32()),
            "name": gendata.REGIONS[:4],
            "x": [0.0, 1.5, 3.0, 4.5]})
        self.assertIn("shape", bad["r"])

    def test_a_result_without_oracle_fails(self):
        os.makedirs(os.path.join(self.results, "other"))
        pq.write_table(pa.table({"a": [1]}),
                       os.path.join(self.results, "other", "p.parquet"))
        bad, _ = self.write({
            "k": pa.array(range(5), pa.int32()),
            "name": gendata.REGIONS,
            "x": [0.0, 1.5, 3.0, 4.5, None]})
        self.assertEqual(bad, {"other": "no oracle"})


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_tables(self):
        a = gendata.tables(3, 0.0001)
        b = gendata.tables(3, 0.0001)
        c = gendata.tables(4, 0.0001)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


if __name__ == "__main__":
    unittest.main()
