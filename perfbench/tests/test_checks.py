"""A deliberately wrong output is counted as failed."""
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402

SQL = ("SELECT r_name AS region_name, count(*) AS n_nations FROM nation "
       "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name")


class OutputChecks(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.data = os.path.join(self.dir, "data")
        datagen.catalog_tables(self.data, seed=7, sf=0.001)
        self.out = os.path.join(self.dir, "out")

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, name, names, counts):
        os.makedirs(os.path.join(self.out, name))
        pq.write_table(pa.table({"n_nations": pa.array(counts, pa.int64()),
                                 "region_name": names}),
                       os.path.join(self.out, name, "part-0.parquet"))

    def test_right_output_passes_in_any_row_order(self):
        self.write("q", list(reversed(datagen.REGIONS)), [5] * 5)
        v = checks.check_catalog(self.data, self.out, {"q": SQL}, ["q"])["q"]
        self.assertTrue(v["ok"], v["why"])
        self.assertEqual(v["rows"], 5)

    def test_wrong_output_counts_as_failed(self):
        self.write("q", datagen.REGIONS, [5, 5, 5, 5, 4])
        v = checks.check_catalog(self.data, self.out, {"q": SQL}, ["q"])
        self.assertFalse(v["q"]["ok"])
        ops = [{"name": "q", "ok": True}, {"name": "q", "ok": True},
               {"name": "other", "ok": True}]
        self.assertEqual(run.catalog_failures(ops, v), 2)

    def test_missing_output_and_missing_oracle_fail(self):
        v = checks.check_catalog(self.data, self.out, {"q": SQL}, ["q", "r"])
        self.assertEqual((v["q"]["ok"], v["q"]["why"]), (False, "no output"))
        self.assertEqual((v["r"]["ok"], v["r"]["why"]), (False, "no oracle"))

    def test_medallion_counter_mismatch_and_final_check_fail_batches(self):
        truth = [{"landed": 10, "expired": 0}, {"landed": 10, "expired": 2}]
        ops = [{"batch": 1, "ok": True, "landed": 10},
               {"batch": 2, "ok": True, "landed": 10, "expired": 1}]
        failed, wrong = run.medallion_failures(ops, truth, {"a": None})
        self.assertEqual((failed, wrong), (1, [{"batch": 2, "wrong": {"expired": [1, 2]}}]))
        failed, _ = run.medallion_failures(ops[:1], truth, {"a": "silver differs"})
        self.assertEqual(failed, 1)


if __name__ == "__main__":
    unittest.main()
