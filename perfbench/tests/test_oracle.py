"""Unit tests for loading Spark outputs into the repository's comparison.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import oracle  # noqa: E402


def write(path, **cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


class CheckOutputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        write(f"{self.root}/data/t.parquet", k=[1, 1, None], v=[1.5, 2.5, 3.5])
        self.sql = {"q": "SELECT k, v FROM t"}

    def tearDown(self):
        self.tmp.cleanup()

    def check(self, out, partitioned):
        return oracle.check_outputs(f"{self.root}/data", self.sql, {"q": (out, partitioned)})["q"]

    def test_hive_partitions_with_a_null_partition_match(self):
        out = f"{self.root}/out"
        write(f"{out}/k=1/part-0.parquet", v=[1.5, 2.5])
        write(f"{out}/k=__HIVE_DEFAULT_PARTITION__/part-0.parquet", v=[3.5])
        self.assertEqual(self.check(out, True), ("OK", 3))

    def test_wrong_value_is_reported(self):
        out = f"{self.root}/flat"
        write(f"{out}/part-0.parquet", k=[1, 1, None], v=[1.5, 2.5, 3.6])
        verdict, rows = self.check(out, False)
        self.assertTrue(verdict.startswith("VALUE col=v"), verdict)
        self.assertEqual(rows, 3)

    def test_missing_output_and_missing_oracle(self):
        self.assertEqual(self.check(f"{self.root}/none", False), ("MISSING spark output", 0))
        verdicts = oracle.check_outputs(f"{self.root}/data", {}, {"q": (f"{self.root}/none", False)})
        self.assertEqual(verdicts["q"], ("NO-ORACLE", 0))


if __name__ == "__main__":
    unittest.main()
