"""Tests of the benchmark's own pieces: the seeded generator and the
correctness gate. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import tempfile
import unittest

import pyarrow as pa

import gate
import gen


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_psx_days_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            sa = gen.write_psx_days(a, 7, 5)
            sb = gen.write_psx_days(b, 7, 5)
            self.assertEqual(sa, sb)
            self.assertEqual(_files(a), _files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_psx_days_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_psx_days(a, 7, 5)
            gen.write_psx_days(b, 8, 5)
            same, _, _ = filecmp.cmpfiles(a, b, ["day000/drop/ticks_000.parquet",
                                                 "day000/universe.parquet"], shallow=False)
            self.assertEqual(same, [])

    def test_psx_days_shape(self):
        with tempfile.TemporaryDirectory() as a:
            s = gen.write_psx_days(a, 3, 8)
            self.assertGreater(s["late_rows"], 0)
            self.assertGreater(s["adds"] + s["deletes"] + s["renames"], 0)
            with open(os.path.join(a, "final_universe.json")) as f:
                self.assertGreater(len(json.load(f)), 400)


class GateTest(unittest.TestCase):
    def test_wrong_value_and_missing_row_fail(self):
        good = pa.table({"k": pa.array([1, 2], pa.int64()), "v": [0.5, 1.5]})
        self.assertEqual(gate.compare(good, good), [])
        self.assertTrue(gate.compare(good.slice(0, 1), good))
        wrong = pa.table({"k": pa.array([1, 2], pa.int64()), "v": [0.5, 1.25]})
        self.assertTrue(gate.compare(wrong, good))

    def test_type_widening_fails(self):
        spark = pa.table({"k": pa.array([1], pa.int64())})
        duck = pa.table({"k": pa.array([1], pa.int32())})
        self.assertTrue(gate.compare(spark, duck))


if __name__ == "__main__":
    unittest.main()
