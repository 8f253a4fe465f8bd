"""Tests of the benchmark's own machinery: seeded inputs and the gate.

    python3 perfbench/test_bench.py
"""
import glob
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gate  # noqa: E402
import gen  # noqa: E402
import models_project  # noqa: E402


def digest(directory):
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{directory}/**/*", recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, directory).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def check(self, make):
        a, b, c = (f"{self.tmp}/{n}" for n in "abc")
        make(a, 7)
        make(b, 7)
        make(c, 8)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_star_schema(self):
        self.check(lambda d, seed: gen.star(d, seed, 0.001))

    def test_model_project(self):
        # the project's schema.yml names its absolute source path, so each
        # copy is generated at the same path and digested before the next
        digests = []
        for seed in (7, 7, 8):
            d = f"{self.tmp}/project"
            shutil.rmtree(d, ignore_errors=True)
            models_project.generate(d, seed, 2)
            digests.append(digest(d))
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])


class Gate(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        gen.star(f"{self.tmp}/tables", 3, 0.001)
        self.sql = {"q": "SELECT c_mktsegment, COUNT(*) AS n, "
                         "SUM(c_acctbal) AS bal FROM customer GROUP BY 1"}
        self.oracle = gate.Oracle(f"{self.tmp}/tables", self.sql)
        self.rows = self.oracle.con.execute(self.sql["q"]).fetch_arrow_table()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def output(self, table, name):
        d = f"{self.tmp}/{name}"
        os.makedirs(d)
        pq.write_table(table, f"{d}/part-0.parquet")
        return d

    def test_exact_output_passes(self):
        self.assertIsNone(self.oracle.check("q", self.output(self.rows, "ok")))

    def test_dropped_row_fails(self):
        out = self.output(self.rows.slice(1), "dropped")
        self.assertIsNotNone(self.oracle.check("q", out))

    def test_altered_row_fails(self):
        n = self.rows.column("n").to_pylist()
        n[0] += 1
        altered = self.rows.set_column(1, "n", pa.array(n, self.rows.schema.field("n").type))
        self.assertIsNotNone(self.oracle.check("q", self.output(altered, "altered")))

    def test_model_pair(self):
        full = self.output(self.rows, "full")
        self.assertIsNone(gate.check_pair(self.output(self.rows, "same"), full))
        self.assertIsNotNone(gate.check_pair(
            self.output(self.rows.slice(0, self.rows.num_rows - 1), "short"), full))

    def test_missing_output_fails(self):
        self.assertIsNotNone(self.oracle.check("q", f"{self.tmp}/nothing"))


if __name__ == "__main__":
    unittest.main()
