"""Generator: the same seed gives byte-identical tables, a different seed
different ones, and every table has the names and types of schema.json.

Set PERFBENCH_REFERENCE_DATA to a directory of reference tables to also
check schema.json against it.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SF = 0.002


def digests(directory):
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(directory, t + ".parquet"), "rb") as f:
            out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        scratch = os.path.join(os.path.dirname(HERE), ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=scratch)
        cls.dirs = {}
        for key in [(1, "driver"), (1, "zipf"), (2, "driver")]:
            d = os.path.join(cls.tmp.name, "%s-%d-a" % (key[1], key[0]))
            gen.write(d, key[0], key[1], SF)
            cls.dirs[key] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        again = os.path.join(self.tmp.name, "driver-1-b")
        gen.write(again, 1, "driver", SF)
        self.assertEqual(digests(again), digests(self.dirs[(1, "driver")]))

    def test_different_seed_differs(self):
        a, b = digests(self.dirs[(1, "driver")]), digests(self.dirs[(2, "driver")])
        for t in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertNotEqual(a[t], b[t], t)

    def test_modes_differ_in_corpus_not_schema(self):
        self.assertNotEqual(digests(self.dirs[(1, "driver")])["documents"],
                            digests(self.dirs[(1, "zipf")])["documents"])
        self.assertEqual(gen.schema_of(self.dirs[(1, "driver")]),
                         gen.schema_of(self.dirs[(1, "zipf")]))

    def test_schema_matches_snapshot(self):
        for d in self.dirs.values():
            self.assertEqual(gen.schema_of(d), gen.expected_schema())

    def test_row_count_ratios(self):
        import pyarrow.parquet as pq
        n = gen.row_counts(SF)
        d = self.dirs[(1, "zipf")]
        for t in gen.TABLES:
            rows = pq.ParquetFile(os.path.join(d, t + ".parquet")).metadata.num_rows
            self.assertEqual(rows, n[t], t)
        self.assertEqual(n["orders"], n["lineitem"] // 4)
        self.assertEqual(n["customer"], n["orders"] // 10)

    def test_ensure_reuses_the_cache(self):
        root = os.path.join(self.tmp.name, "cache")
        first = gen.ensure(root, 3, "driver", SF)
        mtime = os.path.getmtime(os.path.join(first, "lineitem.parquet"))
        self.assertEqual(gen.ensure(root, 3, "driver", SF), first)
        self.assertEqual(os.path.getmtime(os.path.join(first, "lineitem.parquet")), mtime)

    @unittest.skipUnless(os.environ.get("PERFBENCH_REFERENCE_DATA"), "no reference data given")
    def test_snapshot_matches_reference(self):
        self.assertEqual(gen.schema_of(os.environ["PERFBENCH_REFERENCE_DATA"]),
                         gen.expected_schema())


if __name__ == "__main__":
    unittest.main()
