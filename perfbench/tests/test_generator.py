"""The seeded generator: same seed, same bytes; another seed, other bytes
with the same row counts and the same in-copy structure."""
import filecmp
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build", "tests")


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(SCRATCH, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=SCRATCH)
        root = cls.tmp.name
        cls.a = gen.inputs("query_mix", 5, os.path.join(root, "a"))
        cls.b = gen.inputs("query_mix", 5, os.path.join(root, "b"))
        cls.c = gen.inputs("query_mix", 6, os.path.join(root, "c"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def path(self, d, t):
        return os.path.join(d, f"{t}.parquet")

    def test_same_seed_same_bytes(self):
        for t in gen.TABLES:
            self.assertTrue(filecmp.cmp(self.path(self.a, t), self.path(self.b, t),
                                        shallow=False), t)

    def test_other_seed_other_bytes_same_rows(self):
        for t in gen.TABLES:
            ra = pq.ParquetFile(self.path(self.a, t)).metadata.num_rows
            rc = pq.ParquetFile(self.path(self.c, t)).metadata.num_rows
            self.assertEqual(ra, rc, t)
            if ra > 50:
                self.assertFalse(filecmp.cmp(self.path(self.a, t), self.path(self.c, t),
                                             shallow=False), t)

    def test_other_seed_keeps_structure(self):
        def docs(d):
            t = pq.read_table(self.path(d, "documents")).to_pydict()
            return dict(zip(t["doc_id"], t["text"]))
        da, dc = docs(self.a), docs(self.c)
        self.assertEqual(da.keys(), dc.keys())
        self.assertNotEqual(da, dc)
        # a letter substitution keeps lengths and which documents are equal
        self.assertEqual({k: len(v) for k, v in da.items()},
                         {k: len(v) for k, v in dc.items()})
        ids = sorted(da)
        self.assertEqual([[da[i] == da[j] for j in ids] for i in ids[:50]],
                         [[dc[i] == dc[j] for j in ids] for i in ids[:50]])

        def vecs(d):
            t = pq.read_table(self.path(d, "embeddings")).to_pydict()
            order = np.argsort(t["vec_id"])
            return np.array(t["embedding"], dtype=np.float32)[order]
        va, vc = vecs(self.a), vecs(self.c)
        self.assertFalse(np.array_equal(va, vc))
        # a sign flip keeps every dot product exactly
        self.assertTrue(np.array_equal(va[:20] @ va[:20].T, vc[:20] @ vc[:20].T))

    def test_existing_directory_is_never_rewritten(self):
        before = os.stat(self.path(self.a, "orders")).st_mtime_ns
        gen.inputs("query_mix", 5, os.path.dirname(os.path.dirname(self.a)))
        self.assertEqual(before, os.stat(self.path(self.a, "orders")).st_mtime_ns)


if __name__ == "__main__":
    unittest.main()
