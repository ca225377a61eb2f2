"""Tests of the seeded input generator.

Run from the repository root: python3 -m unittest perfbench/test_gen.py
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_work")


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(SCRATCH, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(dir=SCRATCH, prefix="test-gen-")
        cls.meta = {}
        for w in gen.SHAPES:
            for tag, seed in (("a", 11), ("b", 11), ("c", 12)):
                cls.meta[w, tag] = gen.generate(w, seed, os.path.join(cls.tmp, w, tag))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def d(self, w, tag):
        return os.path.join(self.tmp, w, tag)

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.SHAPES:
            a, b = self.d(w, "a"), self.d(w, "b")
            names = files(a)
            self.assertEqual(names, files(b))
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_gives_other_inputs_of_same_shape(self):
        for w in gen.SHAPES:
            a, c = self.d(w, "a"), self.d(w, "c")
            self.assertEqual(files(a), files(c))
            differ = 0
            for f in files(a):
                if not f.endswith(".parquet"):
                    continue
                ta, tc = pq.read_table(os.path.join(a, f)), pq.read_table(os.path.join(c, f))
                self.assertEqual(ta.schema, tc.schema, f)
                self.assertEqual(ta.num_rows, tc.num_rows, f)
                differ += not ta.equals(tc)
            self.assertGreater(differ, 0, w)

    def test_shape_is_recorded(self):
        for w in gen.SHAPES:
            self.assertEqual(self.meta[w, "a"]["shape"], gen.SHAPES[w])
            self.assertEqual(self.meta[w, "a"]["seed"], 11)

    def test_delivery_feed_is_skewed_and_in_version_order(self):
        shape = gen.SHAPES["delivery"]
        parts = sorted(os.listdir(os.path.join(self.d("delivery", "a"), "feed")))
        self.assertEqual(len(parts), shape["chunks"])
        prev = 0
        ents = []
        for p in parts:
            t = pq.read_table(os.path.join(self.d("delivery", "a"), "feed", p))
            v = t.column("event_id").to_numpy()
            self.assertEqual(v[0], prev + 1)
            self.assertTrue(np.all(np.diff(v) == 1))
            prev = v[-1]
            ents.append(t.column("user_id").to_numpy())
        e = np.concatenate(ents)
        self.assertTrue(e.min() >= 1 and e.max() <= shape["orders"])
        top = np.sort(np.bincount(e))[::-1]
        # Zipf 1.1: the hottest 1% of the keyspace takes most changes
        self.assertGreater(top[: shape["orders"] // 100].sum() / len(e), 0.5)
        c = self.meta["delivery", "a"]["cursor"]
        self.assertEqual(c[0], 2 * c[1])

    def test_serving_pages_have_fixed_size_and_delete_share(self):
        shape = gen.SHAPES["serving"]
        pdir = os.path.join(self.d("serving", "a"), "pages")
        pages = sorted(os.listdir(pdir))
        self.assertEqual(len(pages), shape["pages"])
        live = set()
        for i, p in enumerate(pages):
            t = pq.read_table(os.path.join(pdir, p))
            self.assertEqual(t.num_rows, shape["page_ids"])
            ids = t.column("invoice_id").to_pylist()
            ops = t.column("change_operation").to_pylist()
            self.assertEqual(len(set(ids)), len(ids))
            dels = [k for k, o in zip(ids, ops) if o == "D"]
            if i > 0:
                self.assertEqual(len(dels), round(shape["page_ids"] * shape["delete_share"]))
            self.assertTrue(set(dels) <= live)
            for k, o in zip(ids, ops):
                # an update touches a live invoice, an insert a dead one
                self.assertEqual(o == "I", k not in live)
                (live.discard if o == "D" else live.add)(k)


if __name__ == "__main__":
    unittest.main()
