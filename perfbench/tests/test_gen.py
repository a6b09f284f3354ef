"""Generator determinism: the same seed writes byte-identical inputs, a
different seed different ones. Run: python3 -m unittest discover -s perfbench/tests"""

import filecmp
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

import gen  # noqa: E402

# shrink every workload so the test takes a second or two
SMALL = dict(ORC_LINEITEM_ROWS=3_000, ORC_ORDERS_ROWS=800, ORC_STRIPE_BYTES=16 << 10,
             WAVES=3, WAVE_SLICE_ROWS=400,
             MIX_LINEITEM_ROWS=2_000, MIX_CUSTOMERS=300, MIX_DOCS=200)


def files_of(root, manifest):
    return [os.path.join(root, f) for f in manifest["files"]]


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        patcher = mock.patch.multiple(gen, **SMALL)
        patcher.start()
        self.addCleanup(patcher.stop)
        self.addCleanup(self.tmp.cleanup)

    def make(self, workload, seed, name):
        out = os.path.join(self.tmp.name, name)
        return out, gen.generate(workload, seed, out)

    def test_same_seed_identical_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, ma = self.make(w, 7, f"{w}-a")
                b, mb = self.make(w, 7, f"{w}-b")
                self.assertEqual(ma, mb)
                for fa, fb in zip(files_of(a, ma), files_of(b, mb)):
                    self.assertTrue(filecmp.cmp(fa, fb, shallow=False), fa)

    def test_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a, ma = self.make(w, 7, f"{w}-a")
                b, mb = self.make(w, 8, f"{w}-b")
                self.assertEqual(ma["files"], mb["files"])
                # the nation table is fixed, as in TPC-H
                same = [filecmp.cmp(fa, fb, shallow=False)
                        for fa, fb in zip(files_of(a, ma), files_of(b, mb))
                        if os.path.basename(fa) != "nation.parquet"]
                self.assertFalse(any(same))

    def test_shared_share_sees_copies_and_shifts(self):
        rng = np.random.default_rng(0)
        body = rng.integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
        paths = []
        # a random file, an exact copy, and the copy shifted by 100 bytes
        for name, data in (("a", body), ("b", body), ("c", bytes(100) + body)):
            paths.append(os.path.join(self.tmp.name, name))
            with open(paths[-1], "wb") as fh:
                fh.write(data)
        self.assertEqual(gen.shared_byte_share(paths[:1]), 0.0)
        self.assertAlmostEqual(gen.shared_byte_share(paths[:2]), 0.5, delta=1e-9)
        # content-defined boundaries resynchronise after the shift
        self.assertGreater(gen.shared_byte_share(paths), 0.65)

    def test_mix_expected_rows(self):
        t = {"lineitem": gen.pa.table({"l_orderkey": [0, 0, 2]}),
             "orders": gen.pa.table({"o_custkey": [3, 1, 2]}),
             "customer": gen.pa.table({"c_nationkey": [5, 7, 5]}),
             "documents": gen.pa.table({"text": ["a b a", "a b c d ", "x"] * 2})}
        self.assertEqual(gen.mix_expected_rows(t), {
            "q04_revenue_by_nation": 2,       # orders 0, 2 -> customers 3, 2 -> nations 5, 7
            "d11_tfidf_terms": 2 * (2 + 3 + 1),  # "a b c d " has 5 terms with ""
            "m05_modality_balance": 6,
        })

    def test_cache_reuses_and_evicts(self):
        root = os.path.join(self.tmp.name, "cache")
        d1, m1 = gen.cached("orc_versions", 1, root, keep=1)
        again, m1b = gen.cached("orc_versions", 1, root, keep=1)
        self.assertEqual((d1, m1), (again, m1b))
        d2, _ = gen.cached("orc_versions", 2, root, keep=1)
        self.assertFalse(os.path.exists(d1))
        self.assertTrue(os.path.exists(d2))


if __name__ == "__main__":
    unittest.main()
