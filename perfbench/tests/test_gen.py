import filecmp
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


class X10Generator(unittest.TestCase):
    """Properties of the workbound_x10 generator, on a small base."""

    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.mkdtemp()
        cls.base = os.path.join(cls.dir, "base")
        gen.base(cls.base, scale=0.1)
        cls.a = os.path.join(cls.dir, "a")
        cls.a2 = os.path.join(cls.dir, "a2")
        cls.b = os.path.join(cls.dir, "b")
        gen.x10(cls.base, cls.a, seed=1)
        gen.x10(cls.base, cls.a2, seed=1)
        gen.x10(cls.base, cls.b, seed=2)
        cls.con = duckdb.connect()

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        shutil.rmtree(cls.dir)

    def q(self, sql):
        return self.con.execute(sql).fetchall()

    def test_same_seed_gives_byte_identical_tables(self):
        for t in gen.TABLES:
            self.assertTrue(filecmp.cmp(f"{self.a}/{t}.parquet", f"{self.a2}/{t}.parquet",
                                        shallow=False), t)

    def test_base_is_deterministic(self):
        other = os.path.join(self.dir, "base2")
        gen.base(other, scale=0.1)
        for t in gen.TABLES:
            self.assertTrue(filecmp.cmp(f"{self.base}/{t}.parquet", f"{other}/{t}.parquet",
                                        shallow=False), t)

    def test_another_seed_gives_another_row_order(self):
        for t in ("lineitem", "orders", "documents"):
            ka = self.q(f"SELECT * FROM read_parquet('{self.a}/{t}.parquet') LIMIT 20")
            kb = self.q(f"SELECT * FROM read_parquet('{self.b}/{t}.parquet') LIMIT 20")
            self.assertNotEqual(ka, kb, t)

    def test_ten_replicas(self):
        for t in ("customer", "orders", "lineitem", "events", "documents"):
            n = self.q(f"SELECT count(*) FROM read_parquet('{self.base}/{t}.parquet')")[0][0]
            m = self.q(f"SELECT count(*) FROM read_parquet('{self.a}/{t}.parquet')")[0][0]
            self.assertEqual(m, gen.REPLICAS * n, t)

    def test_keys_stay_unique_after_the_offsets(self):
        for d in (self.a, self.b):
            for t, keys in gen.KEYS.items():
                for k, owner in keys.items():
                    if owner != t:
                        continue
                    n, u = self.q(f"SELECT count(*), count(DISTINCT {k}) "
                                  f"FROM read_parquet('{d}/{t}.parquet')")[0]
                    self.assertEqual(n, u, f"{t}.{k}")

    def test_joins_stay_inside_their_replica(self):
        # every line item still finds its order, and only one
        n, matched = self.q(
            f"SELECT count(*), count(o_orderkey) FROM read_parquet('{self.a}/lineitem.parquet') l "
            f"LEFT JOIN read_parquet('{self.a}/orders.parquet') o ON l_orderkey = o_orderkey")[0]
        self.assertEqual(n, matched)

    def test_skew_variant_has_a_cell_over_2048_members(self):
        # q_vec_semdedup's cells: k-means seeded with the vectors whose id
        # is a multiple of n / k, k = n / 64, then one Lloyd update
        rows = self.q(f"SELECT vec_id, embedding FROM read_parquet('{self.a}/embeddings.parquet')")
        ids = np.array([r[0] for r in rows])
        x = np.array([r[1] for r in rows], dtype=np.float64)
        n = len(ids) + 20  # the query plants 20 near-duplicates
        k = max(8, n // 64)
        stride = max(1, n // k)
        seeded = (ids % stride == 0) & (ids // stride < k)
        cents = x[seeded][np.argsort(ids[seeded])]
        block = np.argsort(ids)[-gen.SKEW_CELL:]
        for _ in range(2):
            d = (x * x).sum(1)[:, None] - 2 * x @ cents.T + (cents * cents).sum(1)[None, :]
            cell = d.argmin(1)
            self.assertEqual(len(set(cell[block])), 1)
            self.assertGreater((cell == cell[block[0]]).sum(), 2048)
            cents = np.array([x[cell == c].mean(0) if (cell == c).any() else cents[c]
                              for c in range(len(cents))])
        # members are not near-duplicates of each other: the cell costs
        # pair generation, not exact scoring
        b = x[block[:200]]
        cos = (b @ b.T)[np.triu_indices(len(b), 1)]
        self.assertLess(np.mean(cos >= 0.94), 0.01)


if __name__ == "__main__":
    unittest.main()
