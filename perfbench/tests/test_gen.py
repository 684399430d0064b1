import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        man = {"etl": gen.gen_etl(seed, os.path.join(d, "etl"), k=2, parts=2, scale=0.01),
               "curate": gen.gen_curate(seed, os.path.join(d, "cur"), n_docs=300,
                                        graph_scale=0.01, parts=2)}
        return d, man

    def test_same_seed_same_bytes(self):
        a, man_a = self.generate(7)
        b, man_b = self.generate(7)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertEqual(man_a, man_b)

    def test_other_seed_other_inputs(self):
        a, _ = self.generate(7)
        b, _ = self.generate(8)
        self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_manifest_counts(self):
        d, man = self.generate(3)
        for name in ("customer", "orders", "lineitem", "events"):
            t = pq.read_table(os.path.join(d, "etl", f"{name}.parquet"))
            self.assertEqual(man["etl"][name]["rows"], t.num_rows)
            self.assertEqual(man["etl"][name]["bytes"], gen.dir_bytes(
                os.path.join(d, "etl", f"{name}.parquet")))
        self.assertEqual(man["curate"]["documents"]["rows"], 300)

    def test_replicas_keep_joins_inside_a_copy(self):
        d, _ = self.generate(3)
        cust = pq.read_table(os.path.join(d, "etl", "customer.parquet")).to_pydict()
        ev = pq.read_table(os.path.join(d, "etl", "events.parquet")).to_pydict()
        n = len(cust["c_custkey"]) // 2
        self.assertEqual(len(set(cust["c_custkey"])), 2 * n)
        users = [u for u in ev["user_id"] if u is not None]
        self.assertTrue(set(users) <= set(cust["c_custkey"]))
        # copy 1's names are copy 0's under one character bijection
        names0, names1 = cust["c_name"][:n], cust["c_name"][n:]
        table = {}
        for x, y in zip("".join(names0).lower(), "".join(names1)):
            self.assertEqual(table.setdefault(x, y), y)
        self.assertEqual(len(set(table.values())), len(table))

    def test_char_perm_is_a_bijection(self):
        for copy in range(5):
            perm = gen.char_perm(11, copy)
            self.assertEqual(sorted(gen.ALPHA.translate(perm)), sorted(gen.ALPHA))

    def test_documents_plant_duplicates(self):
        ids, texts, _ = gen.documents(5, 400)
        norm = [" ".join(t.lower().replace("!", "").replace(",", " ").split()) for t in texts]
        self.assertLess(len(set(norm)), len(norm))
        self.assertEqual(ids, list(range(400)))


if __name__ == "__main__":
    unittest.main()
