"""The generator is deterministic per seed and writes the readers' layout.

Run: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import gen  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(root: Path) -> dict:
    return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*.parquet"))}


class GeneratorTest(unittest.TestCase):
    SMALL = {"markt": {"events_n": 3000}, "vector": {"docs": 200, "vecs": 50}}

    def generate(self, workload: str, seed: int) -> dict:
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d, **self.SMALL[workload])
            return digest(Path(d))

    def test_same_seed_gives_identical_bytes(self):
        for w in self.SMALL:
            with self.subTest(workload=w):
                self.assertEqual(self.generate(w, 7), self.generate(w, 7))

    def test_other_seed_gives_other_data(self):
        for w in self.SMALL:
            with self.subTest(workload=w):
                self.assertNotEqual(self.generate(w, 7), self.generate(w, 8))

    def test_every_table_is_present(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("markt", 1, d, events_n=3000)
            for t in TABLES:
                self.assertTrue((Path(d) / f"{t}.parquet").is_file(), t)
            ev = pq.read_table(f"{d}/events.parquet")
            self.assertEqual(ev.num_rows, 3000)
            self.assertEqual(str(ev.schema.field("ts").type), "timestamp[us]")
            users = ev.column("user_id").to_pylist()
            self.assertLess(max(users), 15_000)  # every user joins a customer

    def test_documents_hold_exact_and_near_duplicates(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("vector", 3, d, docs=400, vecs=20)
            docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
            texts = docs["text"]
            self.assertEqual(len(texts), 400)
            self.assertLess(len(set(texts)), len(texts))  # exact copies exist
            self.assertEqual(docs["n_chars"], [len(t) for t in texts])
            emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()["embedding"]
            norm = sum(x * x for x in emb[0]) ** 0.5
            self.assertAlmostEqual(norm, 1.0, places=5)


if __name__ == "__main__":
    unittest.main()
