"""Tests of the seeded input generators.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import re
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

N = 5000


def shares(table):
    """Keyword-hit, noise, blacklist and null-text shares, computed with the
    engine's semantics (literal substring keywords, regex noise patterns,
    case-insensitive blacklist)."""
    d = table.to_pydict()
    keywords = [k for _, ks in gen.TAXONOMY for k in ks]
    noise = re.compile("|".join(gen.NOISE_PATTERNS))
    black = {b.lower() for b in gen.BLACKLIST}
    texts = d["text"]
    n = len(texts)
    present = [t for t in texts if t is not None]
    return {
        "keyword": sum(any(k in t for k in keywords) for t in present) / n,
        "noise": sum(bool(noise.search(t)) for t in present) / n,
        "blacklist": sum(c.lower() in black for c in d["channel_username"]) / n,
        "null": (n - len(present)) / n,
    }


# stated ranges for any seed
RANGES = {"keyword": (0.33, 0.43), "noise": (0.045, 0.075),
          "blacklist": (0.045, 0.075), "null": (0.005, 0.02)}


class PostsCorpusTest(unittest.TestCase):

    def test_same_seed_same_digest(self):
        self.assertEqual(gen.table_digest(gen.posts_table(7, N)),
                         gen.table_digest(gen.posts_table(7, N)))

    def test_other_seed_other_rows_same_shape(self):
        a, b = gen.posts_table(7, N), gen.posts_table(8, N)
        self.assertNotEqual(gen.table_digest(a), gen.table_digest(b))
        self.assertNotEqual(a.column("text").to_pylist()[:50], b.column("text").to_pylist()[:50])
        for seed, t in ((7, a), (8, b)):
            for name, v in shares(t).items():
                lo, hi = RANGES[name]
                self.assertTrue(lo <= v <= hi, f"seed {seed}: {name} share {v} outside [{lo}, {hi}]")

    def test_corpus_features(self):
        t = gen.posts_table(3, N).to_pydict()
        text = " ".join(x for x in t["text"] if x is not None)
        self.assertIn(gen.ZWNJ, text)
        self.assertTrue(any(c in text for c in "يكة"), "Arabic codepoint variants")
        self.assertTrue(any(k in text for k in ("c++", "(api)", "[fx]", "^style")), "regex-special keywords")
        # channel names are Zipf-skewed: the busiest channel far above the median
        counts = np.unique([c for c in t["channel_username"] if c.startswith("chan_")], return_counts=True)[1]
        self.assertGreater(counts.max(), 10 * np.median(counts))
        days = (np.array(t["full_date"], dtype="datetime64[us]") - np.datetime64("2025-01-01")).astype(
            "timedelta64[D]").astype(int)
        self.assertGreaterEqual(days.min(), 0)
        self.assertLess(days.max(), 365)
        self.assertGreater(days.max() - days.min(), 350)


class CatalogTablesTest(unittest.TestCase):

    def tables(self, seed):
        rng = np.random.default_rng([seed, 2])
        orders, lineitem = gen.orders_lineitem_tables(rng)
        return [orders, lineitem, gen.documents_table(rng), gen.embeddings_table(rng)]

    def test_same_seed_same_digest(self):
        self.assertEqual([gen.table_digest(t) for t in self.tables(5)],
                         [gen.table_digest(t) for t in self.tables(5)])

    def test_other_seed_other_rows_same_sizes(self):
        a, b = self.tables(5), self.tables(6)
        for ta, tb in zip(a, b):
            self.assertNotEqual(gen.table_digest(ta), gen.table_digest(tb))
            self.assertEqual(ta.num_rows, tb.num_rows)
            self.assertEqual(ta.schema, tb.schema)
        emb = np.array(a[3].column("embedding").to_pylist())
        np.testing.assert_allclose(np.linalg.norm(emb, axis=1), 1.0, rtol=1e-5)


if __name__ == "__main__":
    unittest.main()
