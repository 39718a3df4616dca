"""Generator determinism and FIXTURES.md section 1 shape.

Run: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402


def tree(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class CorpusTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_corpus(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            sa = gen_corpus.generate(a, 5)
            sb = gen_corpus.generate(b, 5)
            self.assertEqual(sa, sb)
            self.assertEqual(tree(a), tree(b))
            match, mismatch, errors = filecmp.cmpfiles(
                a, b, tree(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_same_size_other_content(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            sa = gen_corpus.generate(a, 5)
            sb = gen_corpus.generate(b, 6)
            self.assertEqual(sa, sb)  # files, lines and APIs do not depend on the seed
            _, mismatch, _ = filecmp.cmpfiles(a, b, tree(a), shallow=False)
            self.assertTrue(mismatch)

    def test_fixtures_shape(self):
        with tempfile.TemporaryDirectory() as d:
            stats = gen_corpus.generate(d, 11)
            self.assertEqual(stats, gen_corpus.expected_stats())
            self.assertEqual(stats["files"], 1604)
            self.assertEqual(stats["distinct_apis"], 125)
            clean = os.listdir(os.path.join(d, "clean_LOGS_CONVERTED"))
            virus = os.listdir(os.path.join(d, "virus_LOGS_CONVERTED"))
            self.assertEqual((len(clean), len(virus)), (720, 884))
            self.assertIn("LOG_API (416)converted.txt", clean)
            firsts, raw_names, qsi = [], set(), 0
            for name in virus:
                with open(os.path.join(d, "virus_LOGS_CONVERTED", name)) as f:
                    lines = f.read().splitlines()
                firsts.append(lines[0])
                raw_names.update(ln[:-2] for ln in lines)
                qsi += "QuerySystemInformation -" in lines
                self.assertTrue(all(ln.endswith(" -") for ln in lines))
            self.assertEqual(qsi, len(virus))
            self.assertGreater(firsts.count(" -"), len(virus) // 3)
            self.assertTrue(any(c in n for n in raw_names for c in " +-"))

    def test_scaled_corpus_keeps_every_api(self):
        for seed in (1, 2, 3):
            with tempfile.TemporaryDirectory() as d:
                stats = gen_corpus.generate(d, seed, scale=0.05)
                self.assertEqual(stats, gen_corpus.expected_stats(0.05))
                self.assertEqual(stats["distinct_apis"], 125)
                self.assertEqual(stats["files"], 36 + 44)

    def test_line_count_spread(self):
        for scale in (1.0, 0.125):
            for cls, (lo, med, hi) in gen_corpus.LINE_SPREAD.items():
                counts = gen_corpus.line_counts(cls, scale)
                self.assertEqual(len(counts), gen_corpus.n_files(cls, scale))
                self.assertEqual((min(counts), statistics.median(counts),
                                  max(counts)), (lo, med, hi))

    def test_normalized_names_are_distinct(self):
        names = [gen_corpus.normalize(gen_corpus._DECORATED.get(s, s))
                 for s in gen_corpus._STEMS]
        self.assertEqual(len(set(names)), 125)


class TablesTest(unittest.TestCase):

    def test_same_seed_same_tables(self):
        a = gen_tables.tables(3, scale=0.002)
        b = gen_tables.tables(3, scale=0.002)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_row_counts_do_not_depend_on_seed(self):
        a = gen_tables.tables(3, scale=0.002)
        b = gen_tables.tables(4, scale=0.002)
        self.assertEqual({k: t.num_rows for k, t in a.items()},
                         {k: t.num_rows for k, t in b.items()})
        self.assertFalse(a["documents"].equals(b["documents"]))

    def test_documents_match_the_shipped_table_shape(self):
        docs = gen_tables.tables(7, scale=0.1, names=["documents"])["documents"]
        texts = docs.column("text").to_pylist()
        self.assertEqual(len(texts), 5000)
        words = [len(t.split(" ")) for t in texts]
        self.assertEqual((min(words), max(words)), (10, 100))
        self.assertEqual(len({w for t in texts for w in t.split(" ")}), 31)
        self.assertEqual(len(texts) - len(set(texts)), 8)

    def test_embeddings_are_unit_vectors(self):
        emb = gen_tables.tables(7, scale=0.1, names=["embeddings"])["embeddings"]
        self.assertEqual(emb.num_rows, 2000)
        for v in emb.column("embedding").to_pylist()[:50]:
            self.assertEqual(len(v), 64)
            self.assertAlmostEqual(sum(x * x for x in v), 1.0, places=5)


if __name__ == "__main__":
    unittest.main()
