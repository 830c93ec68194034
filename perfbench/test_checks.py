"""Shows that the benchmark's checks can fail: each check gets a correct
result, which must pass, and corrupted ones (a dropped row, an altered
value, an extra row), which must not. The lifecycle checks live in the
JVM; their cases run through `perfbench.SelfTest`.

    python3 perfbench/test_checks.py
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_data  # noqa: E402


class HeavyChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        gen_data.heavy(7, 800, 100, cls.dir.name)
        import json
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(cls.dir.name, "documents.parquet"))
        cls.ids = t.column("doc_id").to_pylist()
        cls.sets = {d: checks.shingles(x) for d, x in zip(cls.ids, t.column("text").to_pylist())}
        with open(os.path.join(cls.dir.name, "planted.json")) as f:
            p = json.load(f)
        cls.exact = [tuple(x) for x in p["exact"]]
        cls.near = [tuple(x) for x in p["near"]]
        assert cls.exact and cls.near, "the generator plants both kinds"

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def test_ngram_jaccard(self):
        expected = checks.near_duplicate_pairs(self.sets)
        good = sorted((a, b, round(j, 6)) for (a, b), j in expected.items())
        planted = self.exact + self.near
        self.assertEqual(checks.check_ngram_jaccard(good, expected, planted), [])
        self.assertTrue(checks.check_ngram_jaccard(good[1:], expected, planted))
        altered = [(a, b, j - 0.01) if i == 0 else (a, b, j) for i, (a, b, j) in enumerate(good)]
        self.assertTrue(checks.check_ngram_jaccard(altered, expected, planted))
        far = next((a, b) for a in self.ids for b in self.ids
                   if a < b and (a, b) not in expected)
        self.assertTrue(checks.check_ngram_jaccard(good + [(far[0], far[1], 0.9)],
                                                   expected, planted))

    def _survivors(self):
        cand = checks.lsh_candidates(self.sets)
        verified = [(a, b) for a, b in cand
                    if checks.jaccard(self.sets[a], self.sets[b]) >= checks.JACCARD_THRESHOLD]
        return {d for d, c in checks.component_labels(self.ids, verified).items() if d == c}

    def test_deduplicate(self):
        expected = self._survivors()
        good = sorted(expected)
        self.assertEqual(checks.check_deduplicate(good, expected, self.exact), [])
        self.assertTrue(checks.check_deduplicate(good[1:], expected, self.exact))
        copy = self.exact[0][1]
        self.assertTrue(checks.check_deduplicate(good + [copy], expected, self.exact))
        self.assertTrue(checks.check_deduplicate(good + good[:1], expected, self.exact))

    def test_clusters(self):
        labels = checks.component_labels(self.ids, checks.lsh_candidates(self.sets))
        good = [(d, labels[d], d == labels[d]) for d in self.ids]
        self.assertEqual(checks.check_clusters(good, labels, self.exact), [])
        self.assertTrue(checks.check_clusters(good[1:], labels, self.exact))
        src, copy = self.exact[0]
        moved = [(d, d if d == copy else c, d == copy or k) for d, c, k in good]
        self.assertTrue(checks.check_clusters(moved, labels, self.exact))
        flipped = [(d, c, not k) if i == 0 else (d, c, k) for i, (d, c, k) in enumerate(good)]
        self.assertTrue(checks.check_clusters(flipped, labels, self.exact))

    def test_pagerank(self):
        n = len(self.ids)
        good = [(d, round(1.0 / n, 9)) for d in self.ids]
        self.assertEqual(checks.check_pagerank(good, self.ids), [])
        self.assertTrue(checks.check_pagerank(good[1:], self.ids))
        self.assertTrue(checks.check_pagerank([(good[0][0], good[0][1] * 2)] + good[1:], self.ids))


class LifecycleChecks(unittest.TestCase):
    def test_self_test(self):
        import run
        cp = run.build()
        r = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=120)
        print(r.stdout, end="")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
