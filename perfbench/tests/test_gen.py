"""The generator is a pure function of (workload, seed).

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digests(d):
    out = {}
    for root, _, files in os.walk(d):
        for name in files:
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def _gen(self, workload, seed, name):
        out = os.path.join(self.tmp.name, name)
        return gen.generate(workload, seed, out), out

    def test_same_seed_same_files(self):
        for w in gen.PROFILES:
            s1, d1 = self._gen(w, 11, w + "-a")
            s2, d2 = self._gen(w, 11, w + "-b")
            self.assertEqual(s1, s2)
            self.assertEqual(_digests(d1), _digests(d2))

    def test_other_seed_other_corpus(self):
        _, d1 = self._gen("curate-append", 1, "a")
        _, d2 = self._gen("curate-append", 2, "b")
        self.assertNotEqual(_digests(d1)["documents.parquet"], _digests(d2)["documents.parquet"])

    def test_summary_and_planted_shares(self):
        s, d = self._gen("curate-append", 3, "c")
        prof = gen.PROFILES["curate-append"]
        self.assertEqual(s["documents"], prof["docs"])
        self.assertGreater(s["tokens"], prof["docs"] * 8)
        for k, share in (("exact", gen.EXACT_SHARE), ("near", gen.NEAR_SHARE),
                         ("span", gen.SPAN_SHARE)):
            self.assertAlmostEqual(s[k + "_share"], share, delta=0.03)
        with open(os.path.join(d, "truth.json")) as f:
            truth = json.load(f)
        self.assertEqual(len(truth["batches"]), prof["batches"])
        for b in truth["batches"]:
            self.assertTrue(b["exact"] and b["near"] and b["fresh"])

    def test_vocabulary_is_lowercase_and_distinct(self):
        import numpy as np
        v = gen.vocabulary(30000, np.random.default_rng(0))
        self.assertEqual(len(set(v)), 30000)
        self.assertTrue(all(w.isalpha() and w.islower() for w in v))


if __name__ == "__main__":
    unittest.main()
