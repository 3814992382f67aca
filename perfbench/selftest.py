"""Self-tests of the benchmark's own checking code (no Spark needed).

    python3 perfbench/selftest.py

* the reference BM25 reproduces a small example worked out by hand;
* the reference's tombstone semantics: a delete hides a doc at once, and
  only a purge changes N, avgdl and df;
* a wrong engine result (a dropped doc, a swapped rank, a perturbed score)
  is counted by the benchmark as a failed operation, so the check can fail.
"""

import math
import sys
import unittest
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parent))

from reference import Reference, check_topk, tokenize  # noqa: E402

# three docs: lengths 3, 2, 4; N = 3, avgdl = 3
DOCS = ["a b A", "b, c", "a c c (C)"]
LN16 = math.log(1.6)  # idf of a term in 2 of 3 docs: ln(1 + 1.5 / 2.5)


def small_ref() -> Reference:
    ref = Reference()
    ref.add([0, 1, 2], DOCS)
    return ref


class HandExample(unittest.TestCase):
    def test_tokenizer(self):
        self.assertEqual(tokenize("Foo, BAR_1;baz-qux  9x"),
                         ["foo", "bar_1", "baz", "qux", "9x"])

    def test_counts(self):
        ref = small_ref()
        self.assertEqual((ref.n_docs, ref.total_tokens), (3, 9))

    def test_single_term(self):
        # d0: tf 2, len 3, norm 1.2*(0.25+0.75*3/3) = 1.2 -> 2*2.2/3.2
        # d2: tf 1, len 4, norm 1.2*(0.25+0.75*4/3) = 1.5 -> 2.2/2.5
        got = small_ref().topk(("term", "a"), 10)
        self.assertEqual([d for d, _ in got], [0, 2])
        self.assertAlmostEqual(got[0][1], LN16 * 1.375, places=12)
        self.assertAlmostEqual(got[1][1], LN16 * 0.88, places=12)

    def test_and(self):
        # only d2 has both: a tf 1 -> 0.88, c tf 3 -> 6.6/4.5
        got = small_ref().topk(("and", [("term", "a"), ("term", "c")]), 10)
        self.assertEqual([d for d, _ in got], [2])
        self.assertAlmostEqual(got[0][1], LN16 * (0.88 + 6.6 / 4.5), places=12)

    def test_or_sums_distinct_terms(self):
        # d1 (len 2, norm 0.9): b and c, each 2.2/1.9; d2: c -> 6.6/4.5;
        # d0: b tf 1, norm 1.2 -> 1.0
        tree = ("or", [("term", "b"), ("term", "c"), ("term", "b")])
        got = small_ref().topk(tree, 10)
        self.assertEqual([d for d, _ in got], [1, 2, 0])
        self.assertAlmostEqual(got[0][1], LN16 * 2 * 2.2 / 1.9, places=12)
        self.assertAlmostEqual(got[1][1], LN16 * 6.6 / 4.5, places=12)
        self.assertAlmostEqual(got[2][1], LN16 * 1.0, places=12)

    def test_ties_by_doc_id(self):
        ref = Reference()
        ref.add([0, 1, 2], ["x y", "x y", "y"])
        self.assertEqual([d for d, _ in ref.topk(("term", "x"), 10)], [0, 1])

    def test_absent_term(self):
        ref = small_ref()
        self.assertEqual(ref.topk(("term", "zz"), 10), [])
        self.assertEqual(
            ref.topk(("and", [("term", "a"), ("term", "zz")]), 10), [])
        self.assertEqual(
            [d for d, _ in ref.topk(("or", [("term", "a"), ("term", "zz")]), 10)],
            [0, 2])

    def test_delete_then_purge(self):
        ref = small_ref()
        ref.delete([1])
        tree = ("or", [("term", "b"), ("term", "c")])
        # d1 no longer matches, stats unchanged until the purge
        got = ref.topk(tree, 10)
        self.assertEqual([d for d, _ in got], [2, 0])
        self.assertAlmostEqual(got[1][1], LN16 * 1.0, places=12)
        self.assertEqual((ref.n_docs, ref.n_live), (3, 2))
        ref.purge()
        # N = 2, avgdl = 3.5, df(b) = 1 -> idf ln(1 + 1.5/1.5) = ln 2
        self.assertEqual((ref.n_docs, ref.total_tokens), (2, 7))
        norm0 = 1.2 * (0.25 + 0.75 * 3 / 3.5)
        got = ref.topk(("term", "b"), 10)
        self.assertEqual([d for d, _ in got], [0])
        self.assertAlmostEqual(got[0][1], math.log(2.0) * 2.2 / (1 + norm0),
                               places=12)


class CheckCanFail(unittest.TestCase):
    TREE = ("or", [("term", "a"), ("term", "b"), ("term", "c")])

    def setUp(self):
        import run

        self.ref = small_ref()
        self.want = self.ref.topk(self.TREE, 10)
        self.bench = run.Bench(SimpleNamespace(seed=0, trace=0), Path("."))

    def verify(self, got):
        self.bench.verify(self.ref, "a OR b OR c", self.TREE, got)

    def test_correct_result_passes(self):
        self.assertIsNone(check_topk(self.ref, self.TREE, self.want, self.want))
        self.verify(list(self.want))
        self.assertEqual((self.bench.attempted, self.bench.failed), (1, 0))

    def test_dropped_doc_fails(self):
        self.verify(self.want[:-1])
        self.assertEqual((self.bench.attempted, self.bench.failed), (1, 1))

    def test_swapped_rank_fails(self):
        w = list(self.want)
        w[0], w[1] = w[1], w[0]
        self.verify(w)
        self.assertEqual(self.bench.failed, 1)

    def test_perturbed_score_fails(self):
        w = list(self.want)
        w[2] = (w[2][0], w[2][1] * (1 + 1e-7))
        self.verify(w)
        self.assertEqual(self.bench.failed, 1)

    def test_foreign_doc_fails(self):
        w = list(self.want)
        w[-1] = (99, w[-1][1])
        self.verify(w)
        self.assertEqual(self.bench.failed, 1)


if __name__ == "__main__":
    unittest.main()
