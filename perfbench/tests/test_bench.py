"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                self.assertEqual(tree_digest(a), tree_digest(b), w)
                self.assertNotEqual(tree_digest(a), tree_digest(c), w)

    def test_oltp_stream_mix_holds_in_every_block(self):
        kinds = [op[0] for op in gen.oltp_ops(3, 750)]
        for i in range(0, len(kinds), 20):
            block = kinds[i:i + 20]
            self.assertEqual([block.count(k) for k in ("lookup", "step", "trav", "write")],
                             [11, 3, 2, 4])
            for j in range(0, 20, 5):
                self.assertEqual(block[j:j + 5].count("write"), 1)


class Tail(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertAlmostEqual(stats.tail_percentile(10000), 99.9)
        self.assertAlmostEqual(stats.tail_percentile(1000), 99.0)
        self.assertAlmostEqual(stats.tail_percentile(100), 90.0)
        self.assertAlmostEqual(stats.tail_percentile(40), 75.0)
        self.assertAlmostEqual(stats.tail_percentile(20), 50.0)
        for n in (20, 37, 100, 1234):
            p = stats.tail_percentile(n)
            self.assertAlmostEqual(n * (100 - p) / 100, 10.0)

    def test_tail_moves_smoothly_with_sample_count(self):
        xs = list(range(1, 101))
        tails = [stats.summary(xs[:n])[1] for n in range(35, 46)]
        self.assertEqual(tails, sorted(tails))
        self.assertTrue(all(b - a < 2 for a, b in zip(tails, tails[1:])))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(stats.tail_percentile(5), 50.0)
        p50, tail, p, n = stats.summary([1.0, 2.0, 3.0, 4.0, 100.0])
        self.assertEqual((p50, tail, p, n), (3.0, 3.0, 50.0, 5))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(stats.percentile(range(101), 90), 90.0)


class SelfTime(unittest.TestCase):
    def test_children_overlapping_and_outside(self):
        spans = {
            1: (0, 0, 100),    # root
            2: (1, 10, 40),    # child
            3: (1, 30, 60),    # overlaps child 2
            4: (2, 15, 20),    # grandchild: counts against 2 only
            5: (1, 90, 120),   # runs past its parent's end
        }
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (50 + 10))  # covered: [10,60) and [90,100)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)
        self.assertEqual(st[5], 30)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([]), 0)


class PlantedWrongAnswer(unittest.TestCase):
    def _analytics(self, tamper):
        d = tempfile.mkdtemp()
        inp, out = os.path.join(d, "in"), os.path.join(d, "out")
        gen.gen_analytics(5, inp)
        os.makedirs(out)
        edges = check._graph(inp, 0)
        rows = check.ref_components(edges)
        rows2 = check.ref_lpa(edges)
        if tamper:
            i, c = rows[3].split("|")
            rows[3] = "%s|%d" % (i, int(c) + 1)
        with open(os.path.join(out, "analytics_results.tsv"), "w") as f:
            f.write("connectedComponents\t0\t%s\n" % ",".join(rows))
            f.write("labelPropagation\t0\t%s\n" % ",".join(rows2))
        return check.check_analytics(out, inp)

    def test_correct_results_pass(self):
        v = self._analytics(tamper=False)
        self.assertEqual(v.checked, 2)
        self.assertEqual(v.wrong, [])

    def test_planted_wrong_component_is_caught(self):
        v = self._analytics(tamper=True)
        self.assertEqual(len(v.wrong), 1)
        self.assertIn("connectedComponents", v.wrong[0])

    def test_wrong_near_duplicate_score_is_caught(self):
        a = "w1 w2 w3 w4 w5 w6"
        b = "w1 w2 w3 w4 w5 w7"
        self.assertEqual(check.jaccard(a, b), 0.6)
        self.assertEqual(check.jaccard(a, a), 1.0)

    def test_recall_at_10(self):
        self.assertEqual(check.recall_at_10(list("abcdefghij"), list("abcdefghij")), 1.0)
        self.assertEqual(check.recall_at_10(list("abcdefghiz"), list("abcdefghij")), 0.9)
        self.assertIsNone(check.recall_at_10(["a"], []))


if __name__ == "__main__":
    unittest.main()
