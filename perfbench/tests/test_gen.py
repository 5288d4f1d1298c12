"""Tests of the seeded input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            if f == "manifest.json":
                continue
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def prepare(self, sub, workload, seed):
        return gen.prepare(os.path.join(self.tmp.name, sub), workload, seed)

    def test_same_seed_same_inputs_other_seed_differs(self):
        for w in ("batch", "store_mixed"):
            with self.subTest(workload=w):
                a, ma = self.prepare("a", w, 7)
                b, mb = self.prepare("b", w, 7)
                c, mc = self.prepare("c", w, 8)
                self.assertEqual(digest(a), digest(b))
                self.assertEqual(ma, mb)
                self.assertNotEqual(digest(a), digest(c))

    def test_etl_scaling_law_inputs(self):
        d, m = self.prepare("a", "batch", 3)
        self.assertEqual(m["factor"], gen.SCALES["batch"]["factor"])
        for name in gen.SCALING_LAW:
            self.assertEqual(m["expected"]["full"][name]["n"], m["expected"]["scaled"][name]["n"])

    def test_planted_pairs_are_near_duplicates(self):
        _, m = self.prepare("a", "batch", 5)
        sc = gen.SCALES["batch"]
        self.assertEqual(len(m["planted_pairs"]),
                         int(sc["docs"] * sc["exact_rate"]) + int(sc["docs"] * sc["near_rate"]))

    def test_store_plan_steps_hold_the_same_mix(self):
        d, _ = self.prepare("a", "store_mixed", 4)
        steps, cur = [], []
        for line in open(os.path.join(d, "ops.txt")):
            op = line.split()[0]
            if op == "end":
                steps.append(cur)
                cur = []
            else:
                cur.append(op)
        self.assertEqual(steps[0], gen.WARMUP)
        cycles = steps[1:]
        self.assertEqual(len(cycles), gen.SCALES["store_mixed"]["cycles"])
        for ops in cycles:
            # every timed step holds each write type, its check read, and
            # ends with a compaction
            self.assertEqual([o for o in ops if o in gen.WRITES], gen.WRITES)
            self.assertEqual(ops.count("expect"), len(gen.WRITES))
            self.assertEqual(ops[-1], "compact")
            self.assertEqual(sorted(ops), sorted(cycles[0]))

    def test_cache_reuses_inputs(self):
        a, _ = self.prepare("a", "store_mixed", 9)
        stamp = os.path.getmtime(os.path.join(a, "documents.parquet"))
        b, _ = self.prepare("a", "store_mixed", 9)
        self.assertEqual(a, b)
        self.assertEqual(stamp, os.path.getmtime(os.path.join(b, "documents.parquet")))


if __name__ == "__main__":
    unittest.main()
