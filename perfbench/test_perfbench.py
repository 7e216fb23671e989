"""Tests of the benchmark's own code: generator determinism and the metric
arithmetic. Run: python3 -m unittest perfbench/test_perfbench.py
"""
import hashlib
import os
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics as M  # noqa: E402

GOLDEN = HERE.parent / "tools" / "golden"
CASES = GOLDEN / "personnel_cases.jsonl"


def tree_digest(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(d)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):

    def twice(self, make):
        digests = []
        for seed in (7, 7, 8):
            with tempfile.TemporaryDirectory() as d:
                make(d, seed)
                digests.append(tree_digest(d))
        self.assertEqual(digests[0], digests[1], "same seed, different bytes")
        self.assertNotEqual(digests[0], digests[2], "seed has no effect")

    def test_star_tables(self):
        self.twice(lambda d, s: gen.star_tables(d, s, 0.002, skew=False))

    def test_skewed_star_tables(self):
        self.twice(lambda d, s: gen.star_tables(d, s, 0.002, skew=True))

    def test_vectors(self):
        self.twice(lambda d, s: gen.vectors(d, s, 500, 16, 8))

    @unittest.skipUnless(CASES.exists(), "needs tools/golden/personnel_cases.jsonl")
    def test_roster_corpus(self):
        self.twice(lambda d, s: gen.roster_corpus(d, s, str(GOLDEN), 4, 120))

    @unittest.skipUnless(CASES.exists(), "needs tools/golden/personnel_cases.jsonl")
    def test_roster_counts_are_consistent(self):
        with tempfile.TemporaryDirectory() as d:
            e = gen.roster_corpus(d, 3, str(GOLDEN), 4, 120)
            self.assertEqual(len(os.listdir(f"{d}/corpus")), 4)
            self.assertTrue(os.path.exists(f"{d}/corpus/fabric1901.html"))
            self.assertGreater(e["fact_rows"], 0)
            self.assertLessEqual(e["data_rows"], e["tr_rows"])
            for t in ("ranks", "professions", "educations"):
                self.assertGreater(e[t], 0)

    def test_dimension_counts(self):
        keys = {"ranks": {"н. с.", "к. а."}, "professions": {"врач"},
                "educations": {"мих. арт. акад", "канд. унив"}}
        rec = lambda r, p, e: {"rank_abbr": r, "prof_abbr": p, "edu_abbr": e}
        got = gen.dimension_counts(
            [rec("н. с.", "врач", None), rec("н. с.", None, "мих. арт. акад"),
             rec("к. а.", "канд. унив", None), rec(None, None, None)],
            {**keys, "professions": keys["professions"] | {"канд. унив"}})
        # a profession that is an education key is filed under educations
        self.assertEqual(got, {"ranks": 2, "professions": 1, "educations": 2})
        with self.assertRaises(ValueError):
            gen.dimension_counts([rec("x", None, None)], keys)

    def test_canonical_name_sorts_initials(self):
        self.assertEqual(gen.canonical_name("и. а. федоров"), "федоров а.и.")


class Arithmetic(unittest.TestCase):

    def test_median_and_percentile(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(M.median([]), 0.0)
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile(xs, 50), 50)

    def test_slope(self):
        # 3 iterations in 500 ms, 6 in 800 ms: 100 ms per iteration
        self.assertAlmostEqual(M.slope(3, 500.0, 6, 800.0), 100.0)
        self.assertEqual(M.slope(3, 1.0, 3, 2.0), 0.0)

    def test_stage_self_times(self):
        st = M.self_times([("grid_rows", 100.0), ("resolve", 250.0),
                           ("tables", 400.0), ("write", 700.0)])
        self.assertEqual(st, {"grid_rows": 100.0, "resolve": 150.0,
                              "tables": 150.0, "write": 300.0})

    def span(self, i, parent, start, end, jobs=0):
        return {"id": i, "name": f"s{i}", "parent": parent, "op": 1,
                "start_ms": start, "end_ms": end, **{c: 0 for c in M.COUNTERS},
                "jobs": jobs}

    def test_inclusive_counters(self):
        spans = [self.span(1, 0, 0, 100, jobs=1), self.span(2, 1, 10, 40, jobs=2),
                 self.span(3, 2, 15, 20, jobs=4), self.span(5, 0, 0, 1, jobs=8)]
        inc = M.inclusive(spans)
        self.assertEqual(inc[1]["jobs"], 7)
        self.assertEqual(inc[2]["jobs"], 6)
        self.assertEqual(inc[5]["jobs"], 8)


if __name__ == "__main__":
    unittest.main()
