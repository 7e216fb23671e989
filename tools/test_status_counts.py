"""Unit check of tools/status_counts.py's sbt-log cancel count, on a log
snippet captured from `sbt "testOnly graft.GoldenEtlSpec"` without the
reference corpus.

Run: python3 -m unittest tools/test_status_counts.py   (from the repo root)
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from status_counts import sbt_cancels  # noqa: E402

LOG = """\
[info] compiling 64 Scala sources to target/scala-2.13/test-classes ...
[info] done compiling
[info] GoldenEtlSpec:
[info] - full corpus ETL matches the reference's six tables exactly !!! CANCELED !!!
[info]   new java.io.File(GoldenEtlSpec.this.corpus).isDirectory() was false reference corpus not present (GoldenEtlSpec.scala:29)
[info] - fixture corpus ETL matches its committed six tables and schemas exactly
[info] - E5 per-file guard: pathological single-file size fails fast, sane sizes pass
[info] - parquet sinks round-trip (S5-S8): partitioned fact readable with same count !!! CANCELED !!!
[info]   new java.io.File(GoldenEtlSpec.this.corpus).isDirectory() was false reference corpus not present (GoldenEtlSpec.scala:63)
[info] Run completed in 16 seconds, 65 milliseconds.
[info] Total number of tests run: 2
[info] Suites: completed 1, aborted 0
[info] Tests: succeeded 2, failed 0, canceled 2, ignored 0, pending 0
[info] All tests passed.
"""


class SbtCancelsTest(unittest.TestCase):
    def test_captured_log(self):
        totals, cancels = sbt_cancels(LOG.splitlines(keepends=True))
        self.assertEqual(totals, {"succeeded": 2, "failed": 0, "canceled": 2,
                                  "ignored": 0, "pending": 0})
        self.assertEqual(len(cancels), totals["canceled"])
        self.assertEqual([(s, t[:14]) for s, t, _ in cancels],
                         [("GoldenEtlSpec", "full corpus ET"),
                          ("GoldenEtlSpec", "parquet sinks ")])
        for _, _, reason in cancels:
            self.assertIn("reference corpus not present", reason)

    def test_no_summary(self):
        self.assertEqual(sbt_cancels(["[info] compiling\n"]), (None, []))


if __name__ == "__main__":
    unittest.main()
