#!/usr/bin/env python3
"""Artifact-derived status numbers for README's Status section (r15
verdict ask #7: the hand-written counts drifted from the measured test
reports — derive them from artifacts instead).

Reads:
  - target/test-reports/*.xml   (scalatest JUnit XML: suites, tests)
  - an sbt test log, if given   (canceled tests: the XML counts them as
                                 passed, only the console log marks them)
  - CORRECTNESS_r{N}.json       (newest: registered/hash-green/no_oracle)
  - bench_full_sf0.1_r{N}.json  (newest: headline + extended totals)

Usage: python3 tools/status_counts.py [SBT_TEST_LOG]   (from the repo root)
"""
import glob
import json
import os
import re
import sys
import xml.etree.ElementTree as ET

_PREFIX = re.compile(r"^(?:\[\w+\] )?")
_SUITE = re.compile(r"^(\S+):$")
_CANCELED = re.compile(r"^\s*- (.*) !!! CANCELED !!!$")
_SUMMARY = re.compile(r"Tests: succeeded (\d+), failed (\d+), canceled (\d+), "
                      r"ignored (\d+), pending (\d+)")


def sbt_cancels(lines):
    """Scan an sbt test log. Returns (totals, cancels): the summed
    `Tests: succeeded N, failed N, canceled N, ...` summary lines as a dict
    (None if the log has none), and one (suite, test, reason) per
    `!!! CANCELED !!!` test; the reason is the indented line after it."""
    totals, cancels, suite = None, [], None
    lines = [_PREFIX.sub("", ln.rstrip("\n")) for ln in lines]
    for i, ln in enumerate(lines):
        if m := _SUMMARY.search(ln):
            keys = ("succeeded", "failed", "canceled", "ignored", "pending")
            totals = totals or dict.fromkeys(keys, 0)
            for k, v in zip(keys, m.groups()):
                totals[k] += int(v)
        elif m := _SUITE.match(ln):
            suite = m.group(1)
        elif m := _CANCELED.match(ln):
            nxt = lines[i + 1] if i + 1 < len(lines) else ""
            reason = nxt.strip() if nxt.startswith("  ") and not _CANCELED.match(nxt) else ""
            cancels.append((suite, m.group(1), reason))
    return totals, cancels


def newest(pattern):
    def roundno(p):
        m = re.search(r"r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1
    paths = glob.glob(pattern)
    return max(paths, key=roundno) if paths else None


def main(argv):
    xmls = glob.glob("target/test-reports/*.xml")
    suites = tests = failures = errors = 0
    for p in xmls:
        root = ET.parse(p).getroot()
        nodes = [root] if root.tag == "testsuite" else root.findall("testsuite")
        for s in nodes:
            suites += 1
            tests += int(s.get("tests", 0))
            failures += int(s.get("failures", 0))
            errors += int(s.get("errors", 0))
    print(f"tests: {tests} across {suites} suites "
          f"({failures} failures, {errors} errors)")

    if len(argv) > 1:
        with open(argv[1], encoding="utf-8", errors="replace") as f:
            totals, cancels = sbt_cancels(f)
        if totals:
            print("sbt log: " + ", ".join(f"{k} {v}" for k, v in totals.items()))
        print(f"canceled: {len(cancels)} (counted as passed in the XML)")
        for suite, test, reason in cancels:
            print(f"  {suite} :: {test} — {reason}")

    cpath = newest("CORRECTNESS_r*.json")
    if cpath:
        c = json.load(open(cpath))
        n = len(c)
        green = sum(1 for v in c.values() if v.get("hash_match") is True)
        no_oracle = sorted(k for k, v in c.items()
                           if v.get("err") == "no_oracle")
        bad = sorted(k for k, v in c.items()
                     if v.get("err") not in (None, "no_oracle")
                     or v.get("hash_match") is False
                     or v.get("rows_match") is False)
        print(f"{os.path.basename(cpath)}: {n} queries, {green} hash-green, "
              f"{len(no_oracle)} no_oracle ({', '.join(no_oracle)})")
        if bad:
            print(f"  FAILING: {', '.join(bad)}")

    bpath = newest("bench_full_sf0.1_r*.json")
    if bpath:
        b = json.load(open(bpath))
        ext = b.get("extended", {})
        n_ext = len(ext)
        print(f"{os.path.basename(bpath)}: headline {b.get('value')}s warm / "
              f"{b.get('total_cold')}s cold; extended {b.get('extended_total')}s "
              f"across {n_ext} queries; errors {b.get('errors')}; "
              f"loadavg_pre {b.get('loadavg_pre')}")
        for g in b.get("ext_groups", []):
            if "sec" in g:
                print(f"  group {g['tag']}: n={g['n']} {g['sec']}s "
                      f"(cold {g['sec_cold']}s)")

    spath = newest("CORRECTNESS_sf0.1_r*.json")
    if spath:
        c = json.load(open(spath))
        green = sum(1 for v in c.values() if v.get("hash_match") is True)
        print(f"{os.path.basename(spath)}: {len(c)} bench-scale queries, "
              f"{green} hash-green")


if __name__ == "__main__":
    main(sys.argv)
