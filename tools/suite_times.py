#!/usr/bin/env python3
"""Wall time per test suite from sbt's JUnit XML reports.

sbt writes one target/test-reports/TEST-<suite>.xml per suite it runs.
This prints each suite's wall time (slowest first, with its share of
the total), the slowest individual tests and the total. It reads files
only.

Usage: suite_times.py [REPORT_DIR] [--top N]
  REPORT_DIR  directory of TEST-*.xml files (default target/test-reports)
  --top N     how many of the slowest tests to list (default 10)
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(report_dir):
    """[(suite, seconds, tests, failures + errors)], [(suite, test, seconds)]"""
    suites, cases = [], []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = s.get("name", os.path.basename(path))
            bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
            suites.append((name, float(s.get("time", 0)), int(s.get("tests", 0)), bad))
            for c in s.iter("testcase"):
                cases.append((name, c.get("name", "?"), float(c.get("time", 0))))
    return suites, cases


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args(argv)
    suites, cases = load(args.report_dir)
    if not suites:
        print(f"no TEST-*.xml reports in {args.report_dir}", file=sys.stderr)
        return 1
    total = sum(t for _, t, _, _ in suites)
    width = max(len(n) for n, _, _, _ in suites)
    print(f"{'suite':<{width}}  {'seconds':>9}  {'share':>6}  {'tests':>5}  {'failed':>6}")
    for name, t, n, bad in sorted(suites, key=lambda s: -s[1]):
        print(f"{name:<{width}}  {t:>9.1f}  {t / total:>6.1%}  {n:>5}  {bad:>6}")
    print(f"\nslowest {min(args.top, len(cases))} tests:")
    for suite, test, t in sorted(cases, key=lambda c: -c[2])[:args.top]:
        print(f"{t:>9.1f}  {suite.split('.')[-1]}: {test}")
    n_tests = sum(n for _, _, n, _ in suites)
    n_bad = sum(b for _, _, _, b in suites)
    print(f"\ntotal: {total:.1f} s over {len(suites)} suites, {n_tests} tests, {n_bad} failed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
