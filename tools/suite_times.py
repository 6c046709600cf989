#!/usr/bin/env python3
"""Summarise a test run from its JUnit XML reports.

Reads every TEST-*.xml under a report directory (default
target/test-reports, where `sbt test` writes them) and prints the test
count, the failures and errors, the sum of suite times and the slowest
suites, so the headroom under the tier-1 timeout is a number per change:

    python3 tools/suite_times.py [report_dir]
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

TOP = 10  # slowest suites printed


def suites(report_dir):
    out = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        nodes = [root] if root.tag == "testsuite" else root.iter("testsuite")
        for s in nodes:
            out.append((s.get("name"), int(s.get("tests", 0)),
                        int(s.get("failures", 0)) + int(s.get("errors", 0)),
                        float(s.get("time", 0.0))))
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    a = ap.parse_args(argv)
    rows = suites(a.report_dir)
    if not rows:
        sys.exit(f"no TEST-*.xml reports under {a.report_dir}")
    tests = sum(r[1] for r in rows)
    bad = sum(r[2] for r in rows)
    total = sum(r[3] for r in rows)
    print(f"suites {len(rows)}  tests {tests}  failed {bad}  "
          f"suite time {total:.1f} s")
    print(f"slowest {min(TOP, len(rows))}:")
    for name, n, _, t in sorted(rows, key=lambda r: -r[3])[:TOP]:
        print(f"  {t:8.1f} s  {n:4d} tests  {name}")


if __name__ == "__main__":
    main(sys.argv[1:])
