#!/usr/bin/env python3
"""Tier-1 test time from the JUnit XML reports sbt writes.

Sums the `time` of every <testsuite> report, counts its tests and
failures, and lists the slowest suites, so a change can show what it
did to the suite's wall budget.

Usage: python3 tools/t1time.py [report-dir]   (default: target/test-reports)
"""
import glob, os, sys
import xml.etree.ElementTree as ET

TOP = 10          # slowest suites listed
BUDGET_S = 2670   # tier-1 wall budget the summed time is set against


def suites(report_dir):
    """(name, seconds, tests, failures+errors) per suite report."""
    out = []
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            out.append((s.get("name"), float(s.get("time", 0)),
                        int(s.get("tests", 0)),
                        int(s.get("failures", 0)) + int(s.get("errors", 0))))
    return out


def main(report_dir):
    rows = suites(report_dir)
    if not rows:
        sys.exit(f"no JUnit reports under {report_dir}")
    total = sum(r[1] for r in rows)
    print(f"{total:,.0f} s summed suite time ({100 * total / BUDGET_S:.0f}% of "
          f"{BUDGET_S:,} s), {sum(r[2] for r in rows)} tests, "
          f"{sum(r[3] for r in rows)} failed, {len(rows)} suites")
    for name, secs, tests, _ in sorted(rows, key=lambda r: -r[1])[:TOP]:
        print(f"  {secs:8.1f} s  {tests:4d} tests  {name}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "target/test-reports")
