#!/usr/bin/env python3
"""Print each spec's wall time from sbt's JUnit XML test reports.

Usage: python3 scripts/spec_times.py [REPORT_DIR] [SPEC ...]

REPORT_DIR defaults to target/test-reports (written by `sbt test` /
`sbt testOnly`). A spec's time is its suite's `time` attribute: the
summed wall time of its test cases, which excludes suite setup such as
the shared SparkSession start. Specs print slowest first, then the
total. Optional SPEC arguments keep only suites whose name ends with
one of them (e.g. `SinksSpec graft.apps.RebucketSpec`).
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def spec_times(report_dir):
    """(suite name, seconds, tests, failures + errors) per report file."""
    out = []
    for f in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        suite = ET.parse(f).getroot()
        out.append((suite.get("name"), float(suite.get("time", 0)),
                    int(suite.get("tests", 0)),
                    int(suite.get("failures", 0)) + int(suite.get("errors", 0))))
    return out


def main(argv):
    report_dir = argv[1] if len(argv) > 1 else "target/test-reports"
    wanted = argv[2:]
    rows = spec_times(report_dir)
    if wanted:
        rows = [r for r in rows
                if any(r[0] == w or r[0].endswith("." + w) for w in wanted)]
    if not rows:
        sys.exit(f"no test reports under {report_dir}")
    rows.sort(key=lambda r: -r[1])
    width = max(len(r[0]) for r in rows)
    for name, secs, tests, bad in rows:
        flag = f"  {bad} failed" if bad else ""
        print(f"{name:<{width}}  {secs:9.3f} s  {tests:3d} tests{flag}")
    print(f"{'total':<{width}}  {sum(r[1] for r in rows):9.3f} s  "
          f"{sum(r[2] for r in rows):3d} tests")


if __name__ == "__main__":
    main(sys.argv)
