#!/usr/bin/env python3
"""Print each test suite's wall time and test count from sbt's JUnit
XML reports, slowest first, then one line with the crash suites' sum.

    python3 tools/suite_walls.py [report_dir]

report_dir defaults to target/test-reports (what `sbt test` writes).
The crash suites are the specs that drive a writer to a death window:
MergeCrashSpec, SplitCrashSpec, RoutedMergeCrashSpec and
SigReclaimCrashSpec.
"""
import glob
import os
import signal
import sys
import xml.etree.ElementTree as ET

CRASH_SUITES = ("MergeCrashSpec", "SplitCrashSpec", "RoutedMergeCrashSpec",
                "SigReclaimCrashSpec")


def walls(report_dir):
    """(suite name, wall seconds, test count) per report file."""
    rows = []
    for path in glob.glob(os.path.join(report_dir, "*.xml")):
        suite = ET.parse(path).getroot()
        rows.append((suite.get("name"), float(suite.get("time", 0)),
                     int(suite.get("tests", 0))))
    return sorted(rows, key=lambda r: -r[1])


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = walls(report_dir)
    if not rows:
        sys.exit(f"no JUnit XML reports under {report_dir}")
    width = max(len(name) for name, _, _ in rows)
    for name, secs, tests in rows:
        print(f"{name:<{width}}  {secs:9.1f} s  {tests:4d} tests")
    total = sum(secs for _, secs, _ in rows)
    crash = [(n, s) for n, s, _ in rows if n.rsplit(".", 1)[-1] in CRASH_SUITES]
    print(f"{'all suites':<{width}}  {total:9.1f} s")
    print(f"{'crash suites':<{width}}  {sum(s for _, s in crash):9.1f} s  "
          f"({len(crash)} of {len(CRASH_SUITES)} reported)")


if __name__ == "__main__":
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    main()
