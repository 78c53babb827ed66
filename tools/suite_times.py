#!/usr/bin/env python3
"""Sum ScalaTest suite and test times from sbt's JUnit XML reports.

sbt writes one ``TEST-<suite>.xml`` per suite to ``target/test-reports``
on every ``sbt test`` / ``testOnly`` run. This tool reads such a directory
and reports the suite total, the slowest suites and (with ``--tests``) the
slowest tests; given two directories it diffs them, suite by suite and
test by test, so a change's effect on the tier-1 time is measured rather
than estimated. Copy ``target/test-reports`` aside before a second run:
sbt overwrites it. sbt never deletes the report of a suite that no
longer exists, so empty the directory before a full run whose suite
set changed.

Usage:
  python3 tools/suite_times.py target/test-reports
  python3 tools/suite_times.py BEFORE_DIR AFTER_DIR [--top 25] [--tests]
  python3 tools/suite_times.py --selftest

The summed time is the time ScalaTest reports inside the forked test JVM
(suites run one after another there); it excludes sbt start-up and
compilation.
"""
import argparse
import glob
import os
import sys
import tempfile
import xml.etree.ElementTree as ET


def load(report_dir):
    """Return ({suite: (seconds, tests, failures+errors)},
    {(suite, test): seconds}) for every TEST-*.xml under report_dir."""
    suites, tests = {}, {}
    paths = sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml")))
    if not paths:
        sys.exit(f"suite_times: no TEST-*.xml reports under {report_dir}")
    for path in paths:
        root = ET.parse(path).getroot()
        for ts in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = ts.get("name")
            bad = int(ts.get("failures", 0)) + int(ts.get("errors", 0))
            suites[name] = (float(ts.get("time", 0.0)), int(ts.get("tests", 0)), bad)
            for tc in ts.iter("testcase"):
                tests[(name, tc.get("name"))] = float(tc.get("time", 0.0))
    return suites, tests


def totals(suites):
    return (sum(s[0] for s in suites.values()),
            sum(s[1] for s in suites.values()),
            sum(s[2] for s in suites.values()))


def report_one(report_dir, top, with_tests):
    suites, tests = load(report_dir)
    secs, n, bad = totals(suites)
    print(f"{report_dir}: {len(suites)} suites, {n} tests, {bad} failed, "
          f"{secs:.1f} s ({secs / 60:.1f} min)")
    print(f"\nslowest {top} suites:")
    for name, (t, k, _) in sorted(suites.items(), key=lambda kv: -kv[1][0])[:top]:
        print(f"  {t:8.1f} s  {k:4d} tests  {name}")
    if with_tests:
        print(f"\nslowest {top} tests:")
        for (suite, name), t in sorted(tests.items(), key=lambda kv: -kv[1])[:top]:
            print(f"  {t:8.1f} s  {suite} :: {name}")


def diff_rows(before, after):
    """(key, before_s, after_s, delta_s) for every key in either map, the
    largest absolute change first; a missing side reads as None."""
    rows = []
    for key in set(before) | set(after):
        b, a = before.get(key), after.get(key)
        rows.append((key, b, a, (a or 0.0) - (b or 0.0)))
    rows.sort(key=lambda r: (-abs(r[3]), str(r[0])))
    return rows


def fmt(x):
    return "       -" if x is None else f"{x:8.1f}"


def report_diff(before_dir, after_dir, top, with_tests):
    sb, tb = load(before_dir)
    sa, ta = load(after_dir)
    (b_s, b_n, b_bad), (a_s, a_n, a_bad) = totals(sb), totals(sa)
    print(f"before {before_dir}: {len(sb)} suites, {b_n} tests, {b_bad} failed, {b_s:.1f} s")
    print(f"after  {after_dir}: {len(sa)} suites, {a_n} tests, {a_bad} failed, {a_s:.1f} s")
    print(f"delta: {a_s - b_s:+.1f} s ({a_n - b_n:+d} tests)")
    print(f"\nlargest {top} suite changes (before, after, delta s):")
    for name, b, a, d in diff_rows({k: v[0] for k, v in sb.items()},
                                   {k: v[0] for k, v in sa.items()})[:top]:
        print(f"  {fmt(b)} {fmt(a)} {d:+8.1f}  {name}")
    if with_tests:
        print(f"\nlargest {top} test changes (before, after, delta s):")
        for (suite, name), b, a, d in diff_rows(tb, ta)[:top]:
            print(f"  {fmt(b)} {fmt(a)} {d:+8.1f}  {suite} :: {name}")


def selftest():
    def write(d, suite, cases):
        body = "".join(f'<testcase classname="{suite}" name="{n}" time="{t}"/>'
                       for n, t in cases)
        total = sum(t for _, t in cases)
        with open(os.path.join(d, f"TEST-{suite}.xml"), "w") as f:
            f.write(f'<?xml version="1.0"?><testsuite name="{suite}" tests="{len(cases)}" '
                    f'failures="0" errors="0" time="{total}">{body}</testsuite>')
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        write(a, "S1", [("x", 1.0), ("y", 2.0)])
        write(a, "S2", [("z", 4.0)])
        write(b, "S1", [("x", 1.5)])
        sa, ta = load(a)
        assert totals(sa) == (7.0, 3, 0), totals(sa)
        assert ta[("S1", "y")] == 2.0
        sb, _ = load(b)
        rows = diff_rows({k: v[0] for k, v in sa.items()}, {k: v[0] for k, v in sb.items()})
        assert rows[0] == ("S2", 4.0, None, -4.0), rows
        assert rows[1] == ("S1", 3.0, 1.5, -1.5), rows
    print("suite_times selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dirs", nargs="*", help="one report dir, or BEFORE AFTER")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--tests", action="store_true", help="also list tests")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if len(args.dirs) == 1:
        report_one(args.dirs[0], args.top, args.tests)
    elif len(args.dirs) == 2:
        report_diff(args.dirs[0], args.dirs[1], args.top, args.tests)
    else:
        ap.error("give one report dir, or two to diff")


if __name__ == "__main__":
    main()
