#!/usr/bin/env python3
"""Compare two Bench runs and flag per-query regressions beyond the
measured ±25-30% noise band, on wall seconds and, when both runs carry
it, on per-query process cpu seconds (the field co-tenant load does not
move).

Usage: python3 tools/bench_diff.py OLD NEW [--threshold 1.35]
OLD/NEW each: a Bench JSON line (BENCH_FULL.json), a captured Bench
stdout (log noise plus the full and compact lines, sbt prefixes
allowed), or a driver BENCH_r*.json record (whose 'tail' holds the
truncated output). A run whose per-query maps did not survive (a driver
tail clipped past them) still compares on its headline totals.
"""
import json, re, sys


def line_objects(text):
    """Every JSON object that ends a line, after any prefix (`[info] `)."""
    for line in text.splitlines():
        start = line.find("{")
        if start < 0:
            continue
        try:
            d = json.loads(line[start:])
        except ValueError:
            continue
        if isinstance(d, dict):
            yield d


def clipped_queries(tail):
    """The wall map of a full line whose FRONT was clipped, or None. Only a
    map of plain numbers qualifies: the drift, cpu and per_query maps that
    follow it in newer lines must not read as wall times."""
    ends = [tail.index(s) for s in ('},"cpu"', '},"drift"', '},"errors"', '},"sf"')
            if s in tail]
    if not ends:
        return None
    qpart = tail[: min(ends) + 1]
    if not qpart.lstrip().startswith('{"'):
        # the clip can land anywhere — inside a key OR a value; drop
        # everything up to the first complete `"key":value` pair
        first = re.search(r'"q\d+[^"]*":', qpart)
        if not first:
            return None
        qpart = "{" + qpart[first.start():]
    try:
        q = json.loads(qpart)
    except ValueError:
        return None
    if not all(isinstance(v, (int, float)) for v in q.values()):
        return None
    return q


def load(path):
    """(queries, cpu, headline) of one run; the maps are None when absent."""
    text = open(path).read()
    try:
        whole = json.loads(text)
    except ValueError:
        whole = None
    if isinstance(whole, dict) and "tail" in whole and "queries" not in whole:
        parsed = whole.get("parsed")
        if isinstance(parsed, dict) and "queries" in parsed:
            whole = parsed
        else:
            text = whole["tail"]
    objs = list(line_objects(text))
    full = next((d for d in objs if "queries" in d), None)
    head = next((d for d in objs if "value" in d), None)
    if full is not None:
        return full["queries"], full.get("cpu"), full
    queries = clipped_queries(text)
    if head is None and queries is None:
        raise SystemExit(f"no per-query times and no headline line in {path}")
    return queries, None, head or {}


def compare(label, old, new, threshold):
    worse = better = 0
    for q in sorted(old):
        if q not in new or old[q] <= 0.15:  # sub-150ms timings are noise
            continue
        ratio = new[q] / old[q]
        if ratio > threshold:
            print(f"REGRESS {label}{q}: {old[q]:.2f}s -> {new[q]:.2f}s ({ratio:.2f}x)")
            worse += 1
        elif ratio < 1 / threshold:
            print(f"improve {label}{q}: {old[q]:.2f}s -> {new[q]:.2f}s ({ratio:.2f}x)")
            better += 1
    return worse, better


def main(old_path, new_path, threshold=1.35):
    (oq, oc, oh), (nq, nc, nh) = load(old_path), load(new_path)
    for key in ("value", "cpu_total"):
        if isinstance(oh.get(key), (int, float)) and isinstance(nh.get(key), (int, float)):
            print(f"headline {key}: {oh[key]:.1f}s -> {nh[key]:.1f}s")
    if oq is None or nq is None:
        gone = old_path if oq is None else new_path
        print(f"no per-query times in {gone}: headline only")
        return 0
    worse, better = compare("", oq, nq, threshold)
    if oc is not None and nc is not None:
        w, b = compare("cpu ", oc, nc, threshold)
        worse, better = worse + w, better + b
    print(f"\n{worse} regressions, {better} improvements beyond {threshold}x")
    return 1 if worse else 0


if __name__ == "__main__":
    thr = 1.35
    if "--threshold" in sys.argv:
        i = sys.argv.index("--threshold")
        thr = float(sys.argv[i + 1])
        del sys.argv[i : i + 2]
    sys.exit(main(sys.argv[1], sys.argv[2], thr))
