#!/usr/bin/env python3
"""Per-layer deltas between two sets of traced benchmark records.

Usage:
    python3 perfbench/trace_diff.py BEFORE.json[,BEFORE2.json...] AFTER.json[,AFTER2.json...]

Each record is the file `run.py --trace 1 --record <file>` writes. With
several records per side (traced runs with different seeds), times are
compared by their medians and shown with each side's spread (the range
of its values, as a share of its median), so a saving can be told apart
from run-to-run noise. Counters (unit `count` or `MB`) are compared
exactly: a counter that differs within one side is flagged. Self time
per span is diffed the same way as the times.
"""
import json
import statistics
import sys

EXACT_UNITS = {"count", "MB"}


def load(arg):
    recs = []
    for path in arg.split(","):
        with open(path) as fh:
            recs.append(json.load(fh))
    return recs


def values(recs, section):
    out = {}
    for r in recs:
        for k, v in r[section].items():
            val, unit = (v["value"], v["unit"]) if isinstance(v, dict) else (v, "s")
            out.setdefault(k, ([], unit))[0].append(val)
    return out


def spread(xs):
    m = statistics.median(xs)
    return (max(xs) - min(xs)) / m if m else 0.0


def fmt(x):
    return f"{x:.6g}"


def diff(before, after, title):
    b, a = values(before, title), values(after, title)
    rows = []
    for k in sorted(set(b) | set(a)):
        bv, unit = b.get(k, ([], a.get(k, ([], "s"))[1]))
        av, _ = a.get(k, ([], unit))
        if not bv or not av:
            rows.append((k, unit, "only in " + ("after" if av else "before"), ""))
            continue
        if not any(bv) and not any(av):
            continue  # a layer neither side exercised
        if unit in EXACT_UNITS:
            flag = "" if len(set(bv)) == 1 and len(set(av)) == 1 else "  (varies within a side)"
            d = statistics.median(av) - statistics.median(bv)
            if d != 0 or flag:
                rows.append((k, unit, f"{fmt(statistics.median(bv))} -> "
                             f"{fmt(statistics.median(av))} ({d:+.6g}){flag}", ""))
        else:
            mb, ma = statistics.median(bv), statistics.median(av)
            rel = f"{(ma - mb) / mb:+.1%}" if mb else "new"
            note = f"spread before {spread(bv):.1%}, after {spread(av):.1%}" \
                if len(bv) > 1 or len(av) > 1 else "one record per side: no spread"
            rows.append((k, unit, f"{fmt(mb)} -> {fmt(ma)} ({rel})", note))
    print(f"== {title} ==")
    w = max([len(r[0]) for r in rows] + [10])
    for k, unit, change, note in rows:
        print(f"{k:<{w}}  {unit:<7} {change}  {note}".rstrip())


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    diff(before, after, "metrics")
    diff(before, after, "self_s")


if __name__ == "__main__":
    main()
