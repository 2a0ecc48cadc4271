#!/usr/bin/env python3
"""Counter gate: compare the execution counters of two graft.Bench runs.

Usage: python3 tools/diff_counters.py <parent_spread.json> <change_spread.json>

Both files are BENCH_spread.json artifacts, whose per-query entries carry
per-pass "jobs" and "stages" lists. For every query present in both files
the script takes the minimum over passes of each counter and prints every
query where the change's minimum rose above the parent's. Jobs and stages
repeat run to run where wall time drifts, so a rise is a plan regression
even when the timings hide it.

Exit status: 0 when no counter rose, 1 when any did, 2 on unusable input.
"""
import json
import sys

COUNTERS = ("jobs", "stages")


def minima(path):
    with open(path) as f:
        queries = json.load(f)["queries"]
    out = {}
    for name, entry in queries.items():
        missing = [c for c in COUNTERS if not entry.get(c)]
        if missing:
            raise ValueError(f"{path}: {name} has no per-pass "
                             f"{', '.join(missing)}; was it written by a "
                             "graft.Bench that records counters?")
        out[name] = {c: min(entry[c]) for c in COUNTERS}
    return out


def main(argv):
    if len(argv) != 3:
        raise ValueError(__doc__.strip().splitlines()[2])
    parent, change = minima(argv[1]), minima(argv[2])
    common = sorted(parent.keys() & change.keys())
    rose = []
    for name in common:
        p, c = parent[name], change[name]
        if any(c[k] > p[k] for k in COUNTERS):
            rose.append(name)
            print(f"{name}: " + ", ".join(
                f"{k} {p[k]} -> {c[k]}" for k in COUNTERS))
    only = sorted(parent.keys() ^ change.keys())
    if only:
        print(f"not compared (in one file only): {', '.join(only)}")
    print(f"{len(rose)} of {len(common)} queries rose")
    return 1 if rose else 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv))
    except (OSError, ValueError, KeyError) as e:
        print(f"diff_counters: {e}", file=sys.stderr)
        sys.exit(2)
