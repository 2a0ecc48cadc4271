#!/usr/bin/env python3
"""Counter gate: compare the execution counters of two graft.Bench runs.

Usage: python3 tools/diff_counters.py <parent_spread.json> <change_spread.json>

Both files are BENCH_spread.json artifacts, whose per-query entries carry
per-pass "jobs" and "stages" lists. For every query present in both files
the script takes the minimum over passes of each counter and prints every
query where the change's minimum rose above the parent's. Jobs and stages
repeat run to run where wall time drifts, so a rise is a plan regression
even when the timings hide it.

Each flagged query is printed with both sides' per-pass lists, and marked
"parent spread" when the parent's own passes disagree on a counter: such a
rise may be the parent's run-to-run variation (AQE re-planning on runtime
statistics) rather than a plan change.

Exit status: 0 when no counter rose, 1 when any did, 2 on unusable input.
"""
import json
import sys

COUNTERS = ("jobs", "stages")


def passes(path):
    """Per query, each counter's per-pass list."""
    with open(path) as f:
        queries = json.load(f)["queries"]
    out = {}
    for name, entry in queries.items():
        missing = [c for c in COUNTERS if not entry.get(c)]
        if missing:
            raise ValueError(f"{path}: {name} has no per-pass "
                             f"{', '.join(missing)}; was it written by a "
                             "graft.Bench that records counters?")
        out[name] = {c: list(entry[c]) for c in COUNTERS}
    return out


def totals(side, names, counter):
    """Sum of one counter over `names`, per pass."""
    width = min((len(side[n][counter]) for n in names), default=0)
    return [sum(side[n][counter][i] for n in names) for i in range(width)]


def main(argv):
    if len(argv) != 3:
        raise ValueError(__doc__.strip().splitlines()[2])
    parent, change = passes(argv[1]), passes(argv[2])
    common = sorted(parent.keys() & change.keys())
    rose = []
    for name in common:
        p, c = parent[name], change[name]
        if any(min(c[k]) > min(p[k]) for k in COUNTERS):
            rose.append(name)
            spread = any(len(set(p[k])) > 1 for k in COUNTERS)
            print(f"{name}: " + ", ".join(
                f"{k} {min(p[k])} -> {min(c[k])} ({p[k]} -> {c[k]})"
                for k in COUNTERS) + ("  [parent spread]" if spread else ""))
    for k in COUNTERS:
        print(f"{k} per pass over compared queries: "
              f"{totals(parent, common, k)} -> {totals(change, common, k)}")
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
