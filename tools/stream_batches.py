#!/usr/bin/env python3
"""Stream micro-batches of a perfbench stream_replay run, per query.

Usage: python3 tools/stream_batches.py <harness.json> [<other harness.json>]

Reads the `harness.json` that `perfbench/run.py --workload stream_replay`
writes beside its report (perfbench/.work/out/<workload>-seed<n>-trace<t>/).
Each timed pass there lists the progress of every micro-batch it ran, per
query: input rows, phase durations, state rows, state-store commit time and
rows dropped behind the watermark.

With one file, prints per pass and query the micro-batches run and the
milliseconds spent in `addBatch`, `queryPlanning` and state-store commits.

With two files (say, the parent and a change on the same seed), compares
the state rows, input rows and late rows of every micro-batch that both
runs timed, by (query, batch id), and prints each mismatch. None of these
depends on timing, so on the same seed they match batch for batch. A run-
level median does not: the faster side fits more passes into its timed
window, so its median pass ends on a different batch.

Exit status: 0 when the runs match (or for one file), 1 on any mismatch,
2 on unusable input.
"""
import json
import sys

COMPARED = ("state_rows", "rows", "late_rows")


def batches(path):
    """(pass, traced, progress entries) per timed pass of a stream run."""
    with open(path) as f:
        passes = json.load(f)["passes"]
    out = []
    for p in passes:
        if "progress" not in p:
            raise ValueError(f"{path}: pass {p.get('pass')} has no stream progress; "
                             "is it a stream_replay run?")
        out.append((p["pass"], p["traced"], p["progress"]))
    if not out:
        raise ValueError(f"{path}: no timed passes")
    return out


def show(path):
    print(f"{'pass':>4} {'traced':>6} {'query':<14} {'batches':>7} "
          f"{'addBatch_ms':>11} {'planning_ms':>11} {'commit_ms':>9}")
    for n, traced, prog in batches(path):
        for q in sorted({e["query"] for e in prog}):
            es = [e for e in prog if e["query"] == q]
            add = sum(e["durations"].get("addBatch", 0) for e in es)
            plan = sum(e["durations"].get("queryPlanning", 0) for e in es)
            commit = sum(e["state_commit_ms"] for e in es)
            print(f"{n:>4} {str(traced).lower():>6} {q:<14} {len(es):>7} "
                  f"{add:>11} {plan:>11} {commit:>9}")
    return 0


def by_batch(path):
    return {(e["query"], e["batch"]): e for _, _, prog in batches(path) for e in prog}


def compare(a_path, b_path):
    a, b = by_batch(a_path), by_batch(b_path)
    common = sorted(a.keys() & b.keys())
    if not common:
        raise ValueError("the two runs share no (query, batch id)")
    bad = 0
    for key in common:
        diff = [f"{k} {a[key][k]} vs {b[key][k]}" for k in COMPARED if a[key][k] != b[key][k]]
        if diff:
            bad += 1
            print(f"{key[0]} batch {key[1]}: " + ", ".join(diff))
    only = len(a.keys() ^ b.keys())
    print(f"{bad} of {len(common)} shared micro-batches differ"
          + (f"; {only} timed in one run only, not compared" if only else ""))
    return 1 if bad else 0


def main(argv):
    if len(argv) == 2:
        return show(argv[1])
    if len(argv) == 3:
        return compare(argv[1], argv[2])
    raise ValueError(__doc__.strip().splitlines()[2])


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv))
    except (OSError, ValueError, KeyError, TypeError) as e:
        print(f"stream_batches: {e}", file=sys.stderr)
        sys.exit(2)
