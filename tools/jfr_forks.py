#!/usr/bin/env python3
"""Fork audit: count the OS processes a JVM started during a JFR recording.

Usage: python3 tools/jfr_forks.py <recording.jfr>

Runs `jfr print --json --events jdk.ProcessStart` on the recording and
prints the process starts grouped by the starting thread's name prefix
(the name up to its first digit, bracket or parenthesis, so every task
thread of one kind lands in one group) and by the first word of the
command (`chmod`, `readlink`, `rm`, ...), then the totals per command.
Record with `-XX:StartFlightRecording=filename=<file>.jfr,settings=profile`;
JDK 17's default settings also enable `jdk.ProcessStart`.

Exit status: 0 on success, 2 when `jfr` fails or the output is unusable.
"""
import collections
import json
import os
import re
import subprocess
import sys


def thread_prefix(name):
    return re.split(r"[0-9\[(]", name or "?", maxsplit=1)[0].rstrip(" -_#:") or "?"


def command_word(command):
    words = (command or "").split()
    return os.path.basename(words[0]) if words else "?"


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    run = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", argv[1]],
                         capture_output=True, text=True)
    if run.returncode != 0:
        print(run.stderr.strip() or f"jfr exited {run.returncode}", file=sys.stderr)
        return 2
    try:
        events = json.loads(run.stdout)["recording"]["events"]
    except (ValueError, KeyError) as e:
        print(f"unusable jfr output: {e}", file=sys.stderr)
        return 2

    groups = collections.Counter()
    commands = collections.Counter()
    for e in events:
        v = e.get("values", {})
        thread = (v.get("eventThread") or {}).get("javaName")
        word = command_word(v.get("command"))
        groups[(thread_prefix(thread), word)] += 1
        commands[word] += 1

    print(f"{sum(commands.values())} process starts")
    width = max([len(t) for t, _ in groups] + [6])
    for (thread, word), n in sorted(groups.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:8d}  {thread:<{width}}  {word}")
    print("by command:")
    for word, n in commands.most_common():
        print(f"{n:8d}  {word}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
