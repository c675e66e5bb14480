#!/usr/bin/env python3
"""Census of the processes a JVM forked, from a Java Flight Recording.

Reads the `jdk.ProcessStart` events of a recording, as printed by

    jfr print --events jdk.ProcessStart --stack-depth 40 FILE.jfr

and counts them three ways:
  by command  the program forked (`readlink`, `chmod`, ...)
  by caller   the command and the innermost Spark or graft frame of the
              forking stack (the code that asked for the process)
  by area     the command and `streaming` when any frame of the stack is
              in Spark's streaming execution (checkpoint logs, state
              stores), else `other`

A recording of one perfbench run:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=profile \\
      python3 perfbench/run.py --workload sort_ingest --seed 2 --seconds 10

Usage:
  python3 tools/jfr_forks.py FILE.jfr     # runs `jfr print` itself
  python3 tools/jfr_forks.py FILE.txt     # reads saved `jfr print` output
  python3 tools/jfr_forks.py -            # reads `jfr print` output on stdin

Any other form prints this text and exits 2.
"""
import collections
import os
import re
import subprocess
import sys

CALLER_PREFIXES = ("org.apache.spark.", "graft.")
STREAMING = "org.apache.spark.sql.execution.streaming."
COMMAND = re.compile(r'^\s*command = "(.*)"\s*$')
FRAME = re.compile(r"^\s+([\w$.<>]+)\(.*\)(?: line: \d+)?\s*$")


def events(lines):
    """Yields (command, frames) per event; frames innermost first, each
    `package.Class.method`."""
    command, frames, in_stack = None, [], False
    for line in lines:
        s = line.strip()
        if s == "jdk.ProcessStart {":
            command, frames, in_stack = None, [], False
        elif s == "stackTrace = [":
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack:
            m = FRAME.match(line)
            if m:
                frames.append(m.group(1))
        elif s == "}" and command is not None:
            yield command, frames
            command = None
        else:
            m = COMMAND.match(line)
            if m:
                command = m.group(1)


def program(command):
    words = command.split()
    return os.path.basename(words[0]) if words else "?"


def caller(frames):
    return next((f for f in frames if f.startswith(CALLER_PREFIXES)), "<no spark or graft frame>")


def census(lines):
    by_command, by_caller, by_area = (collections.Counter() for _ in range(3))
    for command, frames in events(lines):
        p = program(command)
        by_command[p] += 1
        by_caller[(p, caller(frames))] += 1
        by_area[(p, "streaming" if any(f.startswith(STREAMING) for f in frames) else "other")] += 1
    return by_command, by_caller, by_area


def report(by_command, by_caller, by_area):
    out = [f"forks {sum(by_command.values())}", "", "by command"]
    out += [f"{n:7d}  {p}" for p, n in by_command.most_common()]
    out += ["", "by area"]
    out += [f"{n:7d}  {p:10s} {a}" for (p, a), n in sorted(by_area.items(), key=lambda kv: -kv[1])]
    out += ["", "by caller"]
    out += [f"{n:7d}  {p:10s} {c}" for (p, c), n in by_caller.most_common()]
    return "\n".join(out)


def main(argv):
    if len(argv) != 1 or (argv[0].startswith("-") and argv[0] != "-"):
        print(__doc__, file=sys.stderr)
        return 2
    src = argv[0]
    if src == "-":
        lines = sys.stdin.read().splitlines()
    elif src.endswith(".jfr"):
        r = subprocess.run(["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", "40", src],
                           stdout=subprocess.PIPE, text=True, check=True)
        lines = r.stdout.splitlines()
    else:
        with open(src) as f:
            lines = f.read().splitlines()
    print(report(*census(lines)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
