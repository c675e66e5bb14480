#!/usr/bin/env python3
"""Line census for Scala sources: code lines apart from the rest.

Every line falls in exactly one class, by its first non-blank characters:
  blank    nothing but whitespace
  comment  starts with //, /* or * (scaladoc bodies and their closers)
  sql      starts with | (a stripMargin continuation of an SQL string)
  code     everything else

Rows are printed per file and, inside a file, per top-level object, class
or trait (a definition spans from its header line to the line before the
next top-level header; lines above the first header are the file's
`<header>`). The last row sums the files, so a change's net size can be
read as the difference of two runs without comment deletion or oracle
SQL passing for simplification.

Usage:
  python3 tools/loc.py FILE_OR_DIR ...          # per file, per definition
  python3 tools/loc.py --files FILE_OR_DIR ...  # per file only

Any other option prints this text and exits 2; a path that does not
exist prints one error line and exits 2.
"""
import os
import re
import sys

CLASSES = ("code", "blank", "comment", "sql")

TOP = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|"
    r"abstract\s+|case\s+|implicit\s+)*(?:object|class|trait)\s+(\w+)")


def classify(line):
    t = line.strip()
    if not t:
        return "blank"
    if t.startswith(("//", "/*", "*")):
        return "comment"
    if t.startswith("|"):
        return "sql"
    return "code"


def census(path):
    """[(definition name, {class: count})] for one file, in file order."""
    spans = [["<header>", dict.fromkeys(CLASSES, 0)]]
    with open(path, encoding="utf-8") as f:
        for line in f:
            m = TOP.match(line)
            if m:
                spans.append([m.group(1), dict.fromkeys(CLASSES, 0)])
            spans[-1][1][classify(line)] += 1
    if not any(spans[0][1].values()):
        spans.pop(0)
    return spans


def scala_files(args):
    for a in args:
        if os.path.isdir(a):
            for root, _, names in sorted(os.walk(a)):
                for n in sorted(names):
                    if n.endswith(".scala"):
                        yield os.path.join(root, n)
        else:
            yield a


def row(label, counts):
    cells = "".join(f"{counts[c]:>9}" for c in CLASSES)
    return f"{cells}  {label}"


def main(argv):
    per_def = "--files" not in argv
    paths = [a for a in argv if a != "--files"]
    if not paths or any(a.startswith("-") for a in paths):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    missing = [a for a in paths if not os.path.exists(a)]
    if missing:
        print(f"loc.py: no such file or directory: {missing[0]}", file=sys.stderr)
        return 2
    print("".join(f"{c:>9}" for c in CLASSES) + "  file / definition")
    total = dict.fromkeys(CLASSES, 0)
    for path in scala_files(paths):
        spans = census(path)
        fsum = {c: sum(s[1][c] for s in spans) for c in CLASSES}
        print(row(path, fsum))
        if per_def:
            for name, counts in spans:
                print(row(f"  {name}", counts))
        for c in CLASSES:
            total[c] += fsum[c]
    print(row("total", total))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
