#!/usr/bin/env python3
"""Count the code lines of Scala files.

A code line is a non-blank line left after removing `/* ... */` blocks
(scaladoc included) and lines whose first non-blank characters are `//`.
This is the count ROADMAP.md and CHANGES.md quote when tracking net LoC.

Usage: python3 tools/loc.py FILE.scala [FILE.scala ...]
Prints one `<count>  <file>` line per file and, for more than one file,
a `<sum>  total` line.
"""
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)


def code_lines(text):
    n = 0
    for line in BLOCK.sub("", text).splitlines():
        s = line.strip()
        if s and not s.startswith("//"):
            n += 1
    return n


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {p}")
    if len(paths) > 1:
        print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
