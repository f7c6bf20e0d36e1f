#!/usr/bin/env python3
"""Non-blank, non-comment Scala lines, per file and in total.

A line counts unless it is blank, a `//` line comment, or inside a
`/* ... */` block (scaladoc included). Code that shares a line with a
comment counts. Text inside string literals is not parsed, so a string
line that starts with `//` or `/*` is read as a comment.

    python3 scripts/ncloc.py                       # src/main
    python3 scripts/ncloc.py src/main/scala/graft/queries/Search*.scala
    python3 scripts/ncloc.py --total src/main src/test

Arguments are files or directories (searched for *.scala); the default
is src/main. `--total` prints only the total.
"""
import os
import sys


def code_lines(text):
    """Count the lines of `text` that hold code outside comments."""
    n = 0
    in_block = False
    for line in text.splitlines():
        rest = line
        code = False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block = False
                    rest = rest[end + 2:]
                continue
            s = rest.lstrip()
            if not s or s.startswith("//"):
                break
            if s.startswith("/*"):
                in_block = True
                rest = s[2:]
                continue
            code = True
            # a block opened after code on the same line still runs on
            start = s.find("/*")
            rest = s[start + 2:] if start >= 0 else ""
            in_block = start >= 0
        n += code
    return n


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    if f.endswith(".scala"):
                        yield os.path.join(root, f)
        else:
            yield p


def main(argv):
    total_only = "--total" in argv
    paths = [a for a in argv if a != "--total"] or ["src/main"]
    total = 0
    for f in scala_files(paths):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        if not total_only:
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
