#!/usr/bin/env python3
"""Count code lines in Scala and Java sources.

    code_lines.py [path ...]        (default: src/main)

A code line is a line that is not blank, not a `//` comment and not
inside a `/* ... */` block (scaladoc included). A line holding code and a
trailing comment counts; so does a line where code follows the end of a
block comment, or opens one. String literals are not parsed: a `/*` or
`//` inside a string is read as a comment marker.

Prints one line per path, `<count>  <path>`, with the count
comma-grouped.
"""
import os
import sys

EXTS = (".scala", ".java")


def count_file(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            code = False
            while s:
                if in_block:
                    end = s.find("*/")
                    if end < 0:
                        s = ""
                    else:
                        in_block = False
                        s = s[end + 2:].strip()
                else:
                    # the earliest comment marker on the rest of the line
                    cut = min((i for i in (s.find("//"), s.find("/*"))
                               if i >= 0), default=len(s))
                    if s[:cut].strip():
                        code = True
                    if s.startswith("/*", cut):
                        in_block = True
                        s = s[cut + 2:]
                    else:
                        s = ""
            if code:
                n += 1
    return n


def count_path(path):
    if os.path.isfile(path):
        return count_file(path)
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(EXTS):
                total += count_file(os.path.join(root, name))
    return total


def main(argv):
    for p in argv or ["src/main"]:
        print(f"{count_path(p):,}  {p}")


if __name__ == "__main__":
    main(sys.argv[1:])
