#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of the Scala sources.

A line counts unless it is blank, starts with `//` (after leading
whitespace), or lies in a `/* ... */` block (scaladoc included). A line
that opens or closes a block counts when code stands outside the
comment on it (`val x = 1 /* note */`). String literals are not parsed:
a `/*` or `//` inside a string is read as a comment.

Usage: python3 tools/loc.py [DIR ...]   (default: src/main)
Prints one line per directory and a total when given several.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        code = []
        i = 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block = False
                    i = end + 2
            else:
                start = line.find("/*", i)
                slash = line.find("//", i)
                if slash >= 0 and (start < 0 or slash < start):
                    code.append(line[i:slash])
                    i = len(line)
                elif start < 0:
                    code.append(line[i:])
                    i = len(line)
                else:
                    code.append(line[i:start])
                    in_block = True
                    i = start + 2
        if "".join(code).strip():
            n += 1
    return n


def count_dir(root):
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    return total


def main(argv):
    dirs = argv or ["src/main"]
    counts = [(d, count_dir(d)) for d in dirs]
    for d, c in counts:
        print(f"{d}\t{c}")
    if len(counts) > 1:
        print(f"total\t{sum(c for _, c in counts)}")


if __name__ == "__main__":
    main(sys.argv[1:])
