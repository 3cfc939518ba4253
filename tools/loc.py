#!/usr/bin/env python3
"""Count total and non-comment lines of Scala sources.

    python3 tools/loc.py PATH [PATH ...]

Each PATH is a file or a directory (searched recursively for *.scala).
Prints one line per PATH: `total/code  PATH`, where `code` skips blank
lines, lines starting with `//`, and every line of a `/* ... */` block
(scaladoc included) that starts at the beginning of a line.
"""
import os
import sys


def count_file(path):
    total = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            total += 1
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            code += 1
    return total, code


def count_path(path):
    if os.path.isfile(path):
        return count_file(path)
    total = code = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(".scala"):
                t, c = count_file(os.path.join(root, name))
                total += t
                code += c
    return total, code


def main(paths):
    if not paths:
        sys.exit(__doc__)
    for p in paths:
        t, c = count_path(p)
        print(f"{t}/{c}  {p}")


if __name__ == "__main__":
    main(sys.argv[1:])
