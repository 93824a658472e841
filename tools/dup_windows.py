#!/usr/bin/env python3
"""Count repeated code in a set of source files.

Usage: python3 tools/dup_windows.py <files...>

Prints "<code lines>, <lines in a repeated window>" over the concatenation
of the given files, taken in path order. A code line is a stripped,
non-blank line that does not start with `//`, `*` or `/**`. A code line
counts as repeated when it lies in some window of 6 consecutive code lines
whose text already occurred at an earlier position of the concatenation.
"""
import sys

WINDOW = 6


def code_lines(paths):
    out = []
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            for line in f:
                s = line.strip()
                if s and not s.startswith(("//", "*", "/**")):
                    out.append(s)
    return out


def repeated(lines):
    seen = set()
    hit = [False] * len(lines)
    for i in range(len(lines) - WINDOW + 1):
        key = "\n".join(lines[i:i + WINDOW])
        if key in seen:
            for j in range(i, i + WINDOW):
                hit[j] = True
        else:
            seen.add(key)
    return sum(hit)


def main(argv):
    if not argv:
        sys.exit(__doc__.strip())
    lines = code_lines(argv)
    print(f"{len(lines)}, {repeated(lines)}")


if __name__ == "__main__":
    main(sys.argv[1:])
