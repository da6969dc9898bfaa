#!/usr/bin/env python3
"""Count the code lines of the Scala sources under src/main.

A code line is a line that holds something besides whitespace and
comments. Blank lines, `//` lines and the lines of `/* ... */` blocks
(scaladoc included) do not count; a line inside a string literal,
triple-quoted ones included, does.

Usage: python3 tools/src_lines.py [ROOT]   (ROOT defaults to src/main)
Prints the code lines per directory, then the total.
"""
import os
import sys
from collections import Counter


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    count = 0
    depth = 0          # nesting depth of /* */ (Scala block comments nest)
    in_str = None      # None, '"' or '"""'
    for line in text.split("\n"):
        has_code = in_str is not None  # a continued string is code
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
            elif in_str == '"':
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                in_str, has_code = '"""', True
                i += 3
            elif line[i] == '"':
                in_str, has_code = '"', True
                i += 1
            elif line[i] == "'" and line.startswith("\\", i + 1):
                has_code = True  # an escaped char literal such as '\''
                end = line.find("'", i + 3)
                i = n if end < 0 else end + 1
            elif line[i] == "'" and i + 2 < n and line[i + 2] == "'":
                has_code = True  # a char literal such as '"' or '/'
                i += 3
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if in_str == '"':
            in_str = None  # a single-quoted string ends at its line
        if has_code:
            count += 1
    return count


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    per_dir = Counter()
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    per_dir[os.path.relpath(d, root)] += code_lines(fh.read())
    for d in sorted(per_dir):
        print(f"{per_dir[d]:7d}  {d}")
    print(f"{sum(per_dir.values()):7d}  total")


if __name__ == "__main__":
    main()
