#!/usr/bin/env python3
"""Count the Scala lines that are neither blank nor comment.

A line counts when it holds any character outside a `//` comment, a
`/* ... */` comment (scaladoc included) and leading whitespace. String
literals (plain, triple-quoted and interpolated) are skipped when looking
for comment markers, so a `"/*"` inside a string opens no comment.

Prints one line per directory that holds .scala files (its own files
only), then the total of each root.

Usage: python3 tools/loc.py [root ...]   (default: src/main/scala src/test/scala)
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` with code outside comments."""
    n = 0
    depth = 0          # nesting depth of /* */ (Scala block comments nest)
    string = None      # None, '"' or '"""' while inside a string literal
    for line in text.split("\n"):
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif string:
                if line.startswith(string, i):
                    i += len(string)
                    string = None
                elif string == '"' and line[i] == "\\":
                    i += 2
                else:
                    i += 1
                code = True
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                string = '"""'
                code = True
                i += 3
            elif line[i] == '"':
                string = '"'
                code = True
                i += 1
            elif line[i] == "'" and i + 2 < len(line) and line[i + 2] == "'":
                code = True  # a character literal such as '"'
                i += 3
            else:
                code = code or not line[i].isspace()
                i += 1
        if string == '"':
            string = None  # a plain string never spans lines
        n += code
    return n


def count(root):
    per_dir = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    per_dir[d] = per_dir.get(d, 0) + code_lines(fh.read())
    return per_dir


def main(argv):
    roots = argv or ["src/main/scala", "src/test/scala"]
    for root in roots:
        per_dir = count(root)
        for d in sorted(per_dir):
            print(f"{per_dir[d]:7d}  {d}")
        print(f"{sum(per_dir.values()):7d}  {root} (total)")


if __name__ == "__main__":
    main(sys.argv[1:])
