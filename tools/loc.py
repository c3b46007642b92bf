#!/usr/bin/env python3
"""Lines of main source per package and in total.

Usage: python3 tools/loc.py [src_dir]   (default: src/main of this repo)

For every package directory under src_dir it prints the number of
files, the physical lines, and the code lines: lines holding at least
one character outside a comment. Blank lines, `//` comments and
`/* ... */` blocks (scaladoc included, nesting as Scala nests them)
are not code; a line with code before or after a comment is.
"""
import os
import sys


def code_lines(text):
    """Count the lines of `text` that carry a character outside a comment."""
    count = 0
    depth = 0          # nesting depth of /* */ blocks
    string = None      # None, '"' or '"""'
    for line in text.split("\n"):
        code = False
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
            elif string:
                code = True
                if string == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(string, i):
                    i += len(string)
                    string = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                string, code = '"""', True
                i += 3
            elif line[i] == '"':
                string, code = '"', True
                i += 1
            elif line[i] == "'" and line.startswith("'\\", i):
                code = True
                end = line.find("'", i + 2)
                i = n if end < 0 else end + 1
            elif line[i] == "'" and i + 2 < n and line[i + 2] == "'":
                code = True
                i += 3
            else:
                code = code or not line[i].isspace()
                i += 1
        if string == '"':
            string = None  # a plain string literal ends with its line
        count += code
    return count


def main(argv):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = argv[1] if len(argv) > 1 else os.path.join(here, "src", "main")
    per_pkg = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith((".scala", ".java")):
                continue
            rel = os.path.relpath(dirpath, root).split(os.sep)
            if rel and rel[0] in ("scala", "java"):
                rel = rel[1:]
            pkg = ".".join(p for p in rel if p not in ("", ".")) or "<root>"
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                text = fh.read()
            physical = text.count("\n") + (not text.endswith("\n") and text != "")
            n, lines, code = per_pkg.get(pkg, (0, 0, 0))
            per_pkg[pkg] = (n + 1, lines + physical, code + code_lines(text))
    width = max([len(p) for p in per_pkg] + [len("package")])
    print(f"{'package':<{width}} {'files':>6} {'lines':>8} {'code':>8}")
    for pkg in sorted(per_pkg):
        n, lines, code = per_pkg[pkg]
        print(f"{pkg:<{width}} {n:>6} {lines:>8} {code:>8}")
    total = [sum(v[i] for v in per_pkg.values()) for i in range(3)]
    print(f"{'total':<{width}} {total[0]:>6} {total[1]:>8} {total[2]:>8}")


if __name__ == "__main__":
    main(sys.argv)
