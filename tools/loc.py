#!/usr/bin/env python3
"""Lines of main source per package and in total.

Usage: python3 tools/loc.py [--files] [src_dir]
       (default src_dir: src/main of this repo)

For every package directory under src_dir it prints the number of
files, the physical lines, and the code lines: lines holding at least
one character outside a comment. With --files it prints the same
figures per file instead, by path under src_dir. Blank lines, `//` comments and
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
    args = argv[1:]
    per_file = "--files" in args
    args = [a for a in args if a != "--files"]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = args[0] if args else os.path.join(here, "src", "main")
    rows = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith((".scala", ".java")):
                continue
            path = os.path.join(dirpath, f)
            if per_file:
                key = os.path.relpath(path, root)
            else:
                rel = os.path.relpath(dirpath, root).split(os.sep)
                if rel and rel[0] in ("scala", "java"):
                    rel = rel[1:]
                key = ".".join(p for p in rel if p not in ("", ".")) or "<root>"
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            physical = text.count("\n") + (not text.endswith("\n") and text != "")
            n, lines, code = rows.get(key, (0, 0, 0))
            rows[key] = (n + 1, lines + physical, code + code_lines(text))
    label = "file" if per_file else "package"
    width = max([len(k) for k in rows] + [len(label)])
    print(f"{label:<{width}} {'files':>6} {'lines':>8} {'code':>8}")
    for key in sorted(rows):
        n, lines, code = rows[key]
        print(f"{key:<{width}} {n:>6} {lines:>8} {code:>8}")
    total = [sum(v[i] for v in rows.values()) for i in range(3)]
    print(f"{'total':<{width}} {total[0]:>6} {total[1]:>8} {total[2]:>8}")


if __name__ == "__main__":
    main(sys.argv)
