#!/usr/bin/env python3
"""Count code lines in Scala/Java sources.

A line counts unless it is blank, a `//` comment line, or lies wholly
inside a `/* ... */` comment (nested comments and comment markers inside
string literals are handled). A line holding code and a comment counts.

Usage: python3 tools/loc.py [PATH ...]   (default: src/main)

Prints one "<code lines> <file>" line per file, sorted by path, then
"<total> total".
"""
import os
import sys

EXTENSIONS = (".scala", ".java")


def code_lines(text):
    """Number of lines in `text` that carry code outside comments."""
    count = 0
    depth = 0          # nesting depth of /* */ comments
    in_triple = False  # inside a """ string, which may span lines
    for line in text.splitlines():
        has_code = in_triple
        i, n = 0, len(line)
        while i < n:
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple = False
                i = end + 3
                continue
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            c = line[i]
            if c.isspace():
                i += 1
                continue
            has_code = True
            if line.startswith('"""', i):
                in_triple = True
                i += 3
            elif c == '"':
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                i += 3  # char literal 'x'
            elif c == "'" and line.startswith("\\", i + 1):
                end = line.find("'", i + 2)
                i = end + 1 if end > 0 else i + 1  # escaped char literal
            else:
                i += 1
        if has_code:
            count += 1
    return count


def source_files(paths):
    for path in paths:
        if os.path.isfile(path):
            yield path
            continue
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(EXTENSIONS):
                    yield os.path.join(root, name)


def main(argv):
    paths = argv[1:] or ["src/main"]
    total = 0
    for path in sorted(set(source_files(paths))):
        with open(path, encoding="utf-8") as f:
            lines = code_lines(f.read())
        total += lines
        print(f"{lines} {path}")
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
