#!/usr/bin/env python3
"""Count code lines in Scala/Java sources.

A line counts unless it is blank, a `//` comment line, or lies wholly
inside a `/* ... */` comment (nested comments, comment markers inside
string literals, and literals nested in `${...}` splices of interpolated
multi-line strings are handled). A line holding code and a comment
counts.

Usage: python3 tools/loc.py [PATH ...]   (default: src/main)

Prints one "<code lines> <file>" line per file, sorted by path, then
"<total> total".
"""
import os
import sys

EXTENSIONS = (".scala", ".java")


def code_lines(text):
    """Number of lines in `text` that carry code outside comments."""
    return sum(code_line_flags(text))


def code_line_flags(text):
    """Yield, for each line of `text`, whether it carries code."""
    depth = 0   # nesting depth of /* */ comments
    # open multi-line literals and the ${...} splices inside them:
    # ["triple", interpolated] or ["splice", open braces]
    stack = []
    for line in text.splitlines():
        has_code = any(ctx[0] == "triple" for ctx in stack)
        i, n = 0, len(line)
        while i < n:
            top = stack[-1] if stack else None
            if top and top[0] == "triple":
                end = line.find('"""', i)
                splice = _splice_start(line, i, end) if top[1] else -1
                if splice >= 0:
                    stack.append(["splice", 0])
                    i = splice + 2
                    continue
                if end < 0:
                    break
                stack.pop()
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
                interp = i > 0 and (line[i - 1].isalnum() or line[i - 1] == "_")
                stack.append(["triple", interp])
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
            elif top and c == "{":
                top[1] += 1
                i += 1
            elif top and c == "}":
                if top[1]:
                    top[1] -= 1
                else:
                    stack.pop()  # the splice closes; back inside its literal
                i += 1
            else:
                i += 1
        yield has_code


def _splice_start(line, i, end):
    """Index of the first `${` in line[i:end] (end < 0: to the end of the
    line), skipping `$$` escapes; -1 when there is none."""
    stop = len(line) if end < 0 else end
    while i < stop - 1:
        if line[i] == "$":
            if line[i + 1] == "{":
                return i
            i += 2
        else:
            i += 1
    return -1


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
