#!/usr/bin/env python3
"""Report duplicated code in Scala/Java sources.

A window is N consecutive code lines (lines that `tools/loc.py` counts:
blank and comment-only lines are skipped) with all whitespace removed.
A code line is duplicated when it lies in a window whose text occurs at
least twice among all the files given, so a block repeated across two
files counts in both.

Usage: python3 tools/dup_blocks.py [-n N] [--top K] [PATH ...]
       (defaults: N = 4, K = 10, PATH = src/main)

Prints one "<duplicated lines> <code lines> <file>" line per file and a
total line, then the K longest maximal repeated blocks, each as
"<code lines> x<occurrences> <file>:<line> ..." followed by its first
line.
"""
import argparse
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import code_line_flags, source_files  # noqa: E402

MAX_PAIRS_PER_WINDOW = 200  # bounds the block search on very common windows


def code_rows(text):
    """(line number, whitespace-free text) of each code line."""
    lines = text.splitlines()
    return [(no, "".join(line.split()))
            for no, (line, is_code) in
            enumerate(zip(lines, code_line_flags(text)), 1) if is_code]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("-n", type=int, default=4, help="window size in lines")
    ap.add_argument("--top", type=int, default=10,
                    help="number of longest repeated blocks to list")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    args = ap.parse_args(argv[1:])
    n = args.n

    files = sorted(set(source_files(args.paths)))
    rows = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            rows.append(code_rows(f.read()))

    windows = defaultdict(list)  # window text -> [(file index, row index)]
    for fi, rs in enumerate(rows):
        texts = [r[1] for r in rs]
        for i in range(len(rs) - n + 1):
            windows["\n".join(texts[i:i + n])].append((fi, i))

    dup = [bytearray(len(rs)) for rs in rows]
    for occ in windows.values():
        if len(occ) > 1:
            for fi, i in occ:
                dup[fi][i:i + n] = b"\x01" * n

    total_dup = total_code = 0
    for path, rs, d in zip(files, rows, dup):
        total_dup += sum(d)
        total_code += len(rs)
        print(f"{sum(d)} {len(rs)} {path}")
    print(f"{total_dup} {total_code} total")

    def text(fi, i):
        rs = rows[fi]
        return rs[i][1] if 0 <= i < len(rs) else None

    # Maximal blocks: extend each pair of equal windows right as far as
    # the lines agree, starting only where they disagree on the left.
    blocks = defaultdict(set)  # block length, text -> {(file, row)}
    for occ in windows.values():
        occ = occ[:MAX_PAIRS_PER_WINDOW]
        for a in range(len(occ)):
            fa, ia = occ[a]
            for b in range(a + 1, len(occ)):
                fb, ib = occ[b]
                if text(fa, ia - 1) is not None and \
                        text(fa, ia - 1) == text(fb, ib - 1):
                    continue
                length = n
                while True:
                    if fa == fb and ia + length >= ib:
                        break
                    ta, tb = text(fa, ia + length), text(fb, ib + length)
                    if ta is None or ta != tb:
                        break
                    length += 1
                body = "\n".join(r[1] for r in rows[fa][ia:ia + length])
                blocks[(length, body)].update({(fa, ia), (fb, ib)})

    print()
    ranked = sorted(blocks.items(),
                    key=lambda kv: (-kv[0][0], -len(kv[1]), kv[0][1]))
    for (length, body), occ in ranked[:args.top]:
        where = " ".join(f"{files[fi]}:{rows[fi][i][0]}"
                         for fi, i in sorted(occ)[:4])
        more = " ..." if len(occ) > 4 else ""
        print(f"{length} x{len(occ)} {where}{more}")
        print(f"    {body.splitlines()[0][:100]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
