#!/usr/bin/env python3
"""Repeated-window scan: find blocks of source that repeat an earlier block.

Usage: python3 tools/repeat_scan.py PATH...

Every PATH is a file or a directory (scanned for *.scala files). Each line
is trimmed and a leading `|` (a stripMargin SQL line) is dropped; blank
lines are skipped. A window is 5 consecutive remaining lines whose joined
text is at least 120 characters. A window is reported when the same text
already appeared at an earlier window, in the same file or in an earlier
one (files are read in the order given, directories sorted).

Prints one line per repeated window (`file:line  first seen at file:line`),
then per-file totals and a last summary line:
`<W> repeated windows, <L> repeated lines`, where L counts the distinct
lines inside repeated windows.
"""
import os
import sys

WINDOW = 5
MIN_CHARS = 120


def files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in sorted(os.walk(p)):
                dirs.sort()
                for n in sorted(names):
                    if n.endswith(".scala"):
                        yield os.path.join(root, n)
        else:
            yield p


def lines(path):
    """(line number, normalized text) of the file's non-blank lines."""
    out = []
    with open(path, encoding="utf-8") as f:
        for i, raw in enumerate(f, 1):
            t = raw.strip()
            if t.startswith("|"):
                t = t[1:].strip()
            if t:
                out.append((i, t))
    return out


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    seen = {}
    total_windows = 0
    total_lines = 0
    for path in files(argv):
        ls = lines(path)
        windows = 0
        covered = set()
        for s in range(len(ls) - WINDOW + 1):
            block = ls[s:s + WINDOW]
            text = "\n".join(t for _, t in block)
            if len(text) < MIN_CHARS:
                continue
            first = seen.get(text)
            if first is None:
                seen[text] = (path, block[0][0])
                continue
            windows += 1
            covered.update(n for n, _ in block)
            print(f"{path}:{block[0][0]}  first seen at {first[0]}:{first[1]}")
        if windows:
            print(f"{path}: {windows} windows, {len(covered)} lines")
        total_windows += windows
        total_lines += len(covered)
    print(f"{total_windows} repeated windows, {total_lines} repeated lines")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
