#!/usr/bin/env python3
"""Line counts for a Scala source tree.

    python3 tools/loc.py [--dups N] PATH...

Prints, for each PATH (a .scala file, or a directory searched
recursively for .scala files), its total line count (what `wc -l`
reports) and its code lines: lines that are not blank and, once leading
whitespace is stripped, do not start with `//`, `/*` or `*`.

With --dups N it also prints, for each file, every window of N
consecutive code lines (compared with surrounding whitespace stripped)
that occurs more than once in that file, with the line numbers where
each occurrence starts and the window's first line.
"""
import argparse
import os
import sys


def is_code(line):
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/*", "*"))


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, n) for n in sorted(names) if n.endswith(".scala")]
    return found


def repeated_windows(lines, n):
    """[(1-based start lines, window)] for code windows seen more than once."""
    code = [(i + 1, line.strip()) for i, line in enumerate(lines) if is_code(line)]
    starts = {}
    for k in range(len(code) - n + 1):
        window = tuple(text for _, text in code[k:k + n])
        starts.setdefault(window, []).append(code[k][0])
    return sorted((s, w) for w, s in starts.items() if len(s) > 1)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--dups", type=int, metavar="N", help="print repeated N-line code windows")
    args = ap.parse_args(argv)
    if args.dups is not None and args.dups < 1:
        ap.error("--dups needs N >= 1")

    for path in args.paths:
        files = scala_files(path)
        if not files:
            print(f"{path}: no .scala files", file=sys.stderr)
            return 1
        total = code = 0
        for f in files:
            with open(f, encoding="utf-8", errors="replace") as fh:
                text = fh.read()
            lines = text.splitlines()
            total += text.count("\n")  # as wc -l: an unterminated last line is not counted
            code += sum(map(is_code, lines))
            for starts, window in repeated_windows(lines, args.dups) if args.dups else []:
                print(f"{f}: lines {', '.join(map(str, starts))}: {window[0]}")
        print(f"{total:8d} {code:8d}  {path} ({len(files)} files; lines, code lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
