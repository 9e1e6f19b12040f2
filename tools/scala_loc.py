#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines, per file and in total.

Usage: python3 tools/scala_loc.py [--total] PATH ...

Each PATH is a .scala file or a directory searched for them. A line counts
when it holds anything besides whitespace outside comments: `//` line
comments and `/* */` block comments (scaladoc included; Scala nests block
comments) are dropped, and comment markers inside string or character
literals are left alone. Prints one `count  path` line per file, sorted by
path, then `total`; with --total only the total.
"""
import argparse
import sys
from pathlib import Path


def code_lines(text: str) -> int:
    """Number of lines of `text` with code outside comments and blanks."""
    n = 0
    depth = 0        # block-comment nesting
    string = None    # None, '"' or '"""'
    counted = False  # the current line already holds code
    i = 0
    while i < len(text):
        c = text[i]
        if c == "\n":
            n += counted
            counted = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif string:
            if not c.isspace():
                counted = True
            if string == '"' and c == "\\":
                i += 2
            elif text.startswith(string, i):
                i += len(string)
                string = None
            else:
                i += 1
        elif text.startswith("//", i):
            while i < len(text) and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif c == '"':
            counted = True
            string = '"""' if text.startswith('"""', i) else '"'
            i += len(string)
        elif c == "'" and text.startswith("\\", i + 1):
            counted = True
            i = text.find("'", i + 3) + 1 or len(text)
        elif c == "'" and i + 2 < len(text) and text[i + 2] == "'":
            counted = True
            i += 3
        else:
            if not c.isspace():
                counted = True
            i += 1
    return n + counted


def scala_files(paths):
    for p in map(Path, paths):
        if p.is_dir():
            yield from sorted(p.rglob("*.scala"))
        else:
            yield p


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--total", action="store_true", help="print only the total")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args(argv)
    total = 0
    for f in scala_files(args.paths):
        k = code_lines(f.read_text(encoding="utf-8"))
        total += k
        if not args.total:
            print(f"{k:7d}  {f}")
    print(total if args.total else f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
