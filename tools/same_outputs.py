#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query: same rows, same columns,
same dtype classes and same values (floats at check.py's rel-tol 1e-9).
Shows that a change keeps its outputs when the oracle SQL changes too, so
an oracle PASS alone cannot.

Usage: python3 tools/same_outputs.py <dumpA> <dumpB> [query ...]
With no query names, every query dumped in either directory is compared.
Exits 1 on any difference, including a query missing from one side.
"""
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import dtypes_match, norm, values_match  # noqa: E402


def queries_in(dump: str) -> set:
    return {n for n in os.listdir(dump) if os.path.isdir(os.path.join(dump, n))}


def compare(a_dir: str, b_dir: str, name: str) -> str:
    """'' when the two outputs of `name` are the same, else why not."""
    paths = [os.path.join(d, name) for d in (a_dir, b_dir)]
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        return f"missing {', '.join(missing)}"
    a, b = (norm(pd.read_parquet(p)) for p in paths)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    ok, col, a_cls, b_cls = dtypes_match(a, b)
    if not ok:
        return f"dtype of '{col}': {a_cls} vs {b_cls}"
    ok, _, i = values_match(a, b)
    if not ok:
        return f"row {i}: {list(a.iloc[i])} vs {list(b.iloc[i])}"
    return ""


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(queries_in(a_dir) | queries_in(b_dir))
    n_diff = 0
    for name in names:
        why = compare(a_dir, b_dir, name)
        if why:
            n_diff += 1
            print(f"DIFF {name}: {why}")
        else:
            print(f"SAME {name}")
    print(f"\n{len(names) - n_diff} same / {n_diff} different")
    return 1 if n_diff else 0


if __name__ == "__main__":
    sys.exit(main())
