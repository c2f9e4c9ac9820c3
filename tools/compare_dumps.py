#!/usr/bin/env python3
"""Compare two graft.Verify dumps table by table.

Usage: python3 tools/compare_dumps.py <parentDump> <changeDump> [names...]

Each dump is a directory holding one parquet directory per query, as
`graft.Verify <sfDir> <outDir> [names...]` writes it (a `.parquet` file
counts as a table too). Without names, every table in either dump is
compared. For each table one line is printed:

  same rows      both tables hold the same rows in the same order
  same multiset  the same rows, in a different order
  differs        with the reason: a missing table, a schema or row-count
                 difference, or each differing column with its largest
                 relative difference (numeric) or its count of differing
                 cells (other types), after both sides are sorted

Parquet bytes cannot be compared: the files' footers differ from run to
run. Values compare exactly (NaN equals NaN, None equals None). The exit
status is 1 if any table differs, else 0.
"""
import math
import os
import sys
from collections import Counter

import pandas as pd


def canon(v):
    """A hashable, totally ordered form of a cell: (kind, value)."""
    if v is None:
        return (0, 0)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, float):
        return (1, 0) if math.isnan(v) else (2, v)
    if isinstance(v, (bool, int)):
        return (2, v)
    if isinstance(v, (list, tuple)):
        return (3, tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return (4, tuple(sorted((str(k), canon(x)) for k, x in v.items())))
    if isinstance(v, bytes):
        return (5, v)
    return (6, str(v))


def rows(df):
    return [tuple(canon(v) for v in r) for r in df.itertuples(index=False, name=None)]


def numeric(a, b):
    return (a[0] == 2 and b[0] == 2 and isinstance(a[1], (int, float))
            and isinstance(b[1], (int, float)))


def column_diffs(cols, ra, rb):
    """Per differing column of two equally long, sorted row lists: its
    largest relative difference, or its count of differing cells."""
    out = []
    for j, c in enumerate(cols):
        worst, cells = 0.0, 0
        for x, y in zip(ra, rb):
            if x[j] == y[j]:
                continue
            cells += 1
            if numeric(x[j], y[j]) and worst is not None:
                p, q = float(x[j][1]), float(y[j][1])
                worst = max(worst, abs(q - p) / max(abs(p), abs(q)))
            else:
                worst = None
        if cells:
            out.append(f"{c}: {cells} cell(s) differ" if worst is None
                       else f"{c}: max rel diff {worst:.3g} ({cells} cell(s))")
    return out


def compare(a_dir, b_dir):
    if not os.path.exists(a_dir) or not os.path.exists(b_dir):
        return "differs", "missing in " + ("parent" if not os.path.exists(a_dir) else "change")
    a, b = pd.read_parquet(a_dir), pd.read_parquet(b_dir)
    sa = [(c, str(t)) for c, t in a.dtypes.items()]
    sb = [(c, str(t)) for c, t in b.dtypes.items()]
    if sa != sb:
        return "differs", f"schema parent={sa} change={sb}"
    ra, rb = rows(a), rows(b)
    if ra == rb:
        return "same rows", ""
    if len(ra) != len(rb):
        return "differs", f"rows parent={len(ra)} change={len(rb)}"
    if Counter(ra) == Counter(rb):
        return "same multiset", ""
    # float columns last in the sort key, so rows that differ only in a
    # float still line up with their counterpart
    floats = [j for j, (_, t) in enumerate(sa) if t.startswith("float")]
    order = [j for j in range(len(sa)) if j not in floats] + floats

    def key(r):
        return tuple(r[j] for j in order)

    return "differs", "; ".join(column_diffs(list(a.columns), sorted(ra, key=key),
                                             sorted(rb, key=key)))


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    parent, change, names = argv[1], argv[2], argv[3:]
    if not names:
        names = sorted({n for d in (parent, change) for n in os.listdir(d)
                        if os.path.isdir(os.path.join(d, n)) or n.endswith(".parquet")})
    differ = 0
    for n in names:
        verdict, why = compare(os.path.join(parent, n), os.path.join(change, n))
        differ += verdict == "differs"
        print(f"{n}: {verdict}" + (f" — {why}" if why else ""))
    print(f"\n{len(names)} table(s), {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
