#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

For each query it checks that the column names and types match and that
the row counts match, then sorts both sides' rows and compares every cell;
doubles are compared by their raw 64-bit pattern, so a 1-ulp change, a
-0.0 for 0.0 or a different NaN counts as a difference. It prints the
first differing cell of each query and exits non-zero on any difference.

Usage:
    python3 tools/diff_outputs.py <dirA> <dirB> [query ...]

Without query names it compares every query directory found in either
side (a query present on one side only is a difference). To compare a
few queries, run `graft.Verify <sfDir> <outDir> q1,q2` for each build and
name the same queries here.
"""
import os
import struct
import sys

import pyarrow.parquet as pq


def canon(v):
    """A sortable, bit-exact key for one cell."""
    if v is None:
        return (0, 0)
    if isinstance(v, float):
        return (1, struct.unpack("<q", struct.pack("<d", v))[0])
    if isinstance(v, (list, tuple)):
        return (1, tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return (1, tuple((k, canon(x)) for k, x in sorted(v.items())))
    return (1, v)


def show(v):
    if isinstance(v, float):
        return f"{v!r} ({struct.pack('>d', v).hex()})"
    return repr(v)


def queries_in(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def compare(a_dir, b_dir, name):
    """None when the two outputs are identical, else the first difference."""
    paths = [os.path.join(d, name) for d in (a_dir, b_dir)]
    for p in paths:
        if not os.path.isdir(p):
            return f"missing: {p}"
    a, b = (pq.read_table(p) for p in paths)
    a_cols = [(f.name, str(f.type)) for f in a.schema]
    b_cols = [(f.name, str(f.type)) for f in b.schema]
    if a_cols != b_cols:
        return f"schema: A={a_cols} B={b_cols}"
    if a.num_rows != b.num_rows:
        return f"rows: A={a.num_rows} B={b.num_rows}"
    names = a.column_names
    a_rows = sorted(zip(*(a.column(c).to_pylist() for c in names)),
                    key=lambda r: tuple(canon(x) for x in r))
    b_rows = sorted(zip(*(b.column(c).to_pylist() for c in names)),
                    key=lambda r: tuple(canon(x) for x in r))
    for i, (ra, rb) in enumerate(zip(a_rows, b_rows)):
        for c, x, y in zip(names, ra, rb):
            if canon(x) != canon(y):
                return f"col {c} sorted row {i}: A={show(x)} B={show(y)}"
    return None


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    a_dir, b_dir = argv[1], argv[2]
    names = argv[3:] or sorted(queries_in(a_dir) | queries_in(b_dir))
    diffs = 0
    for name in names:
        bad = compare(a_dir, b_dir, name)
        if bad:
            diffs += 1
            print(f"DIFF {name}: {bad}")
        else:
            print(f"SAME {name}")
    print(f"IDENTICAL {len(names) - diffs}/{len(names)}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
