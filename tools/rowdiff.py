#!/usr/bin/env python3
"""Compare two Verify dumps gate by gate: same schema, same rows, same order.

Usage: tools/rowdiff.py A B

A and B are Verify output directories (one parquet directory per gate).
For each gate in either dump this prints one line when the gate differs:
a missing side, a schema difference, the same rows in another order, or
the first differing row. It ends with a count of identical gates and
exits non-zero if any gate differs. Rows are compared by value (NaN
equals NaN), not by file bytes: parquet writers need not produce the same
bytes for the same rows.
"""
import glob
import math
import os
import sys

import pyarrow.parquet as pq


def gates(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def load(d, gate):
    parts = sorted(glob.glob(os.path.join(d, gate, "*.parquet")))
    tables = [pq.read_table(p) for p in parts]
    schema = [(f.name, str(f.type)) for f in tables[0].schema] if tables else []
    rows = [tuple(r.values()) for t in tables for r in t.to_pylist()]
    return schema, rows


def canon(v):
    """A comparable, hashable form of one value: NaN equals NaN, nested
    lists, dicts and maps compare element-wise."""
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    return v


def diff(a_dir, b_dir, gate):
    """None when the gate is identical in both dumps, else why not."""
    if not os.path.isdir(os.path.join(a_dir, gate)):
        return "missing in A"
    if not os.path.isdir(os.path.join(b_dir, gate)):
        return "missing in B"
    sa, ra = load(a_dir, gate)
    sb, rb = load(b_dir, gate)
    if sa != sb:
        return f"schema differs: {sa} vs {sb}"
    ca, cb = [canon(r) for r in ra], [canon(r) for r in rb]
    if ca == cb:
        return None
    if len(ca) != len(cb):
        return f"rows differ: {len(ca)} vs {len(cb)}"
    if sorted(map(repr, ca)) == sorted(map(repr, cb)):
        return "same rows in another order"
    i = next(i for i, (x, y) in enumerate(zip(ca, cb)) if x != y)
    return f"row {i} differs: {ra[i]} vs {rb[i]}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    names = sorted(gates(a_dir) | gates(b_dir))
    bad = 0
    for gate in names:
        why = diff(a_dir, b_dir, gate)
        if why is not None:
            bad += 1
            print(f"DIFF {gate}: {why}")
    print(f"{len(names) - bad}/{len(names)} gates identical (schema, rows and order)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
