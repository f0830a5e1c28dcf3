#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query.

    python3 tools/verify_diff.py DIR_A DIR_B

Each dump holds one parquet directory per query (plus oracle_sql.json, which
is not compared). For every query in either dump this prints one line when
the two sides differ: `MISSING` when one side lacks the query, else the first
of `SCHEMA` (column names or types), `ROWS` (row count), `VALUES` (the rows
differ as multisets) and `ORDER` (same rows, another order). It ends with a
summary line and exits 1 on any difference, 0 when every query is identical
row for row. Floats compare exactly; NaN equals NaN.
"""
import json
import math
import os
import sys

import pyarrow.parquet as pq


def queries(d):
    """The query names of a dump: its sub-directories."""
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def norm(v):
    """A value with every float NaN replaced by a marker, so equal NaNs
    compare equal inside lists and structs too."""
    if isinstance(v, float) and math.isnan(v):
        return ("NaN",)
    if isinstance(v, list):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in v.items()}
    return v


def rows_key(r):
    return json.dumps(r, sort_keys=True, default=repr)


def diff_query(a, b):
    """The first difference between two query outputs, or None."""
    ta, tb = pq.read_table(a), pq.read_table(b)
    sa = [(f.name, str(f.type)) for f in ta.schema]
    sb = [(f.name, str(f.type)) for f in tb.schema]
    if sa != sb:
        return f"SCHEMA {sa} vs {sb}"
    if ta.num_rows != tb.num_rows:
        return f"ROWS {ta.num_rows} vs {tb.num_rows}"
    ra = [norm(r) for r in ta.to_pylist()]
    rb = [norm(r) for r in tb.to_pylist()]
    if ra == rb:
        return None
    if sorted(ra, key=rows_key) != sorted(rb, key=rows_key):
        i = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y)
        return f"VALUES first at row {i}: {ra[i]} vs {rb[i]}"
    return "ORDER same rows, another order"


def main(argv=None):
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        sys.stderr.write(__doc__)
        return 2
    da, db = argv
    qa, qb = queries(da), queries(db)
    bad = 0
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            side = da if q not in qa else db
            msg = f"MISSING in {side}"
        else:
            msg = diff_query(os.path.join(da, q), os.path.join(db, q))
        if msg:
            bad += 1
            print(f"{q}: {msg}")
    total = len(qa | qb)
    print(f"{total - bad}/{total} identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
