#!/usr/bin/env python3
"""Compare two graft.Verify output trees row for row.

Usage: python3 tools/compare_verify.py <parent_out> <change_out>

Each output tree holds one directory of parquet files per query plus
oracle_sql.json (see `graft.Verify`). For every query in either tree this
checks that both sides have it, that the schemas (column names and types)
are equal, and that the rows are equal as multisets (both sides sorted on
every column). oracle_sql.json must be identical too. Prints one line per
difference and exits 1 if there is any, 0 if every result is identical.
"""
import glob
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def queries(out):
    return {os.path.basename(d) for d in glob.glob(os.path.join(out, "*"))
            if os.path.isdir(d)}


def load(out, name):
    files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
    tables = [pq.read_table(f) for f in files]
    if not tables:
        return None
    return pa.concat_tables(tables, promote_options="default")


def sorted_rows(table):
    cols = sorted(table.column_names)
    rows = table.select(cols).to_pylist()
    # repr orders None, NaN, nested lists and bytes alike on both sides
    return sorted(rows, key=lambda r: [repr(r[c]) for c in cols])


def diff(parent, change, name):
    a, b = load(parent, name), load(change, name)
    if a is None or b is None:
        if (a is None) != (b is None):
            return "parquet files on one side only"
        return None
    if sorted(zip(a.schema.names, map(str, a.schema.types))) != \
            sorted(zip(b.schema.names, map(str, b.schema.types))):
        return f"schema {a.schema} vs {b.schema}"
    if a.num_rows != b.num_rows:
        return f"{a.num_rows} rows vs {b.num_rows}"
    ra, rb = sorted_rows(a), sorted_rows(b)
    for i, (x, y) in enumerate(zip(ra, rb)):
        if repr(x) != repr(y):
            return f"sorted row {i}: {x} vs {y}"
    return None


def main(parent, change):
    bad = []
    with open(os.path.join(parent, "oracle_sql.json")) as f:
        oracle_a = json.load(f)
    with open(os.path.join(change, "oracle_sql.json")) as f:
        oracle_b = json.load(f)
    if oracle_a != oracle_b:
        bad.append(("oracle_sql.json", "differs"))
    qa, qb = queries(parent), queries(change)
    for name in sorted(qa ^ qb):
        bad.append((name, "present in " +
                    ("parent only" if name in qa else "change only")))
    for name in sorted(qa & qb):
        d = diff(parent, change, name)
        if d:
            bad.append((name, d))
    for name, why in bad:
        print(f"DIFF {name}: {why}")
    print(f"{len(qa & qb) - sum(1 for n, _ in bad if n in qa & qb)}"
          f"/{len(qa | qb)} query results identical")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
