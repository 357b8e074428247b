#!/usr/bin/env python3
"""Compare two graft.Verify output directories, e.g. a parent commit's and a
refactor's, for outputs that are identical bit for bit.

Usage: compare_verify.py <dirA> <dirB> [query ...]

For each query (default: every query directory in either side) the two
results must have the same schema and the same rows, both in file order and
sorted, with doubles compared as raw IEEE bits (so -0.0 differs from 0.0 and
every NaN payload counts). The two oracle_sql.json files must be
byte-identical. Prints one line per query and exits 1 on any difference.
"""
import glob, os, struct, sys

import pyarrow.parquet as pq


def canon(v):
    """A value as a sortable string that keeps every bit of a double."""
    if isinstance(v, float):
        return "f:" + struct.pack(">d", v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in v.items()) + "}"
    return ("n:" if v is None else type(v).__name__ + ":") + repr(v)


def load(out_dir, query):
    """(schema, rows in file order) of one query's parquet files."""
    files = sorted(glob.glob(os.path.join(out_dir, query, "*.parquet")))
    if not files:
        return None
    tables = [pq.read_table(f) for f in files]
    rows = [tuple(canon(v) for v in r.values())
            for t in tables for r in t.to_pylist()]
    return str(tables[0].schema), rows


def compare(dir_a, dir_b, query):
    a, b = load(dir_a, query), load(dir_b, query)
    if a is None or b is None:
        return "MISSING in " + (dir_a if a is None else dir_b)
    if a[0] != b[0]:
        return "SCHEMA differs"
    if a[1] == b[1]:
        return None
    if sorted(a[1]) == sorted(b[1]):
        return "same rows in another file order"
    return f"ROWS differ ({len(a[1])} vs {len(b[1])} rows)"


def main():
    dir_a, dir_b, queries = sys.argv[1], sys.argv[2], sys.argv[3:]
    if not queries:
        queries = sorted({os.path.basename(os.path.dirname(p))
                          for d in (dir_a, dir_b)
                          for p in glob.glob(os.path.join(d, "*", "_SUCCESS"))})
    bad = 0
    for q in queries:
        err = compare(dir_a, dir_b, q)
        print(f"{q}: {err or 'identical'}")
        bad += err is not None
    oracle = [open(os.path.join(d, "oracle_sql.json"), "rb").read()
              for d in (dir_a, dir_b)]
    same = oracle[0] == oracle[1]
    print("oracle_sql.json: " + ("identical" if same else "DIFFERS"))
    print(f"{len(queries) - bad}/{len(queries)} queries identical")
    sys.exit(0 if bad == 0 and same else 1)


if __name__ == "__main__":
    main()
