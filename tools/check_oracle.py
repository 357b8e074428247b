#!/usr/bin/env python3
"""Dev-side replica of the driver's correctness gate: for each query dumped by
graft.Verify, run the oracle SQL in DuckDB over the same parquet tables and
compare rows/schema/values (columns sorted by name, rows sorted by all cols).

The driver's gate hashes BYTES, not values — so this check ALWAYS also runs
the byte-parity pass on float columns: exact equality plus sign-of-zero
(numpy signbit) agreement. Round 11 shipped a red row (emb_covariance)
precisely because this script compared values only: +0.0 == -0.0 passed
here, but the driver's byte hash failed. Never weaken this back.

Usage: check_oracle.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, json, glob, os, re
import duckdb, numpy as np, pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

# capped, so an oracle too heavy for the cap fails with DuckDB's out-of-memory
# error (retried below) instead of exhausting the host
con = duckdb.connect(config={"memory_limit": "2GB", "threads": "2"})
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))


def materialized(sql):
    """The same SQL with every CTE marked MATERIALIZED. DuckDB inlines a CTE
    at each reference, so an oracle that unrolls an iteration as a CTE chain
    (each round's vector read twice: by the next mat-vec and by its own
    norm) evaluates its first round 2^rounds times — the emb_pca* oracles
    exhaust the memory cap that way. Evaluating each CTE once changes no
    result."""
    return re.sub(r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\((?=\s*SELECT\b)",
                  r"\1\2 AS MATERIALIZED (", sql, flags=re.I)


def run_oracle(sql):
    try:
        return con.execute(sql).fetchdf()
    except duckdb.OutOfMemoryException:
        return con.execute(materialized(sql)).fetchdf()


def canon(df, round_floats=True):
    df = df[sorted(df.columns)]
    # normalize: floats rounded, ints as int64 where possible
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            # DuckDB returns DATE as datetime64; Spark parquet gives date objects
            df[c] = df[c].astype(str).str.replace(" 00:00:00", "", regex=False)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float") and round_floats:
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def canon_order(df):
    """UNROUNDED frame in the ROUNDED canon() row order. Sorting each side
    independently on raw float keys would let a last-ulp cross-engine
    difference in a sort-key column reorder the two frames differently and
    pair up unrelated rows — the check would still fail, but the reported
    row/values would point at the wrong cell. The rounded ordering is one
    both engines agree on (the value-compare pass already passed on it);
    raw float values ride along as FINAL tiebreaks so rows identical after
    rounding still align as closely as possible."""
    df = df[sorted(df.columns)].copy()
    keys, ties = [], []
    for c in list(df.columns):
        k = "__k_" + c
        if str(df[c].dtype).startswith("datetime64"):
            df[k] = df[c].astype(str).str.replace(" 00:00:00", "", regex=False)
        elif df[c].dtype == object:
            df[k] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[k] = df[c].round(6)
            ties.append(c)
        else:
            df[k] = df[c]
        keys.append(k)
    out = df.sort_values(by=keys + ties).reset_index(drop=True)
    return out[[c for c in out.columns if not c.startswith("__k_")]]


def byte_parity(spark_df, oracle_df):
    """Exact float equality + sign-of-zero agreement on the UNROUNDED
    frames (the driver hashes raw bytes — canon()'s round(6) would mask
    both last-ulp drift and the -0.0 hazard)."""
    a, b = canon_order(spark_df), canon_order(oracle_df)
    for c in a.columns:
        if not str(a[c].dtype).startswith("float"):
            continue
        av = np.asarray(a[c].to_numpy(), dtype="float64")
        bv = np.asarray(b[c].to_numpy(), dtype="float64")
        if not np.array_equal(av, bv, equal_nan=True):
            i = int(np.argmax(~((av == bv) | (np.isnan(av) & np.isnan(bv)))))
            raise AssertionError(
                f"byte-parity: col {c} row {i}: {av[i]!r} vs {bv[i]!r}")
        mism = (np.signbit(av) != np.signbit(bv)) & ~np.isnan(av)
        if mism.any():
            i = int(np.argmax(mism))
            raise AssertionError(
                f"byte-parity: col {c} row {i}: sign-of-zero "
                f"{av[i]!r} vs {bv[i]!r} (driver hash WILL fail)")

fails, passes, skips = [], [], []
for name in sorted(os.listdir(out_dir)):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    if only and name not in only:
        continue
    spark_df = pd.concat([pd.read_parquet(f) for f in glob.glob(d + "/*.parquet")],
                         ignore_index=True)
    if name not in oracle:
        skips.append(name)
        continue
    try:
        oracle_df = run_oracle(oracle[name])
    except Exception as e:
        fails.append((name, f"oracle sql error: {e}"))
        continue
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        fails.append((name, f"schema {list(a.columns)} vs {list(b.columns)}"))
    elif len(a) != len(b):
        fails.append((name, f"rows {len(a)} vs {len(b)}"))
    else:
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                          check_exact=False, rtol=1e-5, atol=1e-6)
            byte_parity(spark_df, oracle_df)
            passes.append(name)
        except AssertionError as e:
            fails.append((name, str(e).splitlines()[0] + " ..."))

print(f"PASS {len(passes)}: {' '.join(passes)}")
if skips:
    print(f"NO_ORACLE {len(skips)}: {' '.join(skips)}")
if fails:
    print(f"FAIL {len(fails)}:")
    for n, msg in fails:
        print(f"  {n}: {msg}")
    sys.exit(1)
