#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [query ...]

Every oracle_sql.json key (within the query filter) must have an output
dir; a missing one is a FAIL. Reads each Spark result parquet under
<verifyOutDir>/<name>/, runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
<sfDir> parquet tables, and compares: row count, column names, and exact
values after sorting columns by name and rows by all columns (strictest
plausible interpretation of the driver's hash compare).
"""
import sys, json, glob, math, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def cell_eq(a, b):
    """Dtype-strict cell compare: no numeric coercion. A Python int from a
    DuckDB HUGEINT must NOT silently equal a numpy int64/float64 cell the
    way float() coercion allowed before — the driver hashes typed values,
    so a type mismatch is a real FAIL."""
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass  # arrays/lists: fall through to value compare
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    eq = a == b
    try:
        return bool(eq)
    except ValueError:  # numpy arrays
        return bool(getattr(eq, "all", lambda: False)())

def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    # Version skew between this local DuckDB and the driver's is the FIRST
    # diagnostic when this gate disagrees with CORRECTNESS_rN (the round-10
    # w11 lesson: decimal width inference is DuckDB-version-volatile, so a
    # rows-green/hash-red driver row can be the oracle's typing, not Spark).
    print(f"== duckdb {duckdb.__version__}, pandas {pd.__version__}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = n_noracle = 0
    # an oracled query with no output dir failed (or never ran): it is a
    # FAIL, not a query silently left out of the compare
    for name in sorted(oracle):
        if (not only or name in only) and not os.path.isdir(f"{out}/{name}"):
            print(f"FAIL {name}: no output dir")
            n_fail += 1
    for d in sorted(glob.glob(f"{out}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if only and name not in only:
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output")
            n_fail += 1
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        if name not in oracle:
            print(f"rows-only {name}: {len(got)} rows")
            n_noracle += 1
            continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        g, w = norm(got), norm(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            n_fail += 1
            continue
        # Column dtypes must match exactly — the driver's hash is typed, so
        # e.g. DuckDB SUM(BIGINT)->HUGEINT (object/float128 in pandas) vs
        # Spark's int64 is a FAIL even when values are numerically equal.
        dbad = [(c, str(g[c].dtype), str(w[c].dtype)) for c in g.columns
                if g[c].dtype != w[c].dtype]
        if dbad:
            c, gd, wd = dbad[0]
            print(f"FAIL {name}: dtype col {c}: spark={gd} oracle={wd}")
            n_fail += 1
            continue
        bad = None
        gv, wv = g.to_numpy(), w.to_numpy()
        for i in range(len(g)):
            for j in range(len(g.columns)):
                a, b = gv[i, j], wv[i, j]
                if not cell_eq(a, b):
                    bad = (i, g.columns[j], a, b)
                    break
            if bad:
                break
        if bad:
            i, c, a, b = bad
            print(f"FAIL {name}: row {i} col {c}: spark={a!r} oracle={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(g)} rows")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
