#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness check.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir> [--against <otherVerifyOutDir>]

For each query result parquet written by graft.Verify, runs the matching
oracle SQL (oracle_sql.json) in DuckDB over the raw testdata parquet, then
compares: schema (column names, sorted), row count, and a hash of all
values after sorting columns by name and rows by all columns.

With --against, it then also compares every query's rows, in the same
canonical form, with another Verify output directory (for example the
parent commit's), prints "N identical, M differ", and fails on any
difference or on a query missing from either side.
"""
import argparse, sys, json, glob, os
import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize dtypes: ints -> int64, floats -> rounded float64, rest -> str
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64").round(6)
        else:
            out[c] = s.astype(str)
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def queries_of(out_dir):
    """The query names a Verify output directory should hold: the manifest
    graft.Verify dumps plus the oracle keys. A query that crashed at runtime
    writes no output dir; that must FAIL, not be silently skipped."""
    names = set(json.load(open(f"{out_dir}/oracle_sql.json")))
    manifest_path = f"{out_dir}/queries.json"
    if os.path.exists(manifest_path):
        names |= set(json.load(open(manifest_path)))
    return names


def rows_of(out_dir, qname):
    """The canonical rows Verify wrote for `qname`, or None if it wrote none."""
    files = glob.glob(f"{out_dir}/{qname}/*.parquet")
    return canon(pd.concat([pd.read_parquet(f) for f in files])) if files else None


def compare_against(out_dir, other_dir):
    """Row identity of every query between two Verify outputs; True if all match."""
    n_same = n_diff = 0
    for qname in sorted(queries_of(out_dir) | queries_of(other_dir)):
        got, other = rows_of(out_dir, qname), rows_of(other_dir, qname)
        if got is None or other is None:
            side = out_dir if got is None else other_dir
            print(f"DIFF {qname}: no output parquet in {side}"); n_diff += 1
        elif list(got.columns) != list(other.columns) or not got.equals(other):
            print(f"DIFF {qname}: cols {list(got.columns)} vs {list(other.columns)}, "
                  f"rows {len(got)} vs {len(other)}"); n_diff += 1
        else:
            n_same += 1
    print(f"\n{n_same} identical, {n_diff} differ")
    return n_diff == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--against", metavar="OTHER_OUT_DIR",
                    help="also require row identity with this Verify output")
    args = ap.parse_args()
    sf_dir, out_dir = args.sf_dir, args.out_dir
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Expected set = manifest dumped by graft.Verify (plus oracle keys as a
    # safety net). A query that crashed at runtime writes no output dir —
    # that must FAIL here, not be silently skipped (ADVICE r1).
    if not os.path.exists(f"{out_dir}/queries.json"):
        print(f"WARN: {out_dir}/queries.json missing; checking oracle keys only")
    n_pass = n_fail = 0
    for qname in sorted(queries_of(out_dir)):
        got = rows_of(out_dir, qname)
        if got is None:
            print(f"FAIL {qname}: no spark output parquet"); n_fail += 1; continue
        if qname not in oracle:
            # Mirror the driver's weaker rows>0 gate for oracle-less queries.
            if len(got) == 0:
                print(f"FAIL {qname}: no oracle and 0 rows"); n_fail += 1
            else:
                print(f"PASS {qname} (rows-only check: {len(got)} rows)"); n_pass += 1
            continue
        try:
            exp = canon(con.execute(oracle[qname]).df())
        except Exception as e:
            print(f"FAIL {qname}: oracle SQL error: {e}"); n_fail += 1; continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {qname}: cols spark={list(got.columns)} oracle={list(exp.columns)}")
            n_fail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {qname}: rows spark={len(got)} oracle={len(exp)}"); n_fail += 1; continue
        eq = got.equals(exp)
        if not eq:
            diff = (got != exp) & ~(got.isna() & exp.isna())
            bad = diff.any(axis=1)
            print(f"FAIL {qname}: {bad.sum()} mismatched rows; first:")
            print(pd.concat([got[bad].head(3).add_suffix("_spark"),
                             exp[bad].head(3).add_suffix("_oracle")], axis=1))
            n_fail += 1
        else:
            print(f"PASS {qname} ({len(got)} rows)"); n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    same = compare_against(out_dir, args.against) if args.against else True
    sys.exit(1 if n_fail or not same else 0)


if __name__ == "__main__":
    main()
