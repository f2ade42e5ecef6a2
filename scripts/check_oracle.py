#!/usr/bin/env python3
"""Local pre-check that mimics the driver's DuckDB oracle compare.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
       python3 scripts/check_oracle.py --against <dumpA> <dumpB>

For each query in <verifyOutDir>/oracle_sql.json: register the sfDir
parquet tables as DuckDB views, run the oracle SQL, load the Spark
parquet result, sort columns by name, sort rows, and compare.

With --against, compare two Verify dumps instead: every query present
in both, dumpA's result in place of the oracle's, under the same canon
and column compare. This covers rows-only queries, which have no
oracle. Queries found in only one dump are listed by name.

The compare is BYTE-STRICT to match the driver's canonical-bytes hash
(the round-9 findings all slipped through a value-level compare):
  * dtype CLASS must match — an int64 Spark column vs a float64
    oracle column (DuckDB HUGEINT `//` loads as float) is a FAIL even
    when every value is equal (802000 vs 802000.0);
  * floats compare by IEEE BIT PATTERN after NaN canonicalization —
    signed-zero-strict, so -0.0 vs +0.0 (DuckDB round preserves the
    sign, Spark's BigDecimal round does not) is a FAIL;
  * NaN equals NaN (both engines surface SQL NULL as NaN in pandas
    float columns, so the NULL/NaN distinction is lost identically on
    both sides — same as the driver's canonicalizer).
"""
import json
import os
import sys

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def dtype_class(k):
    """Collapse numpy dtype kinds into compare classes: all int widths
    are one class (engines legitimately differ on INT32 vs INT64 for
    the same SQL type), but int vs float is a hard FAIL."""
    return "i" if k in "iu" else k


def column_mismatch(a, b):
    """Return (exp_sample, got_sample) on the first divergence, None
    if the columns are byte-equivalent under the driver's canon."""
    ka, kb = dtype_class(a.dtype.kind), dtype_class(b.dtype.kind)
    if ka != kb:
        return ([f"dtype={a.dtype}"], [f"dtype={b.dtype}"])
    if ka == "f":
        av = a.to_numpy(dtype="float64").copy()
        bv = b.to_numpy(dtype="float64").copy()
        # canonicalize NaN payloads so only value/sign bits compare
        av[np.isnan(av)] = np.nan
        bv[np.isnan(bv)] = np.nan
        ne = av.view(np.uint64) != bv.view(np.uint64)
        if ne.any():
            return ([repr(x) for x in av[ne][:3]],
                    [repr(x) for x in bv[ne][:3]])
        return None
    if ka == "M":  # datetimes: NaT-safe via the int64 view; normalize
        # resolution first (DuckDB .df() yields datetime64[us], parquet
        # loads datetime64[ns] — equal instants would byte-differ 1000x)
        ne = (a.to_numpy().astype("datetime64[ns]").view("int64") !=
              b.to_numpy().astype("datetime64[ns]").view("int64"))
        if ne.any():
            return (a[ne].head(3).tolist(), b[ne].head(3).tolist())
        return None
    sa, sb = a.astype(str), b.astype(str)
    if not sa.equals(sb):
        ne = sa != sb
        return (a[ne].head(3).tolist(), b[ne].head(3).tolist())
    return None


def mismatch(exp, got):
    """Return why two results differ under the driver's canon, None
    if they are byte-equivalent."""
    exp, got = canon(exp), canon(got)
    if list(exp.columns) != list(got.columns):
        return f"columns exp={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows exp={len(exp)} got={len(got)}"
    for c in exp.columns:
        diff = column_mismatch(exp[c], got[c])
        if diff is not None:
            return f"col {c} exp={diff[0]} got={diff[1]}"
    return None


def check(names, expected, got_dir, con):
    """Compare each query's dump under `got_dir` to `expected(name)`;
    print one line per query and return how many match."""
    n_ok = 0
    for name in names:
        try:
            exp = expected(name)
            got = con.execute(
                f"SELECT * FROM '{got_dir}/{name}/*.parquet'").df()
            why = mismatch(exp, got)
            if why:
                print(f"FAIL {name}: {why}")
            else:
                print(f"OK   {name} ({len(exp)} rows)")
                n_ok += 1
        except Exception as e:
            print(f"ERR  {name}: {e}")
    return n_ok


def dumped(out_dir):
    """The query names a Verify dump holds results for."""
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def main():
    con = duckdb.connect()
    if sys.argv[1] == "--against":
        a_dir, b_dir = sys.argv[2], sys.argv[3]
        a, b = dumped(a_dir), dumped(b_dir)
        both = sorted(a & b)
        n_ok = check(both, lambda name: con.execute(
            f"SELECT * FROM '{a_dir}/{name}/*.parquet'").df(), b_dir, con)
        for name in sorted(a - b):
            print(f"ONLY {name}: in {a_dir}")
        for name in sorted(b - a):
            print(f"ONLY {name}: in {b_dir}")
        print(f"{n_ok}/{len(both)} queries identical")
        return
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    for t in TABLES:
        # testdata tables are single files; Spark-written replicas
        # (ReplicaGen) are directories of part files — accept both
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_ok = check(sorted(oracle), lambda name: con.execute(oracle[name]).df(),
                 out_dir, con)
    print(f"{n_ok}/{len(oracle)} queries match")


if __name__ == "__main__":
    main()
