#!/usr/bin/env python3
"""Dev-only harness emulating the driver's correctness gate:
run graft.Verify output (parquet per query + oracle_sql.json) against
DuckDB over the same testdata tables, compare values exactly.

Usage: python3 tools/check_correctness.py [sfdir] [outdir]
(Expects `sbt "runMain graft.Verify <sfdir> <outdir>"` to have run.)
SPARK_GRAFT_VERIFY_ONLY (comma-separated name prefixes) limits the check
to the queries graft.Verify dumps under the same variable.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize datetimes to naive micros for comparison
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object and len(df) and all(
                type(v).__name__ in ("date", "Timestamp", "datetime")
                for v in df[c].dropna().head(5)):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
    if only is not None:
        prefixes = [p for p in only.split(",") if p]
        oracle = {n: q for n, q in oracle.items()
                  if any(n.startswith(p) for p in prefixes)}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        qdir = f"{outdir}/{name}"
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output");  n_fail += 1; continue
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            exp = norm(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: cols {list(got.columns)} vs {list(exp.columns)}")
            n_fail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); n_fail += 1; continue
        if len(got) == 0:
            print(f"WARN {name}: both sides empty (weak pass)"); n_pass += 1; continue
        eq = got.equals(exp)
        if not eq:
            # pinpoint first mismatching cell
            bad = None
            for c in got.columns:
                a, b = got[c], exp[c]
                neq = ~(a.eq(b) | (a.isna() & b.isna()))
                if neq.any():
                    i = neq.idxmax()
                    bad = (c, i, a[i], b[i]); break
            print(f"FAIL {name}: value mismatch {bad}")
            n_fail += 1; continue
        print(f"PASS {name} ({len(got)} rows)")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
