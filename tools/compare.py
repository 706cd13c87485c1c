#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Registers each testdata parquet as a DuckDB view, runs every oracle SQL from
oracle_sql.json, and compares against the Spark-written parquet in
<verifyOutDir>/<name>/ — column names (sorted), row count, and a hash of the
sorted stringified values. Each PASS/FAIL line ends with the oracle query's
seconds. Keys listed in <verifyOutDir>/failed.json (keys that threw in
Verify, rows-only ones included) are reported and fail the run.
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    def cell(v):
        if isinstance(v, float):
            return format(v, ".10g")
        return str(v)
    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    return rows

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not spark_files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        t0 = None
        try:
            sdf = pd.concat([pd.read_parquet(f) for f in spark_files])
            t0 = time.time()
            ddf = con.execute(sql).df()
        except Exception as e:
            secs = f" [oracle {time.time() - t0:.2f}s]" if t0 else ""
            print(f"FAIL {name}: {e}{secs}"); n_fail += 1; continue
        secs = f"[oracle {time.time() - t0:.2f}s]"
        sc, dc = sorted(sdf.columns), sorted(ddf.columns)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc} {secs}"); n_fail += 1; continue
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rows {len(sdf)} vs {len(ddf)} {secs}"); n_fail += 1; continue
        s, d0 = canon(sdf), canon(ddf)
        if s != d0:
            diffs = [i for i, (a, b) in enumerate(zip(s, d0)) if a != b][:3]
            print(f"FAIL {name}: values differ {secs}; first diffs:")
            for i in diffs:
                print(f"  spark  {s[i]}\n  duckdb {d0[i]}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(sdf)} rows) {secs}")
        n_pass += 1
    failed_path = os.path.join(out_dir, "failed.json")
    thrown = json.load(open(failed_path)) if os.path.exists(failed_path) else []
    for name in thrown:
        print(f"FAIL {name}: threw in Verify (failed.json)")
    print(f"\n{n_pass} pass / {n_fail} fail / {len(thrown)} thrown")
    sys.exit(1 if n_fail or thrown else 0)

if __name__ == "__main__":
    main()
