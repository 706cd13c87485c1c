"""Output checks for the graft benchmark.

Oracle-backed keys must hash-match DuckDB running the key's `oracleSql`
over the same parquet tables, canonicalized as tools/compare.py does:
columns sorted by name, rows sorted, floats formatted with 10 significant
digits, everything else stringified. Expected hashes are cached under
.state/, keyed on the data checksums and the SQL text, so the oracle runs
once per checkout and never inside a timed run. Keys without oracle SQL
(rows-only) must match the schema and row count in rows_only.json and be
non-empty.
"""
import glob
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ROWS_ONLY = os.path.join(HERE, "rows_only.json")
CACHE = os.path.join(HERE, ".state", "oracle-cache.json")
DIGEST_VERSION = "2"  # bump when digest() changes: invalidates the cache


def verify_data(data_dir):
    """Check the vendored tables against their SHA256SUMS; return a digest."""
    sums = os.path.join(data_dir, "SHA256SUMS")
    if not os.path.exists(sums):
        raise SystemExit(f"perfbench: missing {sums}")
    for line in open(sums):
        digest, name = line.split()
        with open(os.path.join(data_dir, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise SystemExit(f"perfbench: checksum mismatch for {name}")
    return hashlib.sha256(open(sums, "rb").read()).hexdigest()


def canon(df):
    """compare.py's canonical rows: columns sorted by name, floats with 10
    significant digits, other values stringified, rows sorted. Values are
    read per column through the same Series iteration itertuples uses."""
    def cell(v):
        if isinstance(v, float):
            return format(v, ".10g")
        return str(v)
    cols = [[cell(v) for v in df[c]] for c in sorted(df.columns)]
    return sorted(zip(*cols)) if cols else [()] * len(df)


def digest(df):
    rows = canon(df)
    h = hashlib.sha256(json.dumps(sorted(df.columns)).encode())
    h.update("\n".join("\x1f".join(r) for r in rows).encode())
    return {"columns": sorted(df.columns), "rows": len(rows),
            "hash": h.hexdigest()}


def read_spark(path):
    import pandas as pd
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None, None
    schema = pq.read_schema(files[0])
    df = pd.concat([pd.read_parquet(f) for f in files])
    return df, [[f.name, str(f.type)] for f in schema]


def oracle_digests(oracle, data_dir, data_digest):
    """Expected digest per oracle key, from the cache or DuckDB."""
    cache = json.load(open(CACHE)) if os.path.exists(CACHE) else {}
    keyed = {k: hashlib.sha256(
                 "\0".join([DIGEST_VERSION, data_digest, sql]).encode()).hexdigest()
             for k, sql in oracle.items()}
    missing = [k for k, c in keyed.items() if c not in cache]
    if missing:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        for k in missing:
            try:
                cache[keyed[k]] = digest(con.execute(oracle[k]).df())
            except Exception as e:  # a broken oracle is a failed check
                cache[keyed[k]] = {"error": str(e)[:300]}
        con.close()
        tmp = CACHE + f".{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, CACHE)
    return {k: cache[c] for k, c in keyed.items()}


def check_outputs(res, check_dir, data_dir):
    """Check each key's captured output. Returns failures (messages),
    mismatched keys (whose every op then counts as failed) and the output
    hash of every key (for the order-independence check)."""
    data_digest = verify_data(data_dir)
    keys = sorted({o["key"] for o in res["ops"] if o["kind"] == "query"})
    expected = oracle_digests(res["oracle"], data_dir, data_digest)
    rows_only = json.load(open(ROWS_ONLY))
    failures, mismatched, hashes = [], [], {}
    for k in keys:
        df, schema = read_spark(os.path.join(check_dir, k))
        if df is None:
            # A key that threw has its timed ops counted as failed already;
            # one that ran but left no output is a failed check.
            if any(o["ok"] for o in res["ops"] if o["key"] == k):
                failures.append(f"{k}: no output captured")
                mismatched.append(k)
            continue
        got = digest(df)
        hashes[k] = got["hash"]
        if k in expected:
            exp = expected[k]
            if "error" in exp:
                why = f"oracle error: {exp['error']}"
            elif got != exp:
                why = (f"columns {got['columns']} vs {exp['columns']}"
                       if got["columns"] != exp["columns"] else
                       f"rows {got['rows']} vs {exp['rows']}"
                       if got["rows"] != exp["rows"] else "values differ")
            else:
                continue
        elif k in rows_only:
            exp = rows_only[k]
            if schema != exp["schema"]:
                why = f"schema {schema} vs {exp['schema']}"
            elif got["rows"] == 0 or got["rows"] != exp["rows"]:
                why = f"rows {got['rows']} vs {exp['rows']}"
            else:
                continue
        else:
            why = ("no oracle SQL and no rows_only.json entry; got " +
                   json.dumps({"schema": schema, "rows": got["rows"]}))
        failures.append(f"{k}: {why}")
        mismatched.append(k)
    return {"failures": failures, "mismatched": mismatched, "hashes": hashes}
