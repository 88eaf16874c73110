#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>

Loads each SparkEntry query result (parquet written by graft.Verify),
runs the paired oracle SQL in DuckDB over the same tables, then compares
schema (column name set), row count, and a hash of the values with
columns sorted by name and rows sorted by all columns.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="last").reset_index(drop=True)
    return df

def cell(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(v)
    return str(v)

def frame_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.sha256()
    for _, row in df.iterrows():
        h.update(("|".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # per-query run health emitted by graft.Verify (r18): {sec, gc_ms}
    tpath = os.path.join(out_dir, "_timings.json")
    timings = json.load(open(tpath)) if os.path.exists(tpath) else {}
    # the gates Verify attempted: it times every one, failed or not, so a
    # filtered run is scored on its own gates; with no timings, every gate
    expected = timings.keys() if os.path.exists(tpath) else oracle.keys()
    results = {}
    # a query whose dump is MISSING (its Verify run crashed) must fail
    # loudly, not be silently skipped
    dumped = {n for n in os.listdir(out_dir)
              if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(expected - dumped):
        results[name] = {"status": "MISSING_DUMP (query failed in Verify?)"}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        if name not in oracle:
            results[name] = {"status": "rows_only", "rows": 0 if got is None else len(got)}
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            results[name] = {"status": "ORACLE_SQL_ERROR", "error": str(e)[:500]}
            continue
        g, e = canon(got), canon(exp)
        status = {}
        status["cols"] = "OK" if list(g.columns) == list(e.columns) else \
            f"MISMATCH spark={list(g.columns)} duck={list(e.columns)}"
        status["rows"] = "OK" if len(g) == len(e) else \
            f"MISMATCH spark={len(g)} duck={len(e)}"
        if status["cols"] == "OK" and status["rows"] == "OK":
            hg, he = frame_hash(g), frame_hash(e)
            status["hash"] = "OK" if hg == he else "MISMATCH"
            if status["hash"] == "MISMATCH":
                diff = (g.astype(str) != e.astype(str))
                bad = diff.any(axis=1)
                status["first_diff"] = {
                    "spark": g[bad].head(3).to_dict("records"),
                    "duck": e[bad].head(3).to_dict("records")}
        results[name] = status
    for name, t in timings.items():
        if name in results and isinstance(results[name], dict):
            results[name].update(t)
    ok = sum(1 for r in results.values()
             if r.get("hash") == "OK" or r.get("status") == "rows_only")
    print(json.dumps(results, indent=2, default=str))
    print(f"\n{ok}/{len(results)} queries OK")
    return 0 if ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
