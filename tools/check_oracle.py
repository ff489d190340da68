#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL from
Verify's oracle_sql.json in DuckDB over the sfDir parquet tables, and compare
against the Spark parquet output (columns sorted by name, rows as produced).
When Verify wrote exec_modes.json, each OK line also names the execution mode
the query ran in, its input bytes, the input rows that picked the mode
(unknown for a relation that is not parquet) and the Spark jobs the query
started (its build and its write).

Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize value types for comparison
    def conv(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
            return tuple(conv(x) for x in v)
        return v
    return df.map(conv)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for tb in TABLES:
        p = os.path.join(sf_dir, f"{tb}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {tb} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    modes_path = os.path.join(out_dir, "exec_modes.json")
    modes = json.load(open(modes_path)) if os.path.exists(modes_path) else {}
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        spark_files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not spark_files:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        try:
            ora = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}"); n_bad += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(spark_files)])
        ora_n, got_n = norm(ora), norm(got)
        if list(ora_n.columns) != list(got_n.columns):
            print(f"FAIL {name}: columns {list(got_n.columns)} vs oracle {list(ora_n.columns)}")
            n_bad += 1; continue
        if len(ora_n) != len(got_n):
            print(f"FAIL {name}: rows {len(got_n)} vs oracle {len(ora_n)}"); n_bad += 1; continue
        a, b = ora_n.reset_index(drop=True), got_n.reset_index(drop=True)
        diffs = []
        for c in a.columns:
            neq = ~(a[c].eq(b[c]) | (a[c].isna() & b[c].isna()))
            if neq.any():
                i = neq.idxmax()
                diffs.append(f"{c}[{i}]: oracle={a[c][i]!r} spark={b[c][i]!r}")
        if diffs:
            print(f"FAIL {name}: value mismatch: " + "; ".join(diffs[:3]))
            n_bad += 1; continue
        # dtype drift (int vs float) would change most hash-based compares:
        dt = [c for c in a.columns if str(a[c].dtype) != str(b[c].dtype)]
        if dt:
            print(f"WARN {name}: dtype drift on {dt}: "
                  + ", ".join(f"{c}:{a[c].dtype}vs{b[c].dtype}" for c in dt))
        m = modes.get(name)
        mode = f", {m['mode']}, {m['scanned_bytes']} B scanned" if m else ""
        if m and "scanned_rows" in m:
            rows = m["scanned_rows"]
            mode += f", {'unknown' if rows is None else rows} rows scanned"
        if m and "jobs" in m:
            mode += f", {m['jobs']} jobs"
        print(f"OK   {name} ({len(got_n)} rows{mode})"); n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
