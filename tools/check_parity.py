#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
in DuckDB over the sf-dir parquet tables and compare (rows, sorted
values) against the Spark result parquet written by graft.Verify.

Usage: check_parity.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, json, glob, math
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize numerics: ints -> int64 where possible, floats rounded repr
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("NaN")
                else:
                    row.append(f"{v:.6g}")
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                row.append(str(list(v)))
            else:
                row.append(str(v))
        rows.append(tuple(row))
    rows.sort()
    return rows

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # allow spilling: an in-memory duckdb under transient host memory
    # pressure (e.g. a 10g sbt JVM still unwinding) otherwise OOMs one
    # heavy oracle ~1 run in 20, which reads as a phantom FAIL
    con.execute("SET temp_directory='/tmp/duckdb_parity_spill'")
    con.execute("SET max_temp_directory_size='8GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    vacuous = []
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: columns spark={sorted(got.columns)} oracle={sorted(want.columns)}")
            n_fail += 1
            continue
        cg, cw = canon(got), canon(want)
        if len(cg) != len(cw):
            print(f"FAIL {name}: rows spark={len(cg)} oracle={len(cw)}")
            n_fail += 1
            continue
        if cg != cw:
            bad = [(a, b) for a, b in zip(cg, cw) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            n_fail += 1
            continue
        if not cg:
            # empty on both sides: the row agrees but checks nothing
            print(f"PASS {name} (0 rows) VACUOUS: Spark and DuckDB both empty")
            vacuous.append(name)
        else:
            print(f"PASS {name} ({len(cg)} rows)")
        n_pass += 1
    tail = f" / {len(vacuous)} vacuous ({', '.join(vacuous)})" if vacuous else ""
    print(f"== {n_pass} pass / {n_fail} fail{tail} ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
