#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped
by graft.Verify, run its oracle SQL in DuckDB over the same parquet
tables and compare (columns sorted by name, exact values). Each query
graft.Verify lists in failed_queries.txt (it threw, so its dump is
missing or stale) counts as a failure."""
import sys, json, glob, os
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
names = sorted([os.path.basename(p) for p in glob.glob(f"{out_dir}/*") if os.path.isdir(p)])
failed_path = f"{out_dir}/failed_queries.txt"
failed = set()
if os.path.exists(failed_path):
    failed = {l.strip() for l in open(failed_path) if l.strip()}
fail = 0
for name in sorted(failed):
    print(f"[VERIFY-FAIL] {name}: threw in graft.Verify"); fail += 1
names = [n for n in names if n not in failed]
for name in names:
    try:
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
    except Exception as e:
        print(f"[READ-FAIL] {name}: {e}"); fail += 1; continue
    if name not in oracle:
        print(f"[rows-only] {name}: {len(got)} rows" + (" EMPTY!" if len(got)==0 else ""))
        continue
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"[ORACLE-SQL-FAIL] {name}: {e}"); fail += 1; continue
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        print(f"[COLS] {name}: got {list(got.columns)} exp {list(exp.columns)}"); fail += 1; continue
    if [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes]:
        print(f"[TYPES] {name}: got {list(map(str,got.dtypes))} exp {list(map(str,exp.dtypes))}")
    if len(got) != len(exp):
        print(f"[ROWS] {name}: got {len(got)} exp {len(exp)}"); fail += 1; continue
    # exact compare, row order preserved
    mismatch = None
    for c in got.columns:
        a, b = got[c].tolist(), exp[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if hasattr(x, '__len__') and not isinstance(x, str):
                x = list(x)
            if hasattr(y, '__len__') and not isinstance(y, str):
                y = list(y)
            if x != y and not (x is None and y is None) and str(x) != str(y):
                import math
                if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
                    continue
                mismatch = (c, i, x, y); break
        if mismatch: break
    if mismatch:
        c, i, x, y = mismatch
        print(f"[VALUES] {name}: col={c} row={i} got={x!r} exp={y!r}"); fail += 1
    else:
        print(f"[OK] {name}: {len(got)} rows")
print(f"\n{'FAIL ' + str(fail) if fail else 'ALL OK'} / {len(names) + len(failed)} queries")
sys.exit(1 if fail else 0)
