#!/usr/bin/env python3
"""Dev-only correctness checker mirroring the driver's t2 gate:
run graft.Verify output parquet vs DuckDB oracle SQL on the same tables.
Each query's line ends with its DuckDB wall seconds; the total is printed last.
Usage: python3 scripts/check.py <sfDir> <outDir> [q1,q2,...]
The optional comma list checks only the named queries, as graft.Verify's
third argument runs only them."""
import sys, json, glob, os, time
import duckdb, pandas as pd, numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f'{outdir}/oracle_sql.json'))
if only is not None:
    oracle = {n: q for n, q in oracle.items() if n in only}
ok = fail = 0
duck_total = 0.0
for name, sql in sorted(oracle.items()):
    pdir = f'{outdir}/{name}'
    if not os.path.isdir(pdir):
        print(f'{name}: MISSING spark output'); fail += 1; continue
    try:
        spark_df = pd.concat([pd.read_parquet(p) for p in sorted(glob.glob(f'{pdir}/*.parquet'))])
        t0 = time.perf_counter()
        duck_df = con.execute(sql).df()
        duck_s = time.perf_counter() - t0
        duck_total += duck_s
    except Exception as e:
        print(f'{name}: ERROR {e}'); fail += 1; continue
    # driver sorts columns by name before hashing values
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        print(f'{name}: SCHEMA mismatch spark={list(s.columns)} duck={list(d.columns)} [duckdb {duck_s:.2f} s]'); fail += 1; continue
    if len(s) != len(d):
        print(f'{name}: ROWS mismatch spark={len(s)} duck={len(d)} [duckdb {duck_s:.2f} s]'); fail += 1; continue
    mismatch = None
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind == 'f' or b.dtype.kind == 'f':
            eqs = (a.isna() & b.isna()) | (a == b)
        else:
            try:
                eqs = (a.isna() & b.isna()) | (a.astype(object) == b.astype(object))
            except Exception:
                eqs = a.astype(str) == b.astype(str)
        if not bool(eqs.all()):
            i = int((~eqs).idxmax())
            mismatch = f'col {c} row {i}: spark={a.iloc[i]!r} ({a.dtype}) duck={b.iloc[i]!r} ({b.dtype})'
            break
        # dtype compatibility note (driver may be stricter)
        if a.dtype != b.dtype:
            print(f'  [warn] {name}.{c}: dtype spark={a.dtype} duck={b.dtype}')
    if mismatch:
        print(f'{name}: VALUE mismatch {mismatch} [duckdb {duck_s:.2f} s]'); fail += 1
    else:
        print(f'{name}: OK ({len(s)} rows) [duckdb {duck_s:.2f} s]'); ok += 1
print(f'\n{ok} OK, {fail} FAIL')
print(f'duckdb total {duck_total:.1f} s')
sys.exit(1 if fail else 0)
