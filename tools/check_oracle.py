#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Runs each oracle_sql.json entry in DuckDB against the sf parquet tables,
loads the corresponding Spark result parquet, sorts columns by name and rows
by all columns, and compares cell-by-cell (exact for non-floats, exact-then-
tolerance-report for floats). Usage:
    python3 tools/check_oracle.py <sfdir> <verify_outdir> [query ...]

Without query names it checks every entry; with them, only those (a name
missing from oracle_sql.json is a failure). Exits non-zero on any failure.
"""
import json, math, sys
import duckdb

sfdir, outdir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails, passes = [(n, "not in oracle_sql.json") for n in names if n not in oracle], 0
if names:
    oracle = {n: sql for n, sql in oracle.items() if n in names}
for name, sql in sorted(oracle.items()):
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    try:
        got = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchdf()
    except Exception as e:
        fails.append((name, f"spark result missing: {e}"))
        continue
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        fails.append((name, f"schema: oracle={list(exp.columns)} spark={list(got.columns)}"))
        continue
    if len(exp) != len(got):
        fails.append((name, f"rows: oracle={len(exp)} spark={len(got)}"))
        continue
    exp = exp.sort_values(by=list(exp.columns), na_position="last").reset_index(drop=True)
    got = got.sort_values(by=list(got.columns), na_position="last").reset_index(drop=True)
    bad = None
    for c in exp.columns:
        for i, (a, b) in enumerate(zip(exp[c], got[c])):
            na_a = a is None or (isinstance(a, float) and math.isnan(a))
            na_b = b is None or (isinstance(b, float) and math.isnan(b))
            if na_a and na_b:
                continue
            if na_a != na_b or (a != b and str(a) != str(b)):
                delta = abs(a - b) if isinstance(a, float) and isinstance(b, float) else None
                bad = f"col {c} row {i}: oracle={a!r} spark={b!r} delta={delta}"
                break
        if bad:
            break
    if bad:
        fails.append((name, bad))
    else:
        passes += 1

print(f"PASS {passes}/{passes + len(fails)}")
for name, msg in fails:
    print(f"FAIL {name}: {msg}")
sys.exit(1 if fails else 0)
