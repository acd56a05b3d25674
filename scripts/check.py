#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads the Verify dump (<out>/<name>/ parquet + <out>/oracle_sql.json), runs
each oracle SQL in DuckDB over the same sf directory, and compares:
  - schema: column-name sets must match
  - rows:   row counts must match
  - values: sort columns by name, sort rows, exact equality (doubles must be
            bit-identical — the engine's determinism contract)
Exit code 0 iff every query with an oracle matches. Queries without an
oracle entry get a rows>0 smoke check only. Oracle keys with no output
directory (a query that failed before writing) are listed as MISSING; they
do not yet count toward the exit code.

Usage: scripts/check.py [sfdir] [outdir] [only_query_substr]
"""
import json, math, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
ONLY = sys.argv[3] if len(sys.argv) > 3 else ""

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

oracle = json.load(open(os.path.join(OUT, "oracle_sql.json")))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # lists/arrays -> tuples so they sort & compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v.tolist()) if isinstance(v, np.ndarray)
                              else (tuple(v) if isinstance(v, list) else v))
    try:
        df = df.sort_values(by=list(df.columns), na_position="first")
    except Exception:
        df = df.sort_values(by=list(df.columns), key=lambda s: s.map(repr), na_position="first")
    return df.reset_index(drop=True)

def eq_cell(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    # Type-strict int/float: the driver hashes 123 and 123.0 differently,
    # so a numpy-int vs numpy-float pair must FAIL here too.
    import numpy as np
    a_f = isinstance(a, (float, np.floating)); b_f = isinstance(b, (float, np.floating))
    a_i = isinstance(a, (int, np.integer)) and not isinstance(a, bool)
    b_i = isinstance(b, (int, np.integer)) and not isinstance(b, bool)
    if (a_f and b_i) or (a_i and b_f):
        return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(eq_cell(x, y) for x, y in zip(a, b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    return a == b

fails, passes, smokes = [], [], []
names = sorted(d for d in os.listdir(OUT) if os.path.isdir(os.path.join(OUT, d)))
for name in names:
    if ONLY and ONLY not in name:
        continue
    files = glob.glob(os.path.join(OUT, name, "*.parquet"))
    if not files:
        fails.append((name, "no parquet output")); continue
    got = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
    if name not in oracle:
        (smokes if len(got) > 0 else fails).append((name, f"rows={len(got)} (no oracle)"))
        continue
    try:
        want = con.execute(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}")); continue
    if sorted(got.columns) != sorted(want.columns):
        fails.append((name, f"schema: spark={sorted(got.columns)} duckdb={sorted(want.columns)}")); continue
    if len(got) != len(want):
        fails.append((name, f"rowcount: spark={len(got)} duckdb={len(want)}")); continue
    g, w = canon(got), canon(want)
    bad = None
    for c in g.columns:
        gv, wv = g[c].tolist(), w[c].tolist()
        for i, (a, b) in enumerate(zip(gv, wv)):
            if not eq_cell(a, b):
                bad = f"col {c} row {i}: spark={a!r} duckdb={b!r}"
                break
        if bad:
            break
    if bad:
        fails.append((name, bad))
    else:
        passes.append(name)

missing = sorted(k for k in oracle
                 if (not ONLY or ONLY in k) and k not in names)
print(f"PASS {len(passes)}  SMOKE {len(smokes)}  FAIL {len(fails)}  MISSING {len(missing)}")
for n in passes:
    print(f"  ok    {n}")
for n, msg in smokes:
    print(f"  smoke {n}: {msg}")
for n, msg in fails:
    print(f"  FAIL  {n}: {msg}")
for n in missing:
    print(f"  MISSING {n}: no output directory")
sys.exit(1 if fails else 0)
