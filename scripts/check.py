#!/usr/bin/env python3
"""Dev-only driver mimic: compare Verify output parquet against DuckDB
oracle SQL over the same tables. Usage:
  python3 scripts/check.py [sfdir] [outdir] [--run]
--run executes graft.Verify first through scripts/runjava.sh (no sbt).
"""
import sys, os, json, glob, subprocess

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

only = next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--only=")), None)

if "--run" in sys.argv:
    cmd = [f"{REPO}/scripts/runjava.sh", "graft.Verify", sfdir, outdir] + \
        ([only] if only else [])
    env = dict(os.environ, SPARK_GRAFT_CPUS="8",
               CLASSES=f"{REPO}/target/scala-2.13/classes")
    r = subprocess.run(cmd, env=env, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-5000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

import duckdb
import pandas as pd

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = []
for name, sql in sorted(oracle.items()):
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append(name); print(f"FAIL {name}: oracle error: {e}"); continue
    res_dir = f"{outdir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        fails.append(name); print(f"FAIL {name}: no spark output"); continue
    got = con.execute(f"SELECT * FROM '{res_dir}/*.parquet'").fetchdf()
    # canonicalize: sort columns by name, then sort rows by all columns
    exp2 = exp[sorted(exp.columns)]
    got2 = got[sorted(got.columns)]
    if list(exp2.columns) != list(got2.columns):
        fails.append(name)
        print(f"FAIL {name}: columns exp={list(exp2.columns)} got={list(got2.columns)}")
        continue
    if [str(t) for t in exp2.dtypes] != [str(t) for t in got2.dtypes]:
        print(f"WARN {name}: dtypes exp={list(map(str, exp2.dtypes))} got={list(map(str, got2.dtypes))}")
    if len(exp2) != len(got2):
        fails.append(name)
        print(f"FAIL {name}: rows exp={len(exp2)} got={len(got2)}")
        continue
    e = exp2.sort_values(by=list(exp2.columns), ignore_index=True)
    g = got2.sort_values(by=list(got2.columns), ignore_index=True)
    same = True
    for c in e.columns:
        ec, gc = e[c], g[c]
        try:
            eq = (ec.astype(object).where(pd.notna(ec), None) ==
                  gc.astype(object).where(pd.notna(gc), None)) | (pd.isna(ec) & pd.isna(gc))
            if not eq.all():
                same = False
                bad = (~eq).idxmax()
                print(f"FAIL {name}: col {c} first diff row {bad}: exp={ec[bad]!r} got={gc[bad]!r}")
        except Exception as ex:
            same = False
            print(f"FAIL {name}: col {c} compare error {ex}")
    if same:
        print(f"PASS {name} ({len(e)} rows)")
    else:
        fails.append(name)

print(f"\n{len(oracle) - len(fails)}/{len(oracle)} passed")
sys.exit(1 if fails else 0)
