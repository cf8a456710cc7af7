#!/usr/bin/env python3
"""Local differential check mimicking the driver's correctness gate:
run graft.Verify at a given SF, then compare each query's parquet output
against the DuckDB oracle (exact values, schema-ish, row order).

Usage: python3 scripts/check.py [sfDir] [outDir] [--skip-verify] [only_query...]

Builds and runs Verify in the checkout this script lives in (so a
`git archive` copy verifies itself) and writes the sbt log to
<outDir>/verify_log.txt. Exits 0 iff every compared oracle query is OK,
1 otherwise.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

sf = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
out = os.path.abspath(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")
args = sys.argv[3:]
skip_verify = "--skip-verify" in args
only = [a for a in args if not a.startswith("--")]

if not skip_verify:
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "verify_log.txt")
    rc = os.system(
        f'cd "{checkout}" && timeout 3600 sbt "runMain graft.Verify {sf} {out}" '
        f'> "{log}" 2>&1')
    if rc != 0:
        print(open(log).read()[-4000:])
        sys.exit(f"verify run failed rc={rc}")

con = duckdb.connect()
# Bound DuckDB: the unbounded default (80% of RAM) let one heavy oracle
# query OOM-kill the whole sf1 gate at 130 GB RSS (round 13); spill goes
# to an explicit /tmp dir, never the repo cwd (.tmp/ — the 6 GB
# accidentally-committed spill file of round 12 came from the cwd
# default).
con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '40GB')}'")
# per-run spill dir: DuckDB temp file names carry no process
# discriminator, so two concurrent gate runs sharing a dir would
# clobber each other's spill blocks
import atexit, shutil, tempfile
_spill = tempfile.mkdtemp(prefix="duckdb_spill_")
atexit.register(shutil.rmtree, _spill, ignore_errors=True)
con.execute(f"SET temp_directory='{_spill}'")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
results = {}
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    print(f"[compare] {name}", file=sys.stderr, flush=True)
    pdir = f"{out}/{name}"
    try:
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            results[name] = "NO_SPARK_OUTPUT"
            continue
        got = pd.read_parquet(pdir)
        exp = con.execute(sql).df()
    except Exception as e:
        results[name] = f"ERROR: {str(e)[:200]}"
        continue
    # driver sorts columns by name before hashing
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        results[name] = f"COLS: spark={list(got.columns)} oracle={list(exp.columns)}"
        continue
    if got.shape != exp.shape:
        results[name] = f"SHAPE: spark={got.shape} oracle={exp.shape}"
        continue
    problems = []
    for c in got.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            ga = g.astype(float).to_numpy()
            ea = e.astype(float).to_numpy()
            both_nan = np.isnan(ga) & np.isnan(ea)
            eq = (ga == ea) | both_nan
            if not eq.all():
                i = int(np.argmin(eq))
                problems.append(
                    f"{c}: {int((~eq).sum())} diffs, first@{i} "
                    f"spark={ga[i]!r} oracle={ea[i]!r} delta={ga[i]-ea[i]:.3e}")
        else:
            if str(g.dtype) != str(e.dtype):
                try:
                    e = e.astype(g.dtype)
                except Exception:
                    pass
            eq = (g.values == e.values) | (pd.isna(g).values & pd.isna(e).values)
            if not np.asarray(eq).all():
                i = int(np.argmin(eq))
                problems.append(f"{c}: dtype {g.dtype}/{e.dtype}, first diff@{i} "
                                f"spark={g.iloc[i]!r} oracle={e.iloc[i]!r}")
    # dtype report (informational)
    results[name] = "OK" if not problems else "DIFF: " + "; ".join(problems[:3])

no_oracle = []
for pdir in sorted(glob.glob(f"{out}/q*")):
    name = os.path.basename(pdir)
    if name not in oracle:
        n = len(pd.read_parquet(pdir)) if glob.glob(f"{pdir}/*.parquet") else -1
        no_oracle.append(f"{name}: rows={n}")

ok = sum(1 for v in results.values() if v == "OK")
print(f"== {ok}/{len(results)} oracle queries OK ==")
for k, v in sorted(results.items()):
    print(("PASS " if v == "OK" else "FAIL ") + k + ("" if v == "OK" else "  " + v))
print("== rows-only queries ==")
for line in no_oracle:
    print("  " + line)
sys.exit(0 if ok == len(results) else 1)
