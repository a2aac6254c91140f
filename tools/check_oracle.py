#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compare Verify
output parquet against DuckDB oracle SQL (canonicalize: sort by all
columns NULLs first, round doubles to 1e-6, hash)."""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

# Type-lint pre-pass (VERDICT r11 #1): DESCRIBE binds each oracle without
# executing it; a HUGEINT result column is the exact signature that made
# t15 (r10) and c15 (r11) red — pandas materializes HUGEINT as float64
# while Spark emits int64, so the driver hash sees 10.0 vs 10.
lint_fail = []
for name, q in sorted(oracle.items()):
    try:
        d = con.execute(f"DESCRIBE {q}").df()
    except Exception as e:
        lint_fail.append(f"{name}: DESCRIBE error: {str(e)[:120]}")
        continue
    for _, r in d.iterrows():
        if "HUGEINT" in r["column_type"]:
            lint_fail.append(
                f"{name}.{r['column_name']}: {r['column_type']} — wrap in "
                "CAST(... AS BIGINT)")
if lint_fail:
    print("TYPELINT failures:")
    for f in lint_fail:
        print(f"  {f}")
    sys.exit(1)
print(f"TYPELINT: {len(oracle)} oracles clean (no HUGEINT result columns)")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == np.float64 or df[c].dtype == np.float32:
            df[c] = df[c].astype(np.float64).round(6)
    df = df.sort_values(by=list(df.columns), na_position="first")
    return df.reset_index(drop=True)

# Verify writes the queries that threw (name -> message) to failed.json;
# a thrown query has no output dir, so without this it would go unseen.
failed_path = f"{out_dir}/failed.json"
failed = json.load(open(failed_path)) if os.path.exists(failed_path) else {}

n_pass = n_fail = 0
for name, msg in sorted(failed.items()):
    n_fail += 1
    print(f"FAIL  {name}: THREW {str(msg)[:200]}")
# DuckDB's own per-query runtime: a free external reference point for
# relative query cost at this SF (a single-node columnar engine on the
# same parquet), tracked round-over-round next to the Spark bench.
timings = {}
for qdir in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(qdir.rstrip("/"))
    if name in failed:
        continue  # already reported; any dir here is stale
    got = pd.concat([pd.read_parquet(f) for f in glob.glob(f"{qdir}/*.parquet")])
    if name not in oracle:
        status = f"rows-only ({len(got)} rows)"
        ok = len(got) > 0
    else:
        import time
        t0 = time.monotonic()
        want = con.execute(oracle[name]).df()
        timings[name] = round(time.monotonic() - t0, 3)
        g, w = canon(got), canon(want)
        g.columns = [c.lower() for c in g.columns]
        w.columns = [c.lower() for c in w.columns]
        ok = True
        # driver's hash is dtype-sensitive (10 vs 10.0 differ) — reproduce
        # that locally instead of letting check_dtype=False mask it
        dtype_clash = [
            c for c in g.columns if c in w.columns
            and pd.api.types.is_integer_dtype(g[c].dtype)
            and pd.api.types.is_float_dtype(w[c].dtype)]
        if dtype_clash:
            ok, status = False, f"DTYPE spark int vs oracle float: {dtype_clash}"
        elif list(g.columns) != list(w.columns):
            ok, status = False, f"SCHEMA got={list(g.columns)} want={list(w.columns)}"
        elif len(g) != len(w):
            ok, status = False, f"ROWS got={len(g)} want={len(w)}"
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, atol=2e-6, rtol=0)
                status = f"match ({len(g)} rows)"
            except AssertionError as e:
                ok, status = False, "VALUES " + str(e).split("\n")[0]
    n_pass += ok; n_fail += (not ok)
    print(f"{'PASS' if ok else 'FAIL'}  {name}: {status}")
with open(f"{out_dir}/oracle_timing.json", "w") as f:
    json.dump({"sf": sf_dir, "engine": "duckdb",
               "queries": dict(sorted(timings.items()))}, f, indent=1)
print(f"\n{n_pass} pass, {n_fail} fail")
sys.exit(1 if n_fail else 0)
