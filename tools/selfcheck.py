#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: after `sbt "runMain graft.Verify <sfDir> /tmp/verify_out"`,
run `python3 tools/selfcheck.py [sfDir] [outDir]`.

For each <name>.parquet in outDir: run oracle_sql.json[name] in DuckDB
with the sf tables registered as views, sort columns by name, sort rows,
compare values exactly. Mirrors the driver: hash-mismatch == any cell
differing after column-name sort. Every key that Verify lists in
_failed.json (it threw) is a failure too, whatever its directory holds.
"""
import sys, json, glob, os
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
failed_path = f"{out}/_failed.json"
threw = json.load(open(failed_path)) if os.path.exists(failed_path) else {}
fails = [(name, f"Verify failed: {msg}") for name, msg in sorted(threw.items())]
passes, rows_only = [], []
for path in sorted(glob.glob(f"{out}/*/")):
    name = os.path.basename(path.rstrip("/"))
    if name in threw:
        continue
    got = con.sql(f"SELECT * FROM '{path}*.parquet'").df()
    got = got[sorted(got.columns)]
    if name not in oracle:
        rows_only.append((name, len(got)))
        continue
    try:
        want = con.sql(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        fails.append((name, f"cols {list(got.columns)} vs {list(want.columns)}"))
        continue
    if len(got) != len(want):
        fails.append((name, f"rows {len(got)} vs {len(want)}"))
        continue
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    g = g.astype(str)
    w2 = w.astype(str)
    if g.equals(w2):
        passes.append(name)
    else:
        diff = (g != w2)
        ncell = int(diff.values.sum())
        # first differing cell for debugging
        idx = diff.any(axis=1).idxmax()
        cols = [c for c in g.columns if diff.loc[idx, c]]
        fails.append((name, f"{ncell} cells differ; e.g. row {idx} {cols[:3]}: "
                      f"got={[g.loc[idx,c] for c in cols[:3]]} want={[w2.loc[idx,c] for c in cols[:3]]}"))

print(f"PASS ({len(passes)}): {' '.join(passes)}")
for n, r in rows_only:
    print(f"ROWS-ONLY: {n} rows={r}")
for n, msg in fails:
    print(f"FAIL: {n}: {msg}")
sys.exit(1 if fails else 0)
