#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate: run graft.Verify
output against DuckDB oracles on the same parquet tables, compare
values (columns sorted by name, rows sorted by all columns)."""
import duckdb, glob, json, math, os, sys
import pandas as pd

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

con = duckdb.connect()
for t in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(t).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails, passes, skips = [], [], []
# A query that threw in graft.Verify has no output dir, so the dir walk
# below never sees it: Verify records it in failures.json instead.
failures_path = f"{out}/failures.json"
threw = json.load(open(failures_path)) if os.path.exists(failures_path) else {}
for name, err in sorted(threw.items()):
    fails.append(f"{name}: (verify threw) {err.splitlines()[0] if err else ''}")
for name in sorted(os.listdir(out)):
    p = os.path.join(out, name)
    if not os.path.isdir(p) or name in threw:
        continue
    got = pd.read_parquet(p)
    if name not in oracle:
        skips.append(f"{name}: rows={len(got)} (no oracle)")
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fails.append(f"{name}: ORACLE SQL ERROR {e}")
        continue
    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, tuple)) or str(type(v)).find('ndarray')>=0 else v)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    g, e = norm(got), norm(exp)
    if sorted(g.columns) != sorted(e.columns):
        fails.append(f"{name}: COLUMNS {list(g.columns)} vs {list(e.columns)}")
        continue
    if len(g) != len(e):
        fails.append(f"{name}: ROWS {len(g)} vs {len(e)}")
        continue
    bad = None
    for c in g.columns:
        gv, ev = g[c], e[c]
        # The driver hashes the STRING rendering, so an int-vs-float dtype
        # mismatch ("1" vs "1.0") is a hash fail even when values agree —
        # mirror that instead of silently comparing under tolerance.
        if {gv.dtype.kind, ev.dtype.kind} == {'i', 'f'}:
            bad = f"col {c}: DTYPE spark {gv.dtype} vs oracle {ev.dtype} (int-vs-float hashes differently)"
            break
        if gv.dtype.kind == 'f' or ev.dtype.kind == 'f':
            diff = ~((gv.isna() & ev.isna()) | (abs(gv - ev) < 1e-9))
        else:
            diff = ~(gv.astype(str) == ev.astype(str))
        if diff.any():
            i = diff.idxmax()
            bad = f"col {c} row {i}: {gv[i]!r} vs {ev[i]!r}"
            break
    if bad:
        fails.append(f"{name}: VALUES {bad}")
    else:
        passes.append(f"{name}: OK ({len(g)} rows)")

for s in passes: print("PASS", s)
for s in skips: print("SKIP", s)
for s in fails: print("FAIL", s)
print(f"\n{len(passes)} pass, {len(fails)} fail, {len(skips)} no-oracle")
sys.exit(1 if fails else 0)
