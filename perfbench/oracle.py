"""Answer check against the DuckDB oracle, with the comparison rules of the
repository's oracle checker: columns sorted by name, rows sorted by every
column, floats equal within 1e-9, any other value equal as a string, and
an int-vs-float dtype pair a mismatch (the rendered strings differ)."""
import os

import duckdb
import pandas as pd


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or "ndarray" in str(type(v))
                else v)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, exp):
    """None when the frames agree, else a one-line reason."""
    g, e = _norm(got), _norm(exp)
    if list(g.columns) != list(e.columns):
        return f"COLUMNS {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"ROWS {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if {gv.dtype.kind, ev.dtype.kind} == {"i", "f"}:
            return f"col {c}: DTYPE {gv.dtype} vs oracle {ev.dtype}"
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            diff = ~((gv.isna() & ev.isna()) | (abs(gv - ev) < 1e-9))
        else:
            diff = ~(gv.astype(str) == ev.astype(str))
        if diff.any():
            i = diff.idxmax()
            return f"col {c} row {i}: {gv[i]!r} vs {ev[i]!r}"
    return None


def check(dump_dir, data_dir, oracle_sql, queries):
    """{query: reason} for every query whose dumped answer is missing or
    disagrees with its oracle SQL over the same input tables."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    bad = {}
    for q in queries:
        p = os.path.join(dump_dir, q)
        if q not in oracle_sql:
            bad[q] = "no oracle SQL"
        elif not os.path.isdir(p):
            bad[q] = "no answer dumped"
        else:
            try:
                reason = compare(pd.read_parquet(p), con.execute(oracle_sql[q]).fetchdf())
            except Exception as e:  # an oracle that cannot run is a failed check
                reason = f"oracle error: {e}"
            if reason:
                bad[q] = reason
    con.close()
    return bad
