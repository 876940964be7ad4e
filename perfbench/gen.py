"""Seeded input generator for the benchmark.

Writes the ten tables graft reads (one parquet file each, same schema and
column types as the engine's fixture tables) into a directory under the
benchmark's own build space. Two stages:

* `base_tables(sf)`: a star schema at scale factor `sf`. Values come from a
  fixed generator seed, so every run of one workload scans the same base
  data and run-to-run spread reflects the engine, not the data.
* `replicate(tables, copies, seed)`: the scale-up used by `etl_batch`. Each
  fact table is repeated `copies` times with the key shifts of the
  repository's 10x scale-up tool (so referential joins stay intact and
  primary keys stay unique), then its rows are put in an order drawn from
  the workload seed.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()

# Key shift per replicated copy, by table and column: the offsets of the
# 10x scale-up tool. Each exceeds its key range at every base scale used here.
SHIFTS = {
    "documents": {"doc_id": 10_000},
    "embeddings": {"vec_id": 10_000},
    "orders": {"o_orderkey": 1_000_000, "o_custkey": 100_000},
    "lineitem": {"l_orderkey": 1_000_000, "l_partkey": 100_000, "l_suppkey": 10_000},
    "customer": {"c_custkey": 100_000},
    "part": {"p_partkey": 100_000},
    "supplier": {"s_suppkey": 10_000},
    "events": {"event_id": 1_000_000, "user_id": 10_000},
}
PRIMARY_KEY = {"documents": "doc_id", "embeddings": "vec_id",
               "orders": "o_orderkey", "customer": "c_custkey",
               "part": "p_partkey", "supplier": "s_suppkey",
               "events": "event_id"}


def _days(rng, n, start, end):
    """n random dates in [start, end] as μs timestamps (midnight)."""
    span = (end - start).days + 1
    d = np.datetime64(start, "D") + rng.integers(0, span, n)
    return d.astype("datetime64[us]")


def _ts(a):
    return pa.array(a, type=pa.timestamp("us"))


def base_tables(sf):
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(50, int(50_000 * sf)), max(50, int(20_000 * sf))
    n_user = max(10, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_days(rng, n_ord, datetime.date(1995, 1, 1),
                                 datetime.date(2001, 8, 1))),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, n_line, datetime.date(1995, 1, 2),
                                datetime.date(2001, 11, 4)))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(start + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: ~5% are near-duplicates (an earlier doc plus " dup"), the
    # structure the dedup and span-removal pipelines look for
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return t


def replicate(tables, copies, seed):
    """`copies` key-shifted copies of each fact table, rows in seeded order."""
    rng = np.random.default_rng(seed)
    out = {}
    for name, t in tables.items():
        if name not in SHIFTS:
            out[name] = t  # fixed dimensions: one verbatim copy
            continue
        parts = []
        for i in range(copies):
            cols = {c: t[c] for c in t.column_names}
            for c, off in SHIFTS[name].items():
                cols[c] = pa.array(t[c].to_numpy() + i * off)
            if name == "documents" and i > 0:
                # distinct text per copy, so text-level dedup scales with
                # the copy count instead of collapsing
                text = [s + f" v{i}" for s in t["text"].to_pylist()]
                cols["text"] = pa.array(text)
                cols["n_chars"] = pa.array([len(s) for s in text], pa.int64())
            parts.append(pa.table(cols, schema=t.schema))
        r = pa.concat_tables(parts)
        pk = PRIMARY_KEY.get(name)
        assert pk is None or len(np.unique(r[pk].to_numpy())) == r.num_rows, \
            f"{name}.{pk}: key shifts collide"
        out[name] = r.take(rng.permutation(r.num_rows))
    return out


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


def generate(out_dir, sf, copies=1, seed=0):
    """Write the workload's input tables to `out_dir` (created if absent)."""
    t = base_tables(sf)
    if copies > 1:
        t = replicate(t, copies, seed)
    write(t, out_dir)
