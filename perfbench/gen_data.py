"""Deterministic fixture generator for the benchmark.

Writes the engine's ten-table fixture schema (see FIXTURES.md at the repo
root: a TPC-H-style star schema plus `events`, `documents` and
`embeddings`) as one single-row-group parquet file per table, written by
Arrow's parquet writer with the column types, row counts and file layout of
the repository's own sf0.1 fixtures. The data is a
pure function of the scale factor: the benchmark's `--seed` chooses the
operations, never the data, so every seed runs against the same tables.

    python3 perfbench/gen_data.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _days(rng, n, lo, hi):
    span = (pd.Timestamp(hi) - pd.Timestamp(lo)).days
    return (pd.Timestamp(lo) + pd.to_timedelta(rng.randint(0, span + 1, n), unit="D")).values


def _money(rng, n, lo, hi):
    return np.round(rng.randint(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def tables(sf):
    """Return {name: DataFrame} for scale factor `sf`."""
    rng = np.random.RandomState(DATA_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    n_users = max(15, int(15000 * sf))
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -1000, 10000),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.randint(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -1000, 10000)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.randint(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.randint(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.randint(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.randint(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.randint(0, 11, n_line) / 100.0,
        "l_tax": rng.randint(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    # strictly increasing event times over 30 days, microsecond precision
    span_us = 30 * 86400 * 10**6
    offs = np.cumsum(rng.randint(1, 2 * span_us // n_ev, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(offs, unit="us")).values,
        "user_id": rng.randint(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.randint(10, 100)))
             for _ in range(n_doc)]
    # one document in twenty is a near-duplicate: another text plus a marker
    for i in np.sort(rng.choice(n_doc, n_doc // 20, replace=False)):
        texts[i] = texts[rng.randint(0, n_doc)] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.randint(0, 10, n_emb).astype(np.int32)})
    return t


def generate(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf).items():
        t = pa.Table.from_pandas(df, preserve_index=False)
        # the column types of the repository's fixtures: microsecond
        # timestamps, float lists
        t = t.cast(pa.schema([
            pa.field(f.name, pa.timestamp("us") if pa.types.is_timestamp(f.type)
                     else pa.list_(pa.float32()) if f.name == "embedding" else f.type)
            for f in t.schema]))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
