"""Inputs and the independent output check of the engine_queries workload.

generate() writes a seeded star-schema catalog (the ten tables every
`SparkEntry.registry` query reads) as one Parquet file per table. Column
names, types and value domains follow the engine's own test tables; row
counts are those of its scale factor 0.01. Everything is a pure function of
the seed.

check() runs each query's DuckDB oracle SQL (exported by the JVM run next
to the program's result of that query) over the same tables, and compares
row count, column names and every value at full precision, as the engine's
correctness gate does. It returns one message per mismatch.
"""
import glob
import json
import math
import os
import random
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ADJ = ["blue", "hot", "large", "small", "red", "cold", "green", "shiny"]
NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
DIM = 64


def _write(out, name, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), os.path.join(out, f"{name}.parquet"))


def generate(out, seed):
    os.makedirs(out, exist_ok=True)
    r = random.Random(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line = 15000, 60000
    n_evt, n_user = 10000, 150
    n_doc, n_vec = 500, 500
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", [list(range(5)), REGIONS],
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", [list(range(25)), [f"NATION_{i}" for i in range(25)],
                           [i % 5 for i in range(25)]],
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    def money(lo, hi):
        return round(r.uniform(lo, hi), 2)

    _write(out, "customer", [
        list(range(n_cust)), [f"Customer#{i:09d}" for i in range(n_cust)],
        [r.randrange(25) for _ in range(n_cust)],
        [money(-999.99, 9999.99) for _ in range(n_cust)],
        [r.choice(SEGMENTS) for _ in range(n_cust)]],
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", [
        list(range(n_supp)), [f"Supplier#{i:09d}" for i in range(n_supp)],
        [r.randrange(25) for _ in range(n_supp)],
        [money(-999.99, 9999.99) for _ in range(n_supp)]],
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    _write(out, "part", [
        list(range(n_part)), [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(n_part)],
        [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)],
        [r.choice(TYPES) for _ in range(n_part)],
        [r.randint(1, 50) for _ in range(n_part)],
        [round(900 + (i % 1000) / 10, 2) for i in range(n_part)]],
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))

    day0 = datetime(1995, 1, 1)
    _write(out, "orders", [
        list(range(n_ord)), [r.randrange(n_cust) for _ in range(n_ord)],
        [r.choice("FOP") for _ in range(n_ord)],
        [money(1000, 500000) for _ in range(n_ord)],
        [day0 + timedelta(days=r.randrange(2404)) for _ in range(n_ord)],
        [r.choice(PRIORITIES) for _ in range(n_ord)]],
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    qty = [float(r.randint(1, 50)) for _ in range(n_line)]
    _write(out, "lineitem", [
        [r.randrange(n_ord) for _ in range(n_line)],
        [r.randrange(n_part) for _ in range(n_line)],
        [r.randrange(n_supp) for _ in range(n_line)],
        [r.randint(1, 7) for _ in range(n_line)],
        qty, [round(q * r.uniform(900, 2100), 2) for q in qty],
        [r.randint(0, 10) / 100 for _ in range(n_line)],
        [r.randint(0, 8) / 100 for _ in range(n_line)],
        [r.choice("ANR") for _ in range(n_line)],
        [r.choice("FO") for _ in range(n_line)],
        [day0 + timedelta(days=1 + r.randrange(2500)) for _ in range(n_line)]],
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))

    t0 = datetime(2024, 1, 1)
    _write(out, "events", [
        list(range(n_evt)),
        [t0 + timedelta(microseconds=r.randrange(30 * 86400 * 10**6)) for _ in range(n_evt)],
        [r.randrange(n_user) for _ in range(n_evt)],
        [r.choice(EVENT_TYPES) for _ in range(n_evt)],
        [max(0.01, round(r.expovariate(1 / 50), 2)) for _ in range(n_evt)],
        [f'{{"k": {r.randrange(100)}}}' for _ in range(n_evt)]],
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))

    # one document in twenty is a near copy (one word changed) of an
    # earlier one, so the dedup queries have clusters to find
    texts = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.05:
            w = texts[r.randrange(i)].split(" ")
            w[r.randrange(len(w))] = r.choice(WORDS)
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(10, 99))))
    _write(out, "documents", [
        list(range(n_doc)), texts, [r.choice(LANGS) for _ in range(n_doc)],
        [f"src{r.randrange(20)}" for _ in range(n_doc)], [len(t) for t in texts]],
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))

    # unit vectors around ten label centroids
    g = np.random.default_rng(seed)
    centroids = g.normal(size=(10, DIM))
    labels = g.integers(0, 10, size=n_vec)
    vecs = centroids[labels] + 1.5 * g.normal(size=(n_vec, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", [
        list(range(n_vec)), [v.tolist() for v in vecs], labels.astype(np.int32).tolist()],
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def _rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_norm(row[i]) for i in order) for row in rows]


def check(tables, results):
    """Compares every result under `results` (one Parquet directory per
    query, plus oracle.json) with DuckDB running the query's oracle SQL."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(results, "oracle.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
        if not files:
            bad.append(f"{name}: no result")
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
        gcols = [d[0] for d in con.description]
        try:
            want = con.execute(sql).fetchall()
        except duckdb.Error as e:
            bad.append(f"{name}: oracle error {e}")
            continue
        wcols = [d[0] for d in con.description]
        if sorted(gcols) != sorted(wcols):
            bad.append(f"{name}: columns {sorted(gcols)} != oracle {sorted(wcols)}")
        elif len(got) != len(want):
            bad.append(f"{name}: {len(got)} rows != oracle {len(want)}")
        else:
            g, w = _rows(got, gcols), _rows(want, wcols)
            diff = [i for i in range(len(g)) if g[i] != w[i]]
            if diff:
                bad.append(f"{name}: {len(diff)} rows differ; first {g[diff[0]]} != {w[diff[0]]}")
    con.close()
    return bad
