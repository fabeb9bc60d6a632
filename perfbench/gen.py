"""Seeded input generator for the benchmark.

Writes the engine's ten tables (the TPC-H-like star schema, `events`,
`documents`, `embeddings`) as parquet under one directory, in the layout
`graft.sources.Tables` reads: `<dir>/<table>.parquet`, either one file or a
directory of part files.

The same (seed, scale) always gives byte-identical content. `order_seed`
only permutes row order and chooses how many part files a table is split
into, so content-keyed caches in the engine see new inputs while every
query result stays the same.
"""

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark sort window line small big order group join query data column "
         "filter stream customer vector").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
P_TYPES = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]
P_ADJ = ["small", "red", "blue", "green", "large", "shiny"]
P_NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring"]
DIM = 64


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def star_tables(seed, scale):
    """The star schema plus `events`, sized like the engine's sf fixtures:
    scale 0.01 gives 60k lineitem rows."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_li, n_ev = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_users = max(50, n_ev // 67)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    day_us = 86400 * 10**6
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day_us)})
    ts = np.sort(rng.choice(30 * day_us, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ts),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def corpus_tables(seed, n_docs, n_vecs):
    """Documents and embeddings. A fiftieth of the documents are exact
    copies of an earlier document and about a tenth are near copies (one
    word swapped) of an earlier document of at least 60 words, so the dedup
    operators have real duplicate structure. Near copies stay in the
    near-identical regime (shingle Jaccard about 0.9 and up) where the
    banded dedup kernels promise full recall; pairs near the 0.5 threshold
    are left out because the approximate kernels may miss them by design.
    Embeddings are ten labelled clusters with a share of near-duplicate
    vectors."""
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n_docs):
        r = rng.random()
        src = texts[int(rng.integers(0, i))] if i > 10 else ""
        if i > 10 and r < 0.02:
            texts.append(src)
        elif i > 10 and r < 0.2 and len(src.split()) >= 60:
            words = src.split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n))[:577])
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vecs, DIM))
    near = rng.random(n_vecs) < 0.05
    src = rng.integers(0, n_vecs, n_vecs)
    vecs[near] = vecs[src[near]] + rng.normal(0.0, 0.01, (int(near.sum()), DIM))
    labels[near] = labels[src[near]]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return {"documents": docs, "embeddings": emb}


def content_digest(tables):
    """SHA-256 over every table's rows in key order: identifies the content
    independent of row order and file split."""
    h = hashlib.sha256()
    for name in sorted(tables):
        tbl = tables[name]
        h.update(name.encode())
        h.update(repr(tbl.column_names).encode())
        for col in tbl.columns:
            h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()


def write(tables, out_dir, order_seed=None):
    """Write each table as `<out_dir>/<name>.parquet`. With `order_seed`,
    rows are shuffled and split into 1-4 part files under a directory."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    rng = np.random.default_rng([order_seed, 3]) if order_seed is not None else None
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if rng is None:
            pq.write_table(tbl, path)
            continue
        os.makedirs(path)
        shuffled = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        parts = int(rng.integers(1, 5))
        bounds = np.linspace(0, tbl.num_rows, parts + 1).astype(int)
        for p in range(parts):
            pq.write_table(shuffled.slice(bounds[p], bounds[p + 1] - bounds[p]),
                           os.path.join(path, f"part-{p:05d}.parquet"))
