"""Fixed-seed generator of the catalog workload's substrate, and the expected
outputs of its nine queries.

The tables the nine queries read follow the harness schemas of FIXTURES.md
section 5 (a TPC-H-like star plus `documents` and `embeddings`) at the
shapes of the 0.01 scale factor: 15,000 orders, about 60,000 line items, 500 documents over a small
technical vocabulary, 500 64-dimensional embeddings around ten labelled
centroids. The substrate does not depend on the workload seed; the seed only
orders the queries.

The expected row count and fingerprint of every query were recorded from
graft at the commit that introduced this benchmark, after graft's output on
this substrate matched the catalog's DuckDB oracle (`SparkEntry.oracleSql`)
for each of them.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
# Most of their time builds the frame in eager jobs (first five) or runs the
# final action (last four); between them every operator family: Graph,
# Retrieval, Bpe, TextClassify, Dedup, Itemsets, ProductQuant, EntityMatch.
QUERIES = ("q_mst", "q_modularity", "q_rm3_rescore", "q_bpe_merges", "q_nb_eval",
           "q_dedup_prefix", "q_assoc_rules", "q_knn_pq", "q_entity_match")
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_expected.json")

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold", "new", "tiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "spring", "valve",
             "panel", "hinge"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
         "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value",
         "key", "stream", "window", "a", "spark", "part", "group", "big", "sort", "query",
         "fast", "the"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13])
EPOCH = dt.datetime(1995, 1, 1)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part, n_ord, n_doc, n_emb = 1500, 100, 2000, 15000, 500, 500
    t = {}
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    days = rng.integers(0, (dt.datetime(2001, 8, 1) - EPOCH).days + 1, n_ord)
    orderdate = np.datetime64(EPOCH, "us") + days.astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = np.minimum(rng.poisson(3.1, n_ord) + 1, 13)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = orderdate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    li = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    t["lineitem"] = li.take(rng.permutation(n_li))
    texts = []
    for _ in range(n_doc):
        words = list(rng.choice(WORDS, int(rng.integers(8, 90))))
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS[0], n_doc, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centroids = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = (centroids[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(d):
    """Write the substrate as one parquet file per table under `d`."""
    os.makedirs(d)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))


def expected():
    """query -> {"rows", "fingerprint"} recorded for this substrate."""
    with open(EXPECTED) as f:
        return json.load(f)
