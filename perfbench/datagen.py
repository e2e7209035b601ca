"""Seeded synthetic inputs for the benchmark.

Writes the ten tables graft's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as
parquet files with the schemas and value domains the repo's FIXTURES.md
documents. Everything derives from one numpy generator seeded with the
benchmark seed, so the same seed always gives byte-identical tables.

The star schema and events follow the uniform laws of the test data.
The document corpus and embeddings follow the generative model of the
fixture corpus (FIXTURES.md "documents"/"embeddings"), as measured on
its sf0.1 tables (5 000 documents, 2 000 embeddings); `corpus` lists
each property and its measured value.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture corpus's 30 filler words; "dup" (the 31st word of its
# vocabulary) only ever ends a near-duplicate.
JARGON = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
          "customer", "group", "value", "hash", "batch", "sort", "data", "big",
          "filter", "key", "agg", "scan", "slow", "table", "part", "a",
          "merge", "window", "order", "column", "join", "vector"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05
MAX_EMBEDDINGS = 2000

# Table sizes per scale. `star` scales the TPC-H-like tables and events
# the way the test data does (sf0.01 = 60 000 lineitems); `docs` is the
# corpus size (embeddings cover the first min(docs, 2 000) doc ids).
SCALES = {
    "analytics": {"star": 0.01, "docs": 500},
    "curation": {"star": 0.001, "docs": 2000},
    "ingest": {"star": 0.001, "docs": 1000},
    "tiny": {"star": 0.001, "docs": 300},
}


def _ts_us(start, n_days, rng, n):
    """Midnight timestamps, uniform over `n_days` days from `start`."""
    days = rng.integers(0, n_days + 1, n)
    base = np.datetime64(start, "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))


def star_tables(out, sf, rng):
    n_cust = max(int(150_000 * sf), 20)
    n_part = max(int(200_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "HOUSEHOLD", "FURNITURE",
                                    "BUILDING", "AUTOMOBILE"], n_cust)},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    colors = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(colors, n_part),
                                               rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts),
                   ("o_orderpriority", s)]))
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 100000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts_us("1995-01-02", 2498, rng, n_li)},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    # Events: distinct µs timestamps over 30 days, so (user_id, ts) pairs
    # never repeat (the as-of join and window tie-breaks rely on it).
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.choice(span_us, n_ev, replace=False))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.clip(np.round(rng.exponential(50.0, n_ev), 2), 0.01, 490.02),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))


def corpus(out, n_docs, rng):
    """Documents and embeddings with the fixture corpus's properties
    (measured at sf0.1, 5 000 documents):

    - a document is 10-99 tokens (uniform; 54 on average), each drawn
      uniformly from the 30 filler words;
    - 5% of the documents (250 of 5 000) are near-duplicates: the text
      of another, uniformly chosen document plus a trailing " dup".
      Chains happen (4 of 250 end in "dup dup"), and two near-duplicates
      of one source are exact duplicates (8 pairs, 4 992 distinct texts);
    - lang is drawn per document, near-duplicates too: en 41%, the other
      four 14-15% each;
    - source is src<doc_id mod 20>;
    - embeddings are i.i.d. Gaussian, unit-normalized 64-d float32
      vectors with uniform labels 0-9, for the first min(n_docs, 2 000)
      doc ids (500 of 500 at sf0.01, 2 000 of 5 000 at sf0.1). They carry
      no planted structure: the largest cosine between two of them is
      about 0.5.
    """
    vocab = np.array(JARGON)
    texts = [" ".join(rng.choice(vocab, int(rng.integers(10, 100)))) for _ in range(n_docs)]
    for i in rng.choice(n_docs, int(round(NEAR_DUP_SHARE * n_docs)), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                   ("source", pa.string()), ("n_chars", pa.int64())]))
    n_emb = min(n_docs, MAX_EMBEDDINGS)
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)},
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))


def generate(out, scale, seed):
    """Writes the tables for `scale` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = SCALES[scale]
    star_tables(out, sizes["star"], rng)
    corpus(out, sizes["docs"], rng)
