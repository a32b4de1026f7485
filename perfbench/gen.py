"""Seeded input generator for the benchmark.

Writes the ten tables graft's queries read (a TPC-H-like star schema,
an `events` log, a `documents` corpus and an `embeddings` table) as one
parquet file each. Row counts scale with `sf`: 0.1 gives about 17 MB,
0.02 about 3.5 MB. Every column is drawn from numpy's PCG64 seeded with
`seed`, and rows are written in a seeded permutation, so the same seed
gives byte-identical files and another seed gives other values in
another row order.

The documents corpus plants the structure the dedup operators look for:
a few exact-duplicate pairs, and near-duplicate pairs where one text is
the other plus a trailing " dup" token.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(base, seconds):
    """Microsecond timestamps `base + seconds` as a pyarrow array."""
    us = np.asarray(np.round(np.asarray(seconds) * 1e6), dtype=np.int64)
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch + us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[at:at + ln]]))
        at += ln
    # planted duplicates over distinct doc pairs: ~5% near-dup pairs
    # (text + " dup"), ~0.16% exact pairs
    n_near, n_exact = max(1, n // 20), max(1, n // 600)
    ids = rng.permutation(n)[:2 * (n_near + n_exact)].reshape(-1, 2)
    for a, b in ids[:n_near]:
        texts[b] = texts[a] + " dup"
    for a, b in ids[n_near:]:
        texts[b] = texts[a]
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    vecs = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(x.reshape(-1), type=pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": vecs,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def tables(seed, sf):
    """All ten tables as pyarrow Tables, in their seeded row order."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    pick = lambda values, n: np.array(values)[rng.integers(0, len(values), n)]
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(
                pick(["blue", "old", "small", "new", "large", "hot", "cold", "red"], n_part), " "),
                pick(["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"], n_part)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                               rng.integers(0, 2404, n_ord) * 86400),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                              rng.integers(0, 2498, n_line) * 86400)}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(dt.datetime(2024, 1, 1),
                      np.sort(rng.uniform(0, 30 * 86400, n_ev))),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return {name: t.take(rng.permutation(t.num_rows)) for name, t in out.items()}


def generate(out_dir, seed, sf):
    """Write every table to `<out_dir>/<name>.parquet`; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
