"""Seeded generator for the query tables the declared plans read.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names,
types and value ranges of the engine's testdata star schema, at the
size of its smallest scale: 150 customers, 1500 orders, ~6000 line
items, 1000 events, 500 documents, 500 embeddings. The same seed always
gives identical tables; only values change between seeds, never sizes
(apart from the line items per order), so timings of different seeds
stay comparable.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
P_ADJ = ("blue", "green", "large", "red", "small", "steel", "tiny", "white")
P_NOUN = ("anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _ts(days_since_1995: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    us = base + days_since_1995.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_ev = 150, 10, 200, 1500, 1000
    n_doc = n_emb = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                               rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    odays = rng.integers(0, 2400, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odays),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n_li)),
    })
    # events: one stream over 30 days, strictly increasing timestamps
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    ev_us = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word strings; 5% near-duplicates of an earlier
    # document (a few words replaced, " dup" appended) so the dedup and
    # clustering plans find real pairs, plus a few exact copies
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words) + " dup")
        elif i > 10 and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(VOCAB, n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int) -> int:
    """Write every table under ``out_dir``; returns total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
