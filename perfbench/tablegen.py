"""Seeded synthetic analytics tables (the schemas of ``tables.TABLES``).

The seed draws the values; the shape is fixed (row counts, lines per
order, which documents are near duplicates, label sizes), so the work a
query does, such as the rounds of a fixed-point closure, does not depend
on the seed.

A star schema (region, nation, customer, supplier, part, orders, lineitem),
an ``events`` stream, a ``documents`` text corpus with planted near
duplicates, and unit-norm 64-d ``embeddings`` clustered by label. Sizes are
half the repository's sf0.01 test tier; ``documents`` has a fifth of the
rows and shorter texts, because every run checks its results against the
DuckDB oracles and the near-duplicate closure oracle re-tokenizes a text
once per shingle. Every table is a single parquet file, with timestamps
as TIMESTAMP(MICROS) without a zone, the layout ``tables.load_table``
normalises.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = (["small", "red", "blue", "hot", "old", "big", "cold", "new"],
              ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"])
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
             "window order data column join small line customer query big stream sort "
             "filter group").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

SIZES = {"customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
         "events": 5000, "documents": 100, "embeddings": 250}


def _ts(days: np.ndarray, base: str) -> pa.Array:
    micros = (np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]"))
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir/<table>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, dict] = {}
    n = SIZES

    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    }
    t["part"] = {
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
    }
    n_orders = n["orders"]
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    t["orders"] = {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(order_days, "1995-01-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    }
    lines_per_order = 1 + (np.arange(n_orders) * 3) % 7
    l_order = np.repeat(np.arange(n_orders), lines_per_order)
    n_lines = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    t["lineitem"] = {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_lines), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _ts(order_days[l_order] + rng.integers(1, 122, n_lines), "1995-01-01"),
    }
    n_ev = n["events"]
    ev_micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_micros.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }
    texts: list[str] = []
    for i in range(n["documents"]):
        if i % 6 == 5:  # near duplicate of the doc before: clusters of two
            words = texts[i - 1].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(8, 40)))))
    t["documents"] = {
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"]),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    }
    labels = np.arange(n["embeddings"]) % 10
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = {
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    counts = {}
    for name, cols in t.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
