"""Seeded TPC-H-shaped tables for the query pass of ``append_small``.

The same ten tables (and column types) the ``__spark_entry__`` queries
read — ``region nation customer supplier part orders lineitem events
documents embeddings`` — generated from ``seed`` with NumPy and written
as one parquet file each, so the benchmark never reads data from outside
its own checkout. ``scale`` plays the role of TPC-H's scale factor
(scale 0.01 ≈ 60k lineitem rows). A share of documents are near-copies
of earlier ones, so the near-dup queries have pairs to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
WORDS = np.array(
    "key agg row scan slow fast table value part hash a the line sort window "
    "merge batch spark join index shard log page cache query plan node edge "
    "graph stream event time state file block chunk token text data model "
    "train eval score rank sample split fold delta base commit read write".split(),
    dtype=object,
)
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(8, 80, size=n)
    out = []
    for i in range(n):
        if i >= 16 and rng.integers(0, 10) == 0:
            toks = out[i - int(rng.integers(1, 16))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(WORDS[rng.integers(0, len(WORDS))])
        else:
            toks = list(WORDS[rng.integers(0, len(WORDS), size=int(lens[i]))])
        out.append(" ".join(toks))
    return out


def build(path: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten tables under ``path``; returns their row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_ev = max(int(1_000_000 * scale), 500)
    n_doc = max(int(50_000 * scale), 100)
    n_emb = max(int(50_000 * scale), 100)
    n_user = max(int(15_000 * scale), 20)

    lines = rng.integers(1, 8, size=n_ord)
    li_order = np.repeat(np.arange(n_ord), lines)
    n_li = len(li_order)
    o_date = EPOCH_1995_US + rng.integers(0, 2400, size=n_ord) * DAY_US
    li_ship = o_date[li_order] + rng.integers(1, 122, size=n_li) * DAY_US
    docs = _docs(rng, n_doc)
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32) / 8

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": list(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
            )[rng.integers(0, 5, size=n_cust)]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    np.array(["small", "red", "large", "blue", "green", "tiny", "shiny", "plain"],
                             dtype=object)[rng.integers(0, 8, size=n_part)],
                    np.array(["ring", "widget", "bolt", "gear", "valve", "spring", "nut", "pipe"],
                             dtype=object)[rng.integers(0, 8, size=n_part)],
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
            "p_type": list(np.array(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], dtype=object
            )[rng.integers(0, 6, size=n_part)]),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": list(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, size=n_ord)]),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": list(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
            )[rng.integers(0, 5, size=n_ord)]),
        },
        "lineitem": {
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
            "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": list(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, size=n_li)]),
            "l_linestatus": list(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, size=n_li)]),
            "l_shipdate": _ts(li_ship),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, size=n_ev))),
            "user_id": pa.array(rng.integers(0, n_user, size=n_ev), pa.int64()),
            "event_type": list(np.array(
                ["click", "view", "purchase", "signup", "error"], dtype=object
            )[rng.integers(0, 5, size=n_ev)]),
            "value": np.round(rng.integers(1, 50_000, size=n_ev) / 100.0, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
        },
        "documents": {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": docs,
            "lang": list(np.array(["en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 5, size=n_doc)]),
            "source": [f"src{i}" for i in rng.integers(0, 20, size=n_doc)],
            "n_chars": pa.array([len(t) for t in docs], pa.int64()),
        },
        "embeddings": {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_emb), pa.int32()),
        },
    }
    os.makedirs(path, exist_ok=True)
    counts = {}
    for name in TABLES:
        t = pa.table(tables[name])
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
