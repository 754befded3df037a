"""Seeded star-schema tables for the catalog queries of the ``lake_read`` mix.

The relational catalog (``plans.relational``) reads parquet tables by name
from one directory: region, nation, customer, orders, lineitem, events,
documents and embeddings, with the columns the queries use.  This module
writes such a directory from a seed with numpy, so the benchmark never
reads data from outside its checkout.  ``scale`` = 1.0 gives 15,000
customers and 600,000 line items, the shape of the usual sf0.1 tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(rng, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days * 86_400_000_000, n, dtype=np.int64)
    return base + offs.astype("timedelta64[us]")


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(15_000 * scale), 50)
    n_ord = n_cust * 10
    n_li = n_ord * 4
    n_ev = max(int(100_000 * scale), 200)
    n_doc = max(int(5_000 * scale), 50)
    n_emb = max(int(2_000 * scale), 20)

    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    # two thirds of customers place orders, so the anti join is non-empty
    buyers = rng.integers(1, n_cust * 2 // 3 + 1, n_ord)
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": buyers.astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(rng, "1995-01-01", 2400, n_ord).astype(
            "datetime64[D]").astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(1, n_ord + 1, n_li).astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, "1995-01-02", 2500, n_li).astype(
            "datetime64[D]").astype("datetime64[us]"),
    })
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(rng, "2024-01-01", 30, n_ev),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.0, 100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(8, 60, n_doc)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + n]))
        pos += n
    # every 20th document repeats an earlier one: exact-dedup groups exist
    for i in range(20, n_doc, 20):
        texts[i] = texts[i - 20]
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 0.15, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
