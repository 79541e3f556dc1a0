"""Seeded generator for the benchmark's input tables.

Writes the same ten parquet tables, with the same column names and types,
that ``Graph.from_tpch`` and the ``__spark_entry__`` pipeline entries read:
region, nation, customer, supplier, part, orders, lineitem, documents,
embeddings and events.  The same seed always gives the same bytes of data,
so two commits measured with one seed see identical inputs.

The corpus is built so that every entry the benchmark checks has a
non-trivial answer: some documents are exact copies of earlier ones and
some are near copies (one word changed), the events span a month, and
part names are two words from the vocabulary the fulltext requests use.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes.  Orders per customer (10) and lines per order (1-7) follow
# TPC-H; the absolute size is set by the benchmark's time budget.
SIZES = {
    "customer": 3_000,
    "orders": 30_000,
    "part": 4_000,
    "supplier": 200,
    "documents": 800,
    "embeddings": 500,
    "events": 20_000,
    "users": 300,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["ring", "gear", "bolt", "plate", "anvil", "rod", "widget",
             "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    """Cent-exact prices, like TPC-H's decimal(15,2) columns."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start, n_days: int, n: int):
    return start + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict, schema: dict) -> None:
    table = pa.table({k: pa.array(v, type=schema[k]) for k, v in
                      cols.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int) -> None:
    """Write every table for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region",
           {"r_regionkey": np.arange(5), "r_name": REGIONS},
           {"r_regionkey": i32, "r_name": s})
    _write(out_dir, "nation",
           {"n_nationkey": np.arange(25),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": np.arange(25) % 5},
           {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})

    n_c = SIZES["customer"]
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_c),
            "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(SEGMENTS, n_c)},
           {"c_custkey": i64, "c_name": s, "c_nationkey": i32,
            "c_acctbal": f64, "c_mktsegment": s})

    n_s = SIZES["supplier"]
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_s),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s)},
           {"s_suppkey": i64, "s_name": s, "s_nationkey": i32,
            "s_acctbal": f64})

    n_p = SIZES["part"]
    price = np.round(900 + (np.arange(n_p) % 1000) / 10, 2)
    _write(out_dir, "part",
           {"p_partkey": np.arange(n_p),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n_p), rng.choice(PART_NOUN, n_p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(PART_TYPES, n_p),
            "p_size": rng.integers(1, 51, n_p),
            "p_retailprice": price},
           {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
            "p_size": i32, "p_retailprice": f64})

    n_o = SIZES["orders"]
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_o),
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000, 500_000, n_o),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n_o),
            "o_orderpriority": rng.choice(PRIORITIES, n_o)},
           {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
            "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s})

    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    orderkey = np.repeat(np.arange(n_o), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    partkey = rng.integers(0, n_p, n_l)
    qty = rng.integers(1, 51, n_l).astype(float)
    _write(out_dir, "lineitem",
           {"l_orderkey": orderkey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_s, n_l),
            "l_linenumber": np.arange(n_l) - starts + 1,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[partkey], 2),
            "l_discount": rng.integers(0, 11, n_l) / 100,
            "l_tax": rng.integers(0, 9, n_l) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _days(rng, _EPOCH_1995, 2500, n_l)},
           {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
            "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
            "l_discount": f64, "l_tax": f64, "l_returnflag": s,
            "l_linestatus": s, "l_shipdate": ts})

    _write_documents(out_dir, rng)

    n_e = SIZES["embeddings"]
    emb = rng.normal(0, 0.1, (n_e, 64)).astype(np.float32)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_e), "embedding": list(emb),
            "label": rng.integers(0, 10, n_e)},
           {"vec_id": i64, "embedding": pa.list_(pa.float32()),
            "label": i32})

    n_ev = SIZES["events"]
    ts_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(out_dir, "events",
           {"event_id": np.arange(n_ev),
            "ts": _EPOCH_2024 + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, SIZES["users"], n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s,
            "value": f64, "props": s})


def _write_documents(out_dir: str, rng: np.random.Generator) -> None:
    """Random word documents; 5% exact copies of an earlier document and
    5% one-word edits of an earlier original of at least 80 words, each
    original edited at most once.  Every near-duplicate pair then has a
    3-shingle Jaccard of ~0.93, so MinHash LSH finds it whatever hash
    family it uses, and the pipeline's answer does not depend on it."""
    n = SIZES["documents"]
    texts: list[str] = []
    bases: list[int] = []          # long originals not yet edited
    for i in range(n):
        roll = rng.random()
        if roll < 0.05 and i:
            texts.append(texts[int(rng.integers(0, i))])
        elif roll < 0.10 and bases:
            words = texts[bases.pop(int(rng.integers(0, len(bases))))] \
                .split()
            pos = int(rng.integers(0, len(words)))
            words[pos] = "dup"
            texts.append(" ".join(words))
        else:
            words = rng.choice(DOC_WORDS, int(rng.integers(10, 100)))
            if len(words) >= 80:
                bases.append(i)
            texts.append(" ".join(words))
    _write(out_dir, "documents",
           {"doc_id": np.arange(n), "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": [len(t) for t in texts]},
           {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
            "source": pa.string(), "n_chars": pa.int64()})
