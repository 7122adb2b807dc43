"""Seeded star-schema input generator.

Writes the tables the pipeline, the tabular unpivot and the DuckDB
oracles read (region, nation, customer, orders, lineitem, documents) as
parquet, with the column names, types and value domains of the
project's synthetic TPC-H-ish test data. The same (seed, scale) always
gives byte-identical tables; a different seed draws different keys,
balances, dates and texts at the same row counts, so the work per run is
the same size on every seed.

Row counts per unit of `scale` (scale 0.1 is about 155,000 pages):
customer 150,000; orders 1,500,000; lineitem 6,000,000; documents 50,000.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents")

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH_DAYS = 9131   # 1995-01-01
_ORDER_SPAN_DAYS = 2404    # .. 2001-08-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _timestamps(rng: np.random.Generator, n: int) -> pa.Array:
    days = _ORDER_EPOCH_DAYS + rng.integers(0, _ORDER_SPAN_DAYS, n)
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in range(n)], pa.string())


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = 4 * n_ord
    n_doc = max(int(50_000 * scale), 40)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _keyed_names("Customer#", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _timestamps(rng, n_ord),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _timestamps(rng, n_line),
    })
    n_words = rng.integers(10, 100, n_doc)
    word_idx = rng.integers(0, len(WORDS), int(n_words.sum()))
    texts, at = [], 0
    for n in n_words:
        texts.append(" ".join(WORDS[i] for i in word_idx[at:at + n]))
        at += n
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _choice(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem, "documents": documents,
    }


def write(out_dir: str, seed: int, scale: float) -> str:
    """Write the seeded tables as `<out_dir>/<table>.parquet`; returns
    out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
