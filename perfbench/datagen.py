"""Seeded input generation for the benchmark.

The benchmark owns its inputs: nothing is read from fixtures outside the
checkout.  ``write_tables`` writes a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings`` as one parquet file per
table.  The table *content* comes from a fixed content seed, so the
expected results pinned in ``expected.json`` hold for every run; the run
``--seed`` permutes the row order of every file.  A correct engine gives
order-independent results, so the pinned checks also assert that.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

# table sizes (rows); the shape of the repository's sf0.01 fixture
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
VEC_DIM = 64

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(CONTENT_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    adjectives = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    nouns = ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype="int64"),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), type=pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.05, 2),
    })
    o_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _ts(_EPOCH_1995 + o_days * _US_PER_DAY),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
        ),
    })
    l_order = rng.integers(0, N_ORDERS, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, N_LINEITEM), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _ts(
            _EPOCH_1995 + (o_days[l_order] + rng.integers(1, 122, N_LINEITEM)) * _US_PER_DAY
        ),
    })
    # events: 30 days, distinct microsecond timestamps so every ordering
    # by (ts, event_id) is total
    ev_us = np.sort(rng.choice(30 * _US_PER_DAY, N_EVENTS, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        # full-precision values: no average or sum of them lands exactly on
        # a rounding boundary, so results do not depend on summation order
        "value": rng.exponential(50.0, N_EVENTS) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    t["documents"] = _documents(rng)
    vecs = rng.normal(0, 0.1, (N_VECS, VEC_DIM)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), type=pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator) -> pa.Table:
    """Random-word documents with planted near-duplicates (one word
    changed) and paragraphs shared across documents, so the dedup
    operators find real work."""
    shared = [" ".join(rng.choice(WORDS, rng.integers(6, 14))) for _ in range(20)]
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 40 and i % 25 == 0:
            words = texts[i - 37].split(" ")
            words[len(words) // 2] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
            continue
        paras = [" ".join(rng.choice(WORDS, rng.integers(10, 40)))
                 for _ in range(rng.integers(1, 4))]
        if i % 7 == 0:
            paras.insert(int(rng.integers(0, len(paras) + 1)), shared[int(rng.integers(0, 20))])
        texts.append("\n\n".join(paras))
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def write_tables(out_dir: str, seed: int) -> dict[str, str]:
    """Write every table as ``<out_dir>/<name>.parquet`` with its rows in
    a seed-dependent order; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    paths = {}
    for name, table in _tables().items():
        order = perm_rng.permutation(table.num_rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table.take(pa.array(order)), path)
        paths[name] = path
    return paths

