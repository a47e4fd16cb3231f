"""Seeded inputs for the lake-search benchmark.

Everything the engine sees is generated here from one integer seed:

- ``write_lake``: the ten lake tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``), one parquet file each,
  with the column names and types the Danae search path reads;
- ``search_requests`` / ``keyword_requests``: the request pools of the
  serving mix;
- ``write_table_version``: a new version of one table whose signature
  columns (doubles and timestamps) move, for the self-test's stale-answer
  check.

The same seed gives byte-identical inputs; row counts scale with ``sf``
(sf=0.01 gives 60,000 lineitem rows).
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _region(rng: np.random.Generator, sf: float) -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(names),
        }
    )


def _nation(rng: np.random.Generator, sf: float) -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": pa.array(keys),
            "n_name": pa.array([f"NATION_{i}" for i in keys]),
            "n_regionkey": pa.array((keys % 5).astype(np.int32)),
        }
    )


def _customer(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(10, int(150_000 * sf))
    keys = np.arange(n, dtype=np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{i:09d}" for i in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n))),
            "c_mktsegment": pa.array(segs[rng.integers(0, len(segs), n)]),
        }
    )


def _supplier(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(10, int(10_000 * sf))
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "s_suppkey": pa.array(keys),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in keys]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n))),
        }
    )


def _part(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(10, int(200_000 * sf))
    keys = np.arange(n, dtype=np.int64)
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green", "shiny"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "), noun[rng.integers(0, 8, n)])
    return pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": pa.array(types[rng.integers(0, len(types), n)]),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
        }
    )


def _orders(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(10, int(1_500_000 * sf))
    n_cust = max(10, int(150_000 * sf))
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    days = rng.integers(0, 2404, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
            "o_orderstatus": pa.array(status[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, n))),
            "o_orderdate": pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)]),
        }
    )


def _lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(10, int(6_000_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(0, 2500, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, max(10, int(200_000 * sf)), n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(10, int(10_000 * sf)), n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(qty * rng.uniform(900.0, 2100.0, n))),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us")),
        }
    )


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(10, int(1_000_000 * sf))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n).astype(np.int64)),
            "event_type": pa.array(kinds[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(10, int(50_000 * sf))
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), m)]) for m in lengths]
    langs = np.array(["de", "en", "es", "fr", "zh"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, 5, n)]),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(10, int(50_000 * sf))
    vecs = rng.normal(size=(n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


_GENERATORS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def table_path(lake_dir: str, name: str) -> str:
    return os.path.join(lake_dir, f"{name}.parquet")


def _table_rng(seed: int, name: str, version: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(name), version])


def write_lake(lake_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every lake table; returns row counts per table."""
    os.makedirs(lake_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        t = _GENERATORS[name](_table_rng(seed, name), sf)
        pq.write_table(t, table_path(lake_dir, name))
        rows[name] = t.num_rows
    return rows


def write_table_version(path: str, name: str, seed: int, version: int, sf: float) -> None:
    """A new version of one table: regenerated rows, every double column
    scaled by 2-5x and every timestamp shifted by 200-900 days, so the
    table's quantile signatures (and its kNN neighbours) move."""
    rng = _table_rng(seed, name, version)
    t = _GENERATORS[name](rng, sf)
    factor = float(rng.uniform(2.0, 5.0))
    shift = np.int64(rng.integers(200, 900)) * _DAY_US
    cols = []
    for field, col in zip(t.schema, t.columns):
        arr = col.to_numpy()
        if pa.types.is_floating(field.type):
            col = pa.array(np.round(arr * factor, 2))
        elif pa.types.is_timestamp(field.type):
            col = pa.array(arr + shift, field.type)
        cols.append(col)
    pq.write_table(pa.table(cols, names=t.column_names), path)


def search_requests(seed: int, n: int = 8) -> list[dict]:
    """Per-dataset combined searches with varied parameters."""
    r = random.Random(f"search-{seed}")
    out = []
    for _ in range(n):
        w_c = r.choice((0.3, 0.4, 0.5, 0.6, 0.7, 0.8))
        req = {
            "dataset": r.choice(TABLES),
            "k": r.choice((1, 2, 3, 5)),
            "w_content": w_c,
            "w_metadata": r.choice((0.2, 0.4, round(1.0 - w_c, 2))),
            "type_weights": None,
        }
        if r.random() < 0.5:
            req["type_weights"] = {
                t: r.choice((0.5, 1.0, 1.5, 2.0))
                for t in ("Numeric", "Temporal", "Categorical", "Spatial")
            }
        out.append(req)
    return out


def keyword_requests(seed: int, n: int = 8) -> list[dict]:
    """1-4 term keyword queries drawn from the documents vocabulary."""
    r = random.Random(f"keyword-{seed}")
    return [
        {"query": " ".join(r.sample(VOCAB, r.randint(1, 4))), "k": r.choice((5, 10, 20))}
        for _ in range(n)
    ]
