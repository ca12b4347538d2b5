"""Seeded input generator for the benchmark.

Writes the ten fixture tables (the schemas in FIXTURES.md: a TPC-H-like
star, an ``events`` stream, ``documents`` and ``embeddings``) as one
single-row-group parquet file each, the layout the package's fixtures
have.  Types, value ranges, category sets and row counts follow the
fixture tables (``test_perfbench.py`` compares them with a fixture
directory when one is named): uniform keys, Poisson(4) lines per order,
2-decimal money, microsecond timestamps, 5% near-duplicate documents
(an earlier text plus `` dup``; two of them copying the same text make
the only exact copies), unit-norm 64-d embeddings.  The same seed gives
byte-identical inputs; only numpy and pyarrow are used, so generation
needs no Spark session.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Row counts at scale 1.0 (the sf0.1 fixture sizes).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
# Smallest sizes: the fixtures keep 500 documents and embeddings below sf0.1.
MIN_ROWS = {"documents": 500, "embeddings": 500}

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def write(out_dir: str, name: str, cols) -> tuple[int, int]:
    """Write a table (or column dict) as ``name.parquet``; (rows, bytes)."""
    table = cols if isinstance(cols, pa.Table) else pa.table(cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return table.num_rows, os.path.getsize(path)


def orders(rng, n: int, n_cust: int, first_key: int = 0) -> dict:
    """Column dict for ``orders`` with keys ``first_key ..``."""
    return {
        "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n) * _DAY_US),
        "o_orderpriority": pick(rng, PRIORITIES, n),
    }


def lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> dict:
    """Column dict for ``lineitem``; every ``l_orderkey`` references one
    of ``n_orders`` orders, so joins stay intact at any size."""
    return {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n) * _DAY_US),
    }


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]) for k in lens]
    # 5% near-duplicates (an earlier text plus a marker token): the
    # structure the dedup and corpus tiers find.
    for i in rng.choice(np.arange(n // 10, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def write_fixtures(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, tuple[int, int]]:
    """Write all ten tables under ``out_dir``; returns name -> (rows, bytes).

    ``scale`` multiplies the sf0.1 row counts (1.0 = sf0.1, 0.01 =
    sf0.001); region and nation keep their fixed sizes, and no table
    drops below its ``MIN_ROWS`` (10 by default)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(MIN_ROWS.get(k, 10), round(v * scale)) for k, v in BASE_ROWS.items()}
    out = {}
    out["region"] = write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc = n["customer"]
    out["customer"] = write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = write(out_dir, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pick(rng, P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 2)),
    })
    out["orders"] = write(out_dir, "orders", orders(rng, n["orders"], nc))
    out["lineitem"] = write(
        out_dir, "lineitem", lineitem(rng, n["lineitem"], n["orders"], npart, ns))
    ne = n["events"]
    ts = np.sort(rng.integers(
        np.datetime64("2024-01-01", "us").astype(np.int64),
        np.datetime64("2024-01-31", "us").astype(np.int64), ne,
    ))
    out["events"] = write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, round(1500 * scale)), ne, dtype=np.int64)),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    out["documents"] = write(out_dir, "documents", _documents(rng, n["documents"]))
    out["embeddings"] = write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    return out
