"""Seeded synthetic fixture tables for the benchmark.

Writes the ten tables the engine's queries read (``catalog.TABLE_SCHEMAS``),
one parquet file each: a TPC-H-like star schema, an ``events`` click
stream, ``documents`` (with ~5% near-duplicates that end in " dup") and
unit-norm 64-d ``embeddings`` clustered by label. The same ``(sf, seed)``
always writes the same values, and each table draws from its own seeded
stream, so a subset of the tables can be written alone.

Schemas, row counts, key domains and value ranges follow the engine's
seed-42 fixture family (``FIXTURES.md``), compared column by column at
sf0.01:

- ``documents`` and ``embeddings`` have a 500-row floor, as the fixtures
  do: both hold 500 rows at sf0.001 and at sf0.01, and 5,000 and 2,000 at
  sf0.1.
- ``events.ts`` is TIMESTAMP(MICROS), as in the fixtures at every scale,
  spread over the 30 days from 2024-01-01: a median gap of ~3 min at
  sf0.01 and ~26 s at sf0.1 (the fixtures: 181 s at sf0.01).
- ``events.value`` is exponential with mean 50 (fixtures: median 34.6,
  p90 113).
- ``lineitem`` has 1-7 lines per order, 4 on average, so its row count is
  within 1% of the fixtures', which have exactly four times as many
  lines as orders (e.g. 59,599 vs 60,000 at sf0.01).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def table_rows(sf: float) -> dict[str, int]:
    """Row count of each scaled table at ``sf`` (region/nation are fixed)."""
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 5),
        "part": max(int(200_000 * sf), 20),
        "orders": max(int(1_500_000 * sf), 100),
        "events": max(int(1_000_000 * sf), 100),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(n, rng_for) -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )


def _nation(n, rng_for) -> pa.Table:
    rng = rng_for("nation")
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )


def _customer(n, rng_for) -> pa.Table:
    nc = n["customer"]
    rng = rng_for("customer")
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )


def _supplier(n, rng_for) -> pa.Table:
    ns = n["supplier"]
    rng = rng_for("supplier")
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )


def _part(n, rng_for) -> pa.Table:
    npart = n["part"]
    rng = rng_for("part")
    keys = np.arange(npart)
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )


def _order_days(n, rng_for) -> tuple[np.random.Generator, np.ndarray]:
    rng = rng_for("orders")
    return rng, rng.integers(0, 2404, n["orders"])  # 1995-01-01 .. 2001-08-01


def _orders(n, rng_for) -> pa.Table:
    no = n["orders"]
    rng, order_days = _order_days(n, rng_for)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _EPOCH_1995 + order_days * _US_PER_DAY,
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )


def _lineitem(n, rng_for) -> pa.Table:
    no = n["orders"]
    _, order_days = _order_days(n, rng_for)
    rng = rng_for("lineitem")
    lines_per_order = rng.integers(1, 8, no)
    nl = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(no), lines_per_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_linenumber = np.arange(nl) - np.repeat(starts, lines_per_order) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship_days = np.repeat(order_days, lines_per_order) + rng.integers(1, 96, nl)
    return pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(l_linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _EPOCH_1995 + ship_days * _US_PER_DAY,
        }
    )


def _events(n, rng_for) -> pa.Table:
    ne = n["events"]
    users = max(n["customer"] // 10, 10)
    rng = rng_for("events")
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    return pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _EPOCH_2024 + ts,
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.clip(np.round(rng.exponential(50.0, ne), 2), 0.01, None),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )


def _documents(n, rng_for) -> pa.Table:
    nd = n["documents"]
    rng = rng_for("documents")
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(WORDS, int(rng.integers(8, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(n, rng_for) -> pa.Table:
    nv = n["embeddings"]
    rng = rng_for("embeddings")
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


_BUILDERS = {
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
TABLES = tuple(_BUILDERS)


def write_tables(out_dir: str, sf: float, seed: int, names=TABLES) -> None:
    """Write each table of ``names`` as ``<out_dir>/<name>.parquet``."""

    def rng_for(table: str) -> np.random.Generator:
        return np.random.default_rng([seed, TABLES.index(table)])

    n = table_rows(sf)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        table = _BUILDERS[name](n, rng_for)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
