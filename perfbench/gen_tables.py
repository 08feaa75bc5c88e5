"""Seeded generator for the engine's ten batch tables.

Writes one parquet file per table (``<name>.parquet``) with the schema
and value distributions of the engine's synthetic star schema
(FIXTURES.md F5/F6): uniform TPC-H-ish relational tables, an ``events``
stream table with ``{"k": n}`` JSON props, a 30-word-vocabulary
``documents`` corpus in which 5% of documents are an earlier document
plus the token ``dup``, and unit-norm 64-dim float32 ``embeddings``.

Row counts scale with ``sf`` the way the fixture does (lineitem
6,000,000 x sf; documents and embeddings never below 500). The same
``(seed, sf)`` always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: np.datetime64, n_days: int, n: int) -> pa.Array:
    ts = start + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts: list[str] = []
    for i, end in enumerate(ends):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[end - lengths[i] : end]))
    n_sources = 20
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % n_sources}" for i in rng.permutation(n)], pa.string()),
            "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _region(rng, sizes):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })


def _nation(rng, sizes):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })


def _customer(rng, sizes):
    n = sizes["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })


def _supplier(rng, sizes):
    n = sizes["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def _part(rng, sizes):
    n = sizes["part"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _pick(rng, PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })


def _orders(rng, sizes):
    n = sizes["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, sizes["customer"], n).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _lineitem(rng, sizes):
    n = sizes["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, sizes["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, sizes["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, sizes["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, np.datetime64("1995-01-02", "us"), 2498, n),
    })


def _events(rng, sizes):
    n = sizes["events"]
    # strictly increasing event time over 30 days: sorted distinct
    # microsecond offsets, so event_id order == ts order
    offsets = np.sort(rng.choice(30 * _DAY_US, n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, sizes["customer"] // 10), n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer, "supplier": _supplier,
    "part": _part, "orders": _orders, "lineitem": _lineitem, "events": _events,
    "documents": lambda rng, sizes: _documents(rng, sizes["documents"]),
    "embeddings": lambda rng, sizes: _embeddings(rng, sizes["embeddings"]),
}


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The tables as in-memory Arrow tables. Each table has its own child
    RNG, so its content does not depend on the other tables' sizes."""
    sizes = table_sizes(sf)
    rngs = dict(zip(_BUILDERS, np.random.default_rng(seed).spawn(len(_BUILDERS))))
    return {name: build(rngs[name], sizes) for name, build in _BUILDERS.items()}


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns the
    row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=65536)
        counts[name] = table.num_rows
    return counts
