"""Seeded fixture tables for the registry workloads.

The registry queries read ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``). The benchmark must
run from a bare checkout, so it writes its own copies, drawn from the
run's seed with the same schemas, physical types and value
distributions as the shipped fixtures (see FIXTURES.md): uniform keys,
two-decimal prices, a 30-word ASCII vocabulary with 5 % near-duplicate
documents, and unit-norm 64-d embeddings.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


@dataclass(frozen=True)
class Scale:
    """Row counts; ``Scale.sf(0.01)`` matches the sf0.01 fixture."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    users: int
    documents: int
    embeddings: int

    @staticmethod
    def sf(sf: float, documents: int = 500, embeddings: int = 500) -> "Scale":
        return Scale(
            customers=int(150_000 * sf),
            suppliers=int(10_000 * sf),
            parts=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            lineitems=int(6_000_000 * sf),
            events=int(1_000_000 * sf),
            users=max(15, int(15_000 * sf)),
            documents=documents,
            embeddings=embeddings,
        )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n)).astype("datetime64[D]").astype("datetime64[us]")


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for d in range(n):
        if d > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{d % 20}" for d in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1))
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def make_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = scale
    i32, i64 = np.int32, np.int64
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(s.customers, dtype=i64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(s.customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.customers)),
        "c_mktsegment": _pick(rng, SEGMENTS, s.customers),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s.suppliers, dtype=i64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s.suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.suppliers)),
    })
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(s.parts, dtype=i64)),
        "p_name": _pick(rng, names, s.parts),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, s.parts)]),
        "p_type": _pick(rng, PART_TYPES, s.parts),
        "p_size": pa.array(rng.integers(1, 51, s.parts).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(s.parts) % 1000) * 0.1, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, s.customers, s.orders).astype(i64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], s.orders),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, s.orders)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", s.orders)),
        "o_orderpriority": _pick(rng, PRIORITIES, s.orders),
    })
    n = s.lineitems
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, n).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, s.parts, n).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, n).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n)),
    })
    n = s.events
    gaps = rng.exponential(30 * 86400 / n, n)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=i64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, s.users, n).astype(i64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    t["documents"] = _documents(rng, s.documents)
    t["embeddings"] = _embeddings(rng, s.embeddings)
    return t


def write_tables(out_dir: str, seed: int, scale: Scale) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return out_dir
