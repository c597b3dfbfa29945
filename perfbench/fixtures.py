"""Seeded fixture generator for the benchmark.

Writes the ten tables the engine's catalog reads (``<name>.parquet``
under one directory) with the schemas and value domains of the engine's
test fixtures: a TPC-H-like star schema, an ``events`` table that stands
in for the sensor stream, and ``documents`` / ``embeddings`` for the
text and vector queries. Everything is drawn from one
``numpy.random.Generator`` seeded by the caller, so one seed always
gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL", "ECONOMY")
ADJ = ("small", "large", "hot", "cold", "blue", "red", "old", "new")
NOUN = ("rod", "bolt", "plate", "gear", "gizmo", "anvil", "widget", "ring")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated data set."""

    events: int
    devices: int
    days: int
    customers: int
    orders: int
    lineitems: int
    parts: int
    suppliers: int
    documents: int
    embeddings: int


SCALES = {
    # the benchmark's inputs: 7 day-files of ~3.3k events, like the
    # reference's 100 events/s stream batched per replayed day
    "bench": Scale(23_100, 1_500, 7, 1_500, 15_000, 60_000, 2_000, 100, 120, 500),
    # the smoke mode run by the benchmark's own tests
    "smoke": Scale(1_000, 15, 4, 150, 1_500, 6_000, 200, 10, 60, 200),
}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    texts = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.02:
            # near duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out_dir: str, seed: int, scale: Scale) -> str:
    """Write every fixture table for ``seed`` at ``scale`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = scale

    # events: evenly spread over ``days`` days in event_id order
    span = s.days * DAY_US
    offs = np.sort(rng.integers(0, span, s.events))
    _write(out_dir, "events", {
        "event_id": np.arange(s.events, dtype=np.int64),
        "ts": pa.array(EPOCH_2024_US + offs, pa.timestamp("us")),
        "user_id": rng.integers(0, s.devices, s.events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=s.events),
        "value": np.round(rng.exponential(50.0, s.events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    })

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": rng.choice(SEGMENTS, size=s.customers),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(s.parts, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, size=s.parts), rng.choice(NOUN, size=s.parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": rng.choice(PART_TYPES, size=s.parts),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) * 0.1, 2),
    })
    day_ms = 86_400_000
    o_start = 788_918_400_000  # 1995-01-01
    o_days = rng.integers(0, 2404, s.orders)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
        "o_orderstatus": rng.choice(("O", "F", "P"), size=s.orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": pa.array(o_start + o_days * day_ms, pa.timestamp("ms")),
        "o_orderpriority": rng.choice(PRIORITIES, size=s.orders),
    })
    l_order = rng.integers(0, s.orders, s.lineitems).astype(np.int64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, s.parts, s.lineitems).astype(np.int64),
        "l_suppkey": rng.integers(0, s.suppliers, s.lineitems).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, s.lineitems), pa.int32()),
        "l_quantity": rng.integers(1, 51, s.lineitems).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, s.lineitems),
        "l_discount": np.round(rng.integers(0, 11, s.lineitems) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, s.lineitems) * 0.01, 2),
        "l_returnflag": rng.choice(("R", "N", "A"), size=s.lineitems),
        "l_linestatus": rng.choice(("O", "F"), size=s.lineitems),
        "l_shipdate": pa.array(
            o_start + (o_days[l_order] + rng.integers(1, 122, s.lineitems)) * day_ms,
            pa.timestamp("ms"),
        ),
    })

    _write(out_dir, "documents", _documents(rng, s.documents))
    emb = rng.normal(0.0, 1.0, (s.embeddings, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
    })
    return out_dir
