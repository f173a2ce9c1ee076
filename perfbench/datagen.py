"""Seeded synthetic inputs with the schema of the engine's parquet fixtures.

The benchmark must build its inputs from ``--seed`` inside its own
checkout, so it cannot read the shared fixture directories. This module
writes the ten tables ``dtle_spark.tableio.TABLES`` names, with the same
column names and types and similar value distributions: money columns
are exact 2-decimal doubles (the registry's oracles rely on that),
``(l_orderkey, l_linenumber)`` is not unique, order keys are dense from
0 (``cdc_demo`` derives the change stream from ``o_orderkey`` residues)
and about 5% of the documents are near-duplicates of an earlier one.

Row counts are fixed per scale, so every seed gives the same amount of
work; only the values move. Pure numpy + pyarrow: no Spark session.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Scale:
    orders: int
    lineitem: int
    customer: int
    supplier: int
    part: int
    events: int
    users: int
    documents: int
    embeddings: int


def scale_of(sf: float) -> Scale:
    """TPC-H-style counts; the side tables keep the fixtures' sf0.01 sizes
    as a floor so the text/vector queries always have work."""
    return Scale(
        orders=int(1_500_000 * sf),
        lineitem=int(6_000_000 * sf),
        customer=max(150, int(150_000 * sf)),
        supplier=max(20, int(10_000 * sf)),
        part=max(200, int(200_000 * sf)),
        events=max(1_000, int(1_000_000 * sf)),
        users=max(50, int(15_000 * sf)),
        documents=500,
        embeddings=500,
    )


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # integer cents divided once: exactly the 2-decimal doubles the
    # registry's integer-cents oracles assume
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def generate(out_dir: str, seed: int, sf: float) -> Scale:
    """Write every table as ``<out_dir>/<name>.parquet``; same seed, same bytes."""
    sc = scale_of(sf)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(sc.customer), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(sc.customer)]),
        "c_nationkey": pa.array(rng.integers(0, 25, sc.customer), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, sc.customer),
        "c_mktsegment": _pick(rng, SEGMENTS, sc.customer),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(sc.supplier), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(sc.supplier)]),
        "s_nationkey": pa.array(rng.integers(0, 25, sc.supplier), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, sc.supplier),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), sc.part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), sc.part)]
    pk = np.arange(sc.part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, sc.part)]),
        "p_type": _pick(rng, PART_TYPES, sc.part),
        "p_size": pa.array(rng.integers(1, 51, sc.part), i32),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
    })
    order_day = rng.integers(0, 2404, sc.orders)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(sc.orders), i64),
        "o_custkey": pa.array(rng.integers(0, sc.customer, sc.orders), i64),
        "o_orderstatus": _pick(rng, STATUSES, sc.orders),
        "o_totalprice": _money(rng, 1000.0, 499_999.99, sc.orders),
        "o_orderdate": _ts(_EPOCH_1995, order_day * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, sc.orders),
    })
    l_order = np.sort(rng.integers(0, sc.orders, sc.lineitem))
    ship_day = order_day[l_order] + rng.integers(1, 122, sc.lineitem)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, sc.part, sc.lineitem), i64),
        "l_suppkey": pa.array(rng.integers(0, sc.supplier, sc.lineitem), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, sc.lineitem), i32),
        "l_quantity": rng.integers(1, 51, sc.lineitem).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104_999.99, sc.lineitem),
        "l_discount": rng.integers(0, 11, sc.lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, sc.lineitem) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], sc.lineitem),
        "l_linestatus": _pick(rng, ["F", "O"], sc.lineitem),
        "l_shipdate": _ts(_EPOCH_1995, ship_day * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, sc.events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(sc.events), i64),
        "ts": _ts(_EPOCH_2024, ev_ts),
        "user_id": pa.array(rng.integers(0, sc.users, sc.events), i64),
        "event_type": _pick(rng, EVENT_TYPES, sc.events),
        "value": _money(rng, 0.01, 490.02, sc.events),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, sc.events)]),
    })
    tables["documents"] = _documents(rng, sc.documents)
    tables["embeddings"] = _embeddings(rng, sc.embeddings)

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return sc


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, marked like the fixtures'
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + 0.8 * rng.normal(size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
