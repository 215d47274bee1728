"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine's lanes and the demo project
read (``region nation customer supplier part orders lineitem events
documents embeddings``) with the schemas of the engine's test data.
Row counts follow the scale factor ``sf`` (lineitem = 6,000,000 * sf);
values come from one ``numpy`` PCG64 stream per table, so the same
``(seed, sf)`` always yields byte-identical files.
"""

from __future__ import annotations

import datetime
import os

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

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "steel"]
_PART_NOUN = ["bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH = datetime.datetime(1995, 1, 1)
_EVENTS_START = datetime.datetime(2024, 1, 1)


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, TABLES.index(table)]))


def _ts(base: datetime.datetime, micros: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = _rng(seed, "part")
    adj = np.array(_PART_ADJ)[r.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[r.integers(0, len(_PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + r.integers(0, 1000, n_part) / 10.0,
        }
    )

    r = _rng(seed, "orders")
    day_us = 86_400 * 1_000_000
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH, r.integers(0, 2400, n_ord) * day_us),
            "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )

    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _ts(_EPOCH, r.integers(1, 2500, n_line) * day_us),
        }
    )

    r = _rng(seed, "events")
    month_us = 30 * day_us
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": _ts(_EVENTS_START, np.sort(r.integers(0, month_us, n_evt))),
            "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_evt)],
            "value": _money(r, 0.01, 500.0, n_evt),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
        }
    )

    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and r.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            n_words = int(r.integers(10, 100))
            words = np.array(_WORDS)[r.integers(0, len(_WORDS), n_words)]
            texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[r.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r = _rng(seed, "embeddings")
    centroids = r.normal(0.0, 1.0, (10, 64))
    labels = r.integers(0, 10, n_vecs)
    vecs = centroids[labels] + r.normal(0.0, 0.8, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(
                [row for row in vecs.astype(np.float32)], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table to ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
