"""Seeded generator for the TPC-H-ish fixture the program reads.

Writes one parquet file per table (``region`` .. ``embeddings``) with the
schemas and value domains of the fixture the registry's queries are
written against: uniform keys, a 30-word document vocabulary with ~5%
near-duplicate documents, unit-norm 64-d embeddings and a 30-day
``events`` stream ordered by timestamp. The same ``(seed, scale)`` always
produces byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at scale factor ``scale`` (sf0.1 = 600k
    lineitem rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(20, int(200_000 * scale)),
        "orders": max(100, int(1_500_000 * scale)),
        "lineitem": max(400, int(6_000_000 * scale)),
        "events": max(200, int(1_000_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )

    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )

    np_ = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(np_, dtype="int64"),
            "p_name": names[rng.integers(0, len(names), np_)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": rng.choice(PART_TYPES, np_),
            "p_size": rng.integers(1, 51, np_).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )

    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no, dtype="int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts_us(_EPOCH_1995 + rng.integers(0, 2404, no)),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )

    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl, dtype="int64"),
            "l_partkey": rng.integers(0, np_, nl, dtype="int64"),
            "l_suppkey": rng.integers(0, ns, nl, dtype="int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts_us(_EPOCH_1995 + 1 + rng.integers(0, 2498, nl)),
        }
    )

    ne = n["events"]
    ts = np.sort(
        _EPOCH_2024 * _DAY_US + rng.integers(0, 30 * _DAY_US, ne, dtype="int64")
    )
    tables["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(15_000 * scale)), ne, dtype="int64"),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (two picks of the
            # same base give an exact duplicate pair)
            base = texts[int(rng.integers(0, i))].removesuffix(" dup")
            texts.append(base + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )

    nv = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (nv, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype("int32"),
        }
    )

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}
