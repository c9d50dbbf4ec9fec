"""Seeded generator for the ten fixture tables the registry reads.

The benchmark uses no data from outside its checkout, so it makes its
own inputs: the schemas, key ranges and value domains of the fixture
tables the registry and its DuckDB twins were written against
(FIXTURES.md), drawn from ``numpy.random.default_rng(seed)``. The same
(seed, sf) always gives the same tables.

Row counts follow the fixtures' scaling: the TPC-H-ish tables and
``events`` grow linearly with sf, the two LLM-pipeline tables have a
floor of 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.44, 0.13, 0.14, 0.15, 0.14)
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in µs since the epoch
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01
_DATE_DAYS = 2500  # orders and ship dates span 1995-01-01 .. 2001-11


def row_counts(sf: float) -> dict[str, int]:
    def lin(base: int) -> int:
        return max(1, int(round(base * sf)))

    return {
        "region": 5,
        "nation": 25,
        "customer": lin(150_000),
        "supplier": lin(10_000),
        "part": lin(200_000),
        "orders": lin(1_500_000),
        "lineitem": lin(6_000_000),
        "events": lin(1_000_000),
        "documents": max(500, lin(50_000)),
        "embeddings": max(500, lin(20_000)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary. One in twenty
    is a near-copy of an earlier document (a few words swapped, a
    ``dup`` marker appended), so the dedup and similarity builders find
    real candidate pairs."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(0, 3))):
                base[int(rng.integers(0, len(base)))] = str(rng.choice(words))
            texts.append(" ".join(base + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ten random centres, label = centre id."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    x = centres[labels] * 0.15 + rng.normal(0.0, 1.0, (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            offsets, pa.array(x.reshape(-1), type=pa.float32())),
        "label": pa.array(labels),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    adj = rng.choice(PART_ADJ, npart)
    noun = rng.choice(PART_NOUN, npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array((9000 + keys % 1000) / 10.0),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, _DATE_DAYS, no) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), nl)),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, _DATE_DAYS, nl) * _DAY_US),
    })
    ne = n["events"]
    # ~4.3 minutes between events on average, with µs jitter
    gaps = (rng.exponential(259.0, ne) * 1e6).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2).clip(0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def ensure(root: str, seed: int, sf: float) -> str:
    """Write the tables for (seed, sf) under ``root`` once and return
    their directory, named ``sf<sf>`` as the registry expects. A marker
    file keeps a half-written directory from being reused."""
    d = os.path.join(root, f"seed{seed}", f"sf{sf:g}")
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        for name, table in tables(seed, sf).items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        open(done, "w").close()
    return d
