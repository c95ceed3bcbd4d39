"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry queries read (``region`` ...
``embeddings``), one parquet file each, with the column names, types
and value distributions of the repository's synthetic test data, so
the program only ever sees generated inputs. The same ``(seed, sf)``
gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
_PTYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

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
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    retail = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype="int64"),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_ADJ, npart), rng.choice(_NOUN, npart), strict=True
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": rng.choice(_PTYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype("int32"),
            "p_retailprice": retail,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype="int64"),
            "o_custkey": rng.integers(0, nc, no).astype("int64"),
            "o_orderstatus": rng.choice(("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 5 * 365, no) * _DAY_US),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype("int64"),
            "l_partkey": partkey.astype("int64"),
            "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
            "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey], 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": rng.choice(("R", "A", "N"), nl),
            "l_linestatus": rng.choice(("O", "F"), nl),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 7 * 365, nl) * _DAY_US),
        }
    )
    ne = n["events"]
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype="int64"),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n["users"], ne).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype("int32"),
        }
    )
    return t


def _documents(rng, nd: int) -> pa.Table:
    """Random word texts plus exact copies and one-word edits of
    earlier documents, so the dedup and clustering queries find work."""
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.07:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    return pa.table(
        {
            "doc_id": np.arange(nd, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )


def write_tables(
    out_dir: str, seed: int, sf: float, names: tuple[str, ...] = TABLES
) -> dict[str, pa.Table]:
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf)
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return tables
