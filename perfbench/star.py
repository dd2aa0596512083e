"""Seeded star-schema corpus for the registry queries.

Writes the ten tables the ``plans`` registry reads (``region`` …
``embeddings``, one parquet file each) with the column names, types
and value domains of the engine's synthetic test corpus, scaled by a
TPC-H-style scale factor: ``sf=0.1`` gives 600k lineitem rows. Only a
``numpy`` generator seeded from ``seed`` feeds the values, so one seed
gives identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "es", "fr", "de", "zh")
WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
EMBED_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "users": max(150, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
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
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), npart)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), npart)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, len(P_TYPES), npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)),
    })
    no = n["orders"]
    order_days = rng.integers(0, 2404, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": pa.array(_EPOCH_1995 + order_days.astype("timedelta64[D]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    lines = np.clip(rng.poisson(4.0, no), 1, 7)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(order_days, lines) + rng.integers(1, 122, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_EPOCH_1995 + ship.astype("timedelta64[D]")),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], ne, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    # Components are multiples of 1/64 (norm about 1), so every dot
    # product is exact in float32 as in double: the DuckDB oracle's
    # float32 list_dot_product and the engine's double arithmetic then
    # round each cosine to the same 4 decimals.
    vec = (np.clip(np.round(rng.standard_normal((nv, EMBED_DIM)) * 8.0), -64, 64) / 64.0).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    })
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Word-salad documents; every 20th is a near-copy of an earlier
    one with one word swapped and a ``dup`` marker, so the dedup and
    similarity miners find pairs."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and i % 20 == 0:
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = str(words[int(rng.integers(0, len(words)))])
            texts.append(" ".join(base) + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), nd)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the corpus under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in build(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
