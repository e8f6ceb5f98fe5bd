"""Seeded input generation for the benchmark.

Everything the engine reads is written here, as single-file parquet
tables with the same names, columns and dtypes as the engine's
TPC-H-style test tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings). Generation uses NumPy
only, so it needs no Spark session and is a pure function of its
arguments.

The tables and the sssp sources are drawn from one fixed table seed, as
the engine's own test tables are, so every run reads the same data.
``--seed`` picks what varies between runs: the order of the calls.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()


def _days(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _ts_days(days: np.ndarray) -> pa.Array:
    """Day offsets -> timestamp[us] (midnight), the test tables' dtype."""
    us = days.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TPC-H ratios; the
    text tables keep a floor so tiny scales still have near-duplicates)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 100),
        "orders": max(int(1_500_000 * sf), 500),
        "lineitem": max(int(6_000_000 * sf), 2_000),
        "events": max(int(1_000_000 * sf), 1_000),
        "documents": max(int(50_000 * sf), 400),
        "embeddings": max(int(20_000 * sf), 400),
    }


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> dict[str, int]:
    """Write every engine table at scale ``sf`` into ``out_dir``.
    Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    rows = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nk = np.arange(25)
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    })

    nc = n["customer"]
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    np_ = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(np_)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), np_)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, np_)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })

    no = n["orders"]
    odate = rng.integers(_days(1995, 1, 1), _days(2001, 8, 2), no)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts_days(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lpk = rng.integers(0, np_, nl)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * (900.0 + (lpk % 1000) / 10.0) * rng.uniform(0.02, 2.33, nl), 2
        ),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_days(odate[lok] + rng.integers(1, 122, nl)),
    })

    ne = n["events"]
    t0 = np.int64(_days(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.gamma(2.0, 50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    rows["documents"] = _write(out_dir, "documents", _documents(rng, n["documents"]))

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return rows


def _documents(rng: np.random.Generator, nd: int) -> dict:
    """Bag-of-words documents; one in twenty copies an earlier document
    plus the marker word ``dup``, so the dedup queries find pairs."""
    texts = []
    for i in range(nd):
        if i >= 20 and i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def lineitem_sources(sf: float, k: int, seed: int = TABLE_SEED) -> list[int]:
    """``k`` distinct sssp sources for the lineitem graph (src =
    l_suppkey): every supplier key occurs as an edge source at these
    sizes, so the pick is uniform over supplier keys."""
    ns = table_sizes(sf)["supplier"]
    rng = np.random.default_rng([seed, 1])
    return sorted(int(x) for x in rng.choice(ns, size=k, replace=False))


def shuffled(names: list[str], seed: int) -> list[str]:
    """The workload's call order for this seed."""
    rng = np.random.default_rng([seed, 4])
    return [names[i] for i in rng.permutation(len(names))]
