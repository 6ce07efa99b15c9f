"""Seeded generator for the benchmark's input tables.

Writes the ten TPC-H-ish parquet tables the unifydb_spark fact view reads
(`region nation customer supplier part orders lineitem events documents
embeddings`) with the same column names, types and value domains as the
reference testdata, at the reference sf0.01 sizes. The same seed always
gives the same input; only numpy's seeded generator is used.

Value granularity follows the reference data on purpose: money and
discounts carry two decimals and quantities are whole numbers, so the
decimal-exact aggregates stay exact on both Spark and the DuckDB twin.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table: the reference sf0.01 sizes
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "embeddings": 500,
    "documents": 200,
}
EVENT_USERS = 150
EMBED_DIM = 64
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + seconds.astype("timedelta64[s]"), type=pa.timestamp("us"))


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under `out_dir`; returns table -> row count."""
    rng = np.random.default_rng(seed)

    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    nc = ROWS["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = ROWS["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = ROWS["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"part {k}" for k in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, npart),
    })

    no = ROWS["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no, p=[0.49, 0.49, 0.02]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2400, no) * 86400),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    lines_per_order = rng.integers(1, 8, no)
    nl = int(lines_per_order.sum())
    orderkey = np.repeat(np.arange(no), lines_per_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    linenumber = np.arange(nl) - np.repeat(starts, lines_per_order) + 1
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2500, nl) * 86400),
    })

    ne = ROWS["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * 86400, ne))),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne, p=[0.35, 0.1, 0.1, 0.05, 0.4]),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nv = ROWS["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(
            [row.tolist() for row in vecs.astype(np.float32)],
            pa.list_(pa.float32()),
        ),
        "label": pa.array(labels, pa.int32()),
    })

    nd = ROWS["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 80))))
        for _ in range(nd)
    ]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], nd),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
