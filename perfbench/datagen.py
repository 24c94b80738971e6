"""Deterministic synthetic input tables for the benchmark.

The tables follow the TPC-H-ish star schema that
``akka_graph_db_spark.sources.tpch.graph_from_tpch`` reads (region, nation,
customer, supplier, part, orders, lineitem) plus the ``documents`` and
``embeddings`` tables the LLM-pipeline functions read. Column names and
parquet types match what the graph derivation and the entry oracles expect.

The data depends only on ``DATA_SEED`` and the row counts below, never on
the workload seed: every run of every workload reads the same graph, so
the per-run seed only changes which keys and mutations a workload issues.
The sizes are those of the project's sf0.01 scale (18,630 nodes), small
enough that a run's set-up can be repeated several times in a run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240601
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDER = 15_000
MEAN_LINES_PER_ORDER = 4.4
N_DOCUMENT = 500
N_EMBEDDING = 500
EMBEDDING_DIM = 64

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "red", "small", "hot", "cold", "old", "new")
PART_NOUN = ("bolt", "gear", "ring", "rod", "plate", "anvil", "widget")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "zh")

_EPOCH = dt.datetime(1995, 1, 1)


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    offs = rng.integers(0, span_days, n)
    return pa.array(
        [_EPOCH + dt.timedelta(days=int(d)) for d in offs], pa.timestamp("us")
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables() -> dict[str, pa.Table]:
    """Every input table, as pyarrow tables; same output on every call."""
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 7, N_PART), rng.integers(0, 7, N_PART))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDER), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDER), pa.int64()),
        "o_orderstatus": [ORDER_STATUS[i] for i in rng.integers(0, 3, N_ORDER)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDER),
        "o_orderdate": _days(rng, N_ORDER, 2400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDER)],
    })
    # 1..12 lines per order, binomial around the mean (the sf0.01 shape)
    lines = np.clip(rng.binomial(12, MEAN_LINES_PER_ORDER / 12, N_ORDER), 1, 12)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDER), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, 2500),
    })
    texts = []
    for i in range(N_DOCUMENT):
        if i % 10 == 9:
            # planted near-duplicate: the previous document plus a marker
            texts.append(texts[-1] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCUMENT), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCUMENT)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENT)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 1.0, (N_EMBEDDING, EMBEDDING_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_EMBEDDING), pa.int64()),
        "embedding": pa.array(
            [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDING), pa.int32()),
    })
    return t


def write_tables(out_dir: str) -> None:
    """Write ``<table>.parquet`` for every table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
