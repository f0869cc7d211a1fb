"""Seeded fixture tables for the query mix.

The same ten-table shape the engine's registered queries read (TPC-H-ish
star schema plus ``documents`` and ``embeddings``), generated at a
fraction ``sf`` of the row counts of scale factor 1.  Only the tables
the mix reads are written.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_WORDS = ("anvil blue bolt cold gear gizmo hot large new old plate red "
              "ring rod small widget").split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EPOCH = np.datetime64("1995-01-01", "ms")


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _days(rng, n, span_days):
    return EPOCH + rng.integers(0, span_days, size=n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng, n: int) -> list[str]:
    """Texts over the fixture's 30-word vocabulary; about one in twenty
    is a near-duplicate of an earlier one."""
    docs: list[str] = []
    for _ in range(n):
        if docs and rng.random() < 0.05:
            # near-duplicate of an earlier document
            toks = docs[int(rng.integers(len(docs)))].split()
            toks[int(rng.integers(len(toks)))] = "dup"
            docs.append(" ".join(toks))
            continue
        k = int(rng.integers(10, 101))
        docs.append(" ".join(DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), k)))
    return docs


def write_tables(root: str, seed: int, sf: float) -> int:
    """Write the mix's tables under ``root``; returns bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    # documents at a quarter of the fixture's density: the DuckDB oracle
    # of the near-duplicate queries costs ~30 ms per document and runs
    # in every benchmark run
    n_ord, n_doc, n_emb = int(1_500_000 * sf), int(12_500 * sf), int(20_000 * sf)

    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(root, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(root, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pw = rng.integers(0, len(PART_WORDS), size=(n_part, 2))
    _write(root, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in pw],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(root, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, 2404), pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    per_order = np.clip(rng.poisson(4, n_ord), 1, 7)
    okey = np.repeat(np.arange(n_ord), per_order)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(root, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1,
            pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, 2500), pa.timestamp("ms")),
    })
    docs = _documents(rng, n_doc)
    _write(root, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": docs,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    emb = rng.normal(0, 0.1, size=(n_emb, 64)).astype(np.float32)
    _write(root, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return sum(os.path.getsize(os.path.join(root, f)) for f in os.listdir(root))
