"""Seeded input tables shaped like the engine's sf0.1 star schema.

Every table the benchmark's registry entries read is written as one
parquet file with the same column names and types as the standard
sf0.1 test data, so the registry entries and their DuckDB oracles run
unchanged. That includes the physical type of the date columns
(`o_orderdate`, `l_shipdate`): INT64 TIMESTAMP(MICROS), not adjusted to
UTC, as the standard sf0.1 files store them, so `load_table` reads both
the same way (a native timestamp; its nanos-as-long branch runs on
neither). Contents are a pure function of the seed (NumPy PCG64), so
the same seed always yields the same bytes.

Row counts are about a quarter of sf0.1 (2,000 documents, 2,000
embeddings of dim 64, 40,000 orders, 160,000 line items), so that one
run fits the benchmark's time budget on a 4-core machine; the hybrid
corpus (documents joined with embeddings) keeps sf0.1's 2,000 rows. The
text corpus uses the 31-word vocabulary and 10-100 word lengths of the
standard data; 3% of documents are near-copies of another document (one
word changed), so the near-duplicate entries find real clusters.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
N_DOCS = 2_000
N_EMB = 2_000
EMB_DIM = 64
N_LABELS = 10
N_CUSTOMER = 5_000
N_SUPPLIER = 500
N_PART = 5_000
N_ORDERS = 40_000
N_LINEITEM = 160_000
NEAR_DUP_SHARE = 0.03

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EPOCH_1995 = int(datetime(1995, 1, 1).timestamp() * 1e6)
_DAY_US = 86_400 * 1_000_000


def _write(out_dir: str, name: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def corpus_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), size=k)]) for k in lens]
    # near-copies: distinct originals from the first half, copies in the
    # second, so every seed yields the same number of two-document clusters
    n_dup = int(n * NEAR_DUP_SHARE)
    originals = rng.choice(np.arange(n // 2), size=n_dup, replace=False)
    copies = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
    for o, c in zip(originals, copies):
        src = texts[int(o)].split()
        src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[int(c)] = " ".join(src)
    return texts


def unit_vectors(rng: np.random.Generator, n: int, dim: int = EMB_DIM) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def write_documents(rng: np.random.Generator, out_dir: str) -> None:
    texts = corpus_texts(rng, N_DOCS)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = unit_vectors(rng, N_EMB)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, N_EMB), pa.int32()),
    })


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(rng: np.random.Generator, out_dir: str) -> None:
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": pa.array([_SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array([part_names[i] for i in rng.integers(0, len(part_names), N_PART)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array([_PART_TYPES[i] for i in rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINEITEM)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, N_LINEITEM)]),
        "l_shipdate": _ts(rng.integers(1, 2499, N_LINEITEM)),
    })


def generate(seed: int, out_dir: str, star_schema: bool) -> None:
    """Write the seeded tables under `out_dir` (documents and embeddings
    always; the TPC-H-style tables when `star_schema`)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_documents(rng, out_dir)
    if star_schema:
        write_star_schema(rng, out_dir)
