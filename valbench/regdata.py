"""Seeded stand-in for the registry's test tables (``registry_ops`` input).

The ``__spark_entry__`` queries read one parquet file per table from a
scale-factor directory. This writes the nine tables the benchmarked
queries read, with the same column names and types, from a seed and a
scale factor (``sf=1`` ~ 6M lineitem rows, as in TPC-H). Keys are
referentially complete, so every join finds its partner; documents and
embeddings are random enough that only the duplicates the queries plant
themselves are near-duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["small", "large", "red", "blue", "steel", "brass", "ring", "widget", "bolt", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]
LANGS = ["en", "zh", "es", "de", "fr"]
VOCAB = [f"w{i}" for i in range(4000)]
EMB_DIM = 64


def _days(rng, n):
    base = np.datetime64("1995-01-01", "us")
    return base + rng.integers(0, 7 * 365, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs, n_emb = max(100, int(20_000 * sf)), max(100, int(20_000 * sf))
    i32 = pa.int32()
    t = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999, 9999),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999, 9999),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_WORDS[a]} {PART_WORDS[b]}"
                for a, b in rng.integers(0, len(PART_WORDS), (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 56, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 5, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": _money(rng, n_part, 900, 2000),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 100000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li),
        }),
    }
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
        for n in rng.integers(10, 100, n_docs)
    ]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables(seed, sf).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
