"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so the same seed always yields the same inputs.  The
program under test only ever sees the generated frames and files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GROUPS = [f"g{i:02d}" for i in range(24)]
REGIONS = ["north", "south", "east", "west", "central"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector index shard cache plan node task"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def people_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """A small user-style frame: int, float and string columns."""
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "id": ids,
            "grp": rng.choice(GROUPS, n),
            "name": [f"user_{i}_{c}" for i, c in zip(ids, rng.integers(0, 1000, n))],
            "age": rng.integers(18, 90, n).astype(np.int64),
            "score": np.round(rng.random(n) * 100.0, 3),
        }
    )


def groups_frame(rng: np.random.Generator) -> pd.DataFrame:
    """Dimension frame keyed by ``grp`` for the two-frame join."""
    return pd.DataFrame(
        {
            "grp": GROUPS,
            "region": rng.choice(REGIONS, len(GROUPS)),
            "weight": rng.integers(1, 10, len(GROUPS)).astype(np.int64),
        }
    )


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def tpch_tables(rng: np.random.Generator, sf: float, out_dir: str) -> dict[str, str]:
    """TPC-H-shaped star schema at scale factor ``sf`` as one parquet
    file per table (lineitem has ``6e6 * sf`` rows).  Returns
    ``{table: path}``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    base = np.datetime64("1992-01-01", "us")
    day_us = np.int64(86_400_000_000)
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.array([f"NATION{i:02d}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": np.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        },
        "supplier": {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": np.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_name": np.array([f"part {i}" for i in range(1, n_part + 1)]),
            "p_brand": np.array([f"Brand#{b}" for b in rng.integers(11, 56, n_part)]),
            "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n_part), 2),
        },
        "orders": {
            "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n_ord), 2),
            "o_orderdate": base + rng.integers(0, 2400, n_ord) * day_us,
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": np.sort(rng.integers(1, n_ord + 1, n_li)).astype(np.int64),
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": base + rng.integers(0, 2500, n_li) * day_us,
    }
    paths = {}
    for name, cols in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(cols, paths[name])
    return paths


def documents_table(rng: np.random.Generator, n_docs: int, out_dir: str) -> str:
    """Word-soup documents with planted near-duplicates (about one doc
    in eight copies an earlier one with a single word replaced), the
    shape the dedup, BM25 and vocabulary operators expect."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(20, 90))))
        texts.append(" ".join(words))
    path = os.path.join(out_dir, "documents.parquet")
    _write(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": np.array(texts),
            "lang": rng.choice(LANGS, n_docs),
            "source": np.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        path,
    )
    return path
