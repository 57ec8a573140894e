"""Seeded synthetic fixture: the ten tables the registered queries read.

Same schemas and value shapes as the reference fixture the queries are
written against (TPC-H-like tables plus events, documents and embeddings);
the seed changes the values, the scale factor the row counts. Documents and
embeddings have fixed sizes, as in the reference fixture. The benchmark owns
its generator so that its inputs never change with the program under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "cold", "hot", "large", "new", "old", "red", "small"],
              ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "fr", "es", "zh", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400_000_000


def generate(out: str, seed: int, sf: float) -> str:
    """Write the fixture under ``out``; returns ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_li, n_evt = max(1, int(6_000_000 * sf)), max(1, int(1_000_000 * sf))
    n_users, n_doc, n_vec = max(2, int(15_000 * sf)), 500, 500

    def pick(values, n):
        return np.array(values)[rng.integers(0, len(values), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ints(lo, hi, n, typ=pa.int64()):
        return pa.array(rng.integers(lo, hi, n), typ)

    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    span_days = (np.datetime64("2001-08-02", "us").astype(np.int64) - d0) // DAY_US

    def days(n, extra=0):
        return pa.array(d0 + rng.integers(0, span_days + extra, n) * DAY_US,
                        pa.timestamp("us"))

    e0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    texts = [" ".join(pick(VOCAB, m)) for m in rng.integers(10, 100, n_doc)]
    centroids = rng.standard_normal((10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.standard_normal((n_vec, 64)) + 1.2 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {"c_custkey": pa.array(range(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": ints(0, 25, n_cust, pa.int32()),
                     "c_acctbal": money(-1000, 10000, n_cust),
                     "c_mktsegment": pick(SEGMENTS, n_cust)},
        "supplier": {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": ints(0, 25, n_supp, pa.int32()),
                     "s_acctbal": money(-1000, 10000, n_supp)},
        "part": {"p_partkey": pa.array(range(n_part), pa.int64()),
                 "p_name": [f"{a} {b}" for a, b in zip(pick(PART_WORDS[0], n_part),
                                                       pick(PART_WORDS[1], n_part))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": pick(PART_TYPES, n_part),
                 "p_size": ints(1, 51, n_part, pa.int32()),
                 "p_retailprice": np.round(900 + np.arange(n_part) / 10, 1)},
        "orders": {"o_orderkey": pa.array(range(n_ord), pa.int64()),
                   "o_custkey": ints(0, n_cust, n_ord),
                   "o_orderstatus": pick(["O", "F", "P"], n_ord),
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": days(n_ord),
                   "o_orderpriority": pick(PRIORITIES, n_ord)},
        "lineitem": {"l_orderkey": ints(0, n_ord, n_li),
                     "l_partkey": ints(0, n_part, n_li),
                     "l_suppkey": ints(0, n_supp, n_li),
                     "l_linenumber": ints(1, 8, n_li, pa.int32()),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": money(1000, 100000, n_li),
                     "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
                     "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
                     "l_returnflag": pick(["N", "R", "A"], n_li),
                     "l_linestatus": pick(["F", "O"], n_li),
                     "l_shipdate": days(n_li, 95)},
        "events": {"event_id": pa.array(range(n_evt), pa.int64()),
                   "ts": pa.array(np.sort(e0 + rng.integers(0, 30 * DAY_US, n_evt)),
                                  pa.timestamp("us")),
                   "user_id": ints(0, n_users, n_evt),
                   "event_type": pick(EVENT_TYPES, n_evt),
                   "value": np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]},
        "documents": {"doc_id": pa.array(range(n_doc), pa.int64()),
                      "text": texts,
                      "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
                      "source": [f"src{i % 20}" for i in range(n_doc)],
                      "n_chars": pa.array([len(t) for t in texts], pa.int64())},
        "embeddings": {"vec_id": pa.array(range(n_vec), pa.int64()),
                       "embedding": pa.array(list(vecs.astype(np.float32)),
                                             pa.list_(pa.float32())),
                       "label": pa.array(labels, pa.int32())},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
    return out
