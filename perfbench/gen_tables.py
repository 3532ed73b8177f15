"""Seeded generator of the TPC-H-ish star tables the registry reads.

The ``query_mix`` workload runs registered queries, which take a
directory of parquet tables. This writes those tables in the shape of
the read-only sf0.01 and sf0.1 test tables (TESTDATA.md), profiled
column by column:

- rows per sf1: customer 150k, supplier 10k, part 200k, orders 1.5M,
  lineitem 6M, events 1M over 15k users, documents 50k, embeddings 20k;
- keys, dates, categories and prices are uniform over the same domains
  (25 nations, 5 segments, orders 1995-01-01 to 2001-08, ship dates to
  2001-11, 64 part names, 25 brands, 6 types), so lineitems per order
  and events per user follow the same binomial shape;
- event values are exponential with mean 50, rounded to cents;
- documents draw 10-100 words from the same 31-word vocabulary (the
  marker word ``dup`` included); 5% are an earlier document plus
  ``dup``; languages are 42% en and the rest split evenly; 20 sources;
- embeddings are 64-dimension unit vectors with ten labels.

``scale`` counts rows relative to sf1, so ``scale=0.01`` writes the
sf0.01 sizes (60k lineitems).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64
N_LABELS = 10


def _ts(days: np.ndarray, start: dt.date) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table → row count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs = int(50_000 * scale)
    n_emb = int(20_000 * scale)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_cust) / 100.0),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n_supp) / 100.0),
    })
    names = np.array([f"{a} {n}" for a in P_ADJ for n in P_NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array((9000 + pk % 1000) / 10.0),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_ord) / 100.0),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), dt.date(1995, 1, 1)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n_li) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(rng.integers(1, 2499, n_li), dt.date(1995, 1, 1)),
    })
    # events: ascending timestamps over 30 days of January 2024
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(base + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # near duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_emb)
    vecs = rng.normal(0, 1, (n_emb, DIM)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_docs, "embeddings": n_emb,
    }
