"""Seeded generator for the registry workload's input tables.

Writes the ten testdata-shaped parquet tables (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) that the registered queries
read, with the same schemas and value domains as the project's testdata.
Row counts scale linearly with ``sf`` (lineitem = 6M * sf); the seed fixes
every value, so the same seed always gives the same bytes.

The generator is kept inside the benchmark rather than imported from the
project's tools, so a change to the program can never change the inputs
it is measured on.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
VOCAB = np.array((
    "batch part spark line column order small sort fast value scan hash "
    "slow query merge join group filter shuffle stage task row table "
    "index cache disk memory read write plan tree node leaf range key "
    "count sum large tiny quick lazy eager wide deep"
).split())
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNAMES1 = ["large", "hot", "blue", "red", "green", "dim", "cold", "pale"]
PNAMES2 = ["ring", "bolt", "screw", "washer", "plate", "cap", "rod", "nut"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    offs = rng.integers(0, span, n).astype("timedelta64[D]")
    return (np.datetime64(start) + offs).astype("datetime64[us]")


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.array(values)[idx])


def generate(out: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out`` (which must not exist yet) and
    return the row count per table."""
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = int(10_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{PNAMES1[i % 8]} {PNAMES2[(i // 8) % 8]}" for i in range(n_part)
        ],
        "p_brand": [f"Brand#{1 + i % 25}" for i in range(n_part)],
        "p_type": _pick(PTYPES, rng.integers(0, len(PTYPES), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1 % 1200, 2),
    })

    odate = _days(rng, n_ord, "1995-01-01", "2001-08-02")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(
            ["O", "F", "P"], rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])
        ),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })

    # ~4 lines per order; 2% fractional quantities exercise the explicit
    # floor() semantics both engines must agree on
    lo = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    qty[rng.random(n_li) < 0.02] += 0.5
    ship = odate[lo] + rng.integers(1, 120, n_li).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(["R", "A", "N"], rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(["O", "F"], rng.integers(0, 2, n_li)),
        "l_shipdate": ship,
    })

    # 30 days of events; two bot users own 2% each in one-day bursts
    n_users = max(1, int(15_000 * sf))
    uid = rng.integers(1, n_users + 1, n_ev)
    burst = int(0.02 * n_ev)
    uid[:burst], uid[burst:2 * burst] = 1, 2
    secs = rng.integers(0, 30 * 86400, n_ev)
    secs[:burst] = rng.integers(0, 86400, burst)
    secs[burst:2 * burst] = 5 * 86400 + rng.integers(0, 86400, burst)
    ts = (
        np.datetime64("2024-01-01T00:00:00")
        + secs.astype("timedelta64[s]")
        + rng.integers(0, 1_000_000, n_ev).astype("timedelta64[us]")
    ).astype("datetime64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(uid, pa.int64()),
        "event_type": _pick(
            EVENT_TYPES, rng.choice(5, n_ev, p=[0.4, 0.35, 0.1, 0.05, 0.1])
        ),
        "value": np.round(np.minimum(rng.exponential(60, n_ev), 560.21), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    # random-vocabulary documents with 5% exact and 3% near duplicates
    lengths = rng.integers(8, 120, n_doc)
    texts = [
        " ".join(VOCAB[rng.integers(0, len(VOCAB), n)]) for n in lengths
    ]
    n_dup, n_near = int(0.05 * n_doc), int(0.03 * n_doc)
    for i in range(n_dup):
        texts[n_doc - 1 - i] = texts[i]
    for i in range(n_near):
        toks = texts[n_dup + i].split()
        toks[len(toks) // 2] = "variant"
        texts[n_doc - n_dup - 1 - i] = " ".join(toks)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(LANGS, rng.choice(5, n_doc, p=[0.6, 0.1, 0.1, 0.1, 0.1])),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # 64-d embeddings around 10 Gaussian cluster centres
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.5, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.15, (n_emb, 64))).astype(
        "float32"
    )
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
