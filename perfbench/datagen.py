"""Seeded generator for the ten fixture tables ``sol_spark.tables`` reads.

The tables mirror the schemas and value distributions of the synthetic
TPC-H-ish fixtures the engine is verified on (see FIXTURES.md): the same
column names and physical types, the same categorical domains, the same
date ranges. Row counts scale with ``sf`` exactly as the fixtures do, so
``sf=0.001`` is the smoke size.

The table contents come from a fixed seed and the run's seed only decides
the physical row order of every file. The iterative operators' round
count follows the near-duplicate graph, so content drawn per run would
change the amount of work from run to run, not just its layout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY_US = 86_400 * 1_000_000
CONTENT_SEED = 20240101


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as integer cents divided once (no float drift)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = _day_us(first) // _DAY_US, _day_us(last) // _DAY_US
    days = rng.integers(lo, hi + 1, n).astype(np.int64) * _DAY_US
    return pa.array(days, pa.timestamp("us"))


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # One document in twenty is a near-duplicate: another document's text
    # with " dup" appended, which is what the dedup operators look for.
    dup_ids = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dup_ids)
    for d in dup_ids:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.standard_normal((n, dim)) / np.sqrt(dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = _day_us("2024-01-01")
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _choice(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for every fixture table into ``out_dir``,
    rows in an order drawn from ``seed``; return the row count of each."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = max(150, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_orders = max(200, int(200_000 * sf)), max(1500, int(1_500_000 * sf))
    n_line, n_events = max(6000, int(6_000_000 * sf)), max(1000, int(1_000_000 * sf))
    n_users = max(15, int(150_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust)),
                "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{ADJECTIVES[a]} {NOUNS[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _choice(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array((9000 + np.arange(n_part) % 1000) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
                "o_orderstatus": _choice(rng, ("F", "O", "P"), n_orders),
                "o_totalprice": pa.array(_money(rng, 1000, 500000, n_orders)),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
                "o_orderpriority": _choice(rng, PRIORITIES, n_orders),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _choice(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": _events(rng, n_events, n_users),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    order = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        table = table.take(order.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
