"""The ``core_queries`` input: the engine's ten synthetic tables, seeded,
in the layout its query catalog reads (one ``<table>.parquet`` each).

Schemas, key ranges and value distributions follow the engine's sf0.01
test tables (profiled column by column), at ``SCALE`` of their row
counts: a TPC-H-shaped star (region, nation, customer, supplier, part,
orders, lineitem), a 30-day ``events`` stream, 64-dim ``embeddings``
around ten label centroids, and ``documents`` from the curate corpus's
generator. The seed sets every value; row counts do not depend on it.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

import corpus

#: share of sf0.01's row counts (lineitem 60,000 -> 6,000)
SCALE = 0.1
N_CUSTOMERS = int(1500 * SCALE)
N_SUPPLIERS = int(100 * SCALE)
N_PARTS = int(2000 * SCALE)
N_ORDERS = int(15000 * SCALE)
N_LINEITEMS = int(60000 * SCALE)
N_EVENTS = int(10000 * SCALE)
N_USERS = int(150 * SCALE)
N_VECTORS = 250
N_DOCUMENTS = 250
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
STATUSES = ["P", "O", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2400  # sf0.01: 1995-01-01 .. 2001-08-01
EVENT_T0 = dt.datetime(2024, 1, 1)


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = random.Random(seed)
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(N_CUSTOMERS)],
            "c_nationkey": pa.array(
                [rng.randrange(25) for _ in range(N_CUSTOMERS)], pa.int32()
            ),
            "c_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(N_CUSTOMERS)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(N_CUSTOMERS)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(N_SUPPLIERS)],
            "s_nationkey": pa.array(
                [rng.randrange(25) for _ in range(N_SUPPLIERS)], pa.int32()
            ),
            "s_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(N_SUPPLIERS)],
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(N_PARTS), pa.int64()),
            "p_name": [
                f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(N_PARTS)
            ],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(N_PARTS)],
            "p_type": [rng.choice(PART_TYPES) for _ in range(N_PARTS)],
            "p_size": pa.array([rng.randint(1, 50) for _ in range(N_PARTS)], pa.int32()),
            "p_retailprice": [round(900 + (k % 1000) / 10, 2) for k in range(N_PARTS)],
        }
    )
    order_dates = [
        ORDER_DAY0 + dt.timedelta(days=rng.randrange(ORDER_DAYS)) for _ in range(N_ORDERS)
    ]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(
                [rng.randrange(N_CUSTOMERS) for _ in range(N_ORDERS)], pa.int64()
            ),
            "o_orderstatus": [rng.choice(STATUSES) for _ in range(N_ORDERS)],
            "o_totalprice": [_money(rng, 1000, 500000) for _ in range(N_ORDERS)],
            "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
            "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(N_ORDERS)],
        }
    )
    lines: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    )}
    per_order: dict[int, int] = {}
    for _ in range(N_LINEITEMS):
        okey = rng.randrange(N_ORDERS)
        per_order[okey] = per_order.get(okey, 0) + 1
        qty = float(rng.randint(1, 50))
        lines["l_orderkey"].append(okey)
        lines["l_partkey"].append(rng.randrange(N_PARTS))
        lines["l_suppkey"].append(rng.randrange(N_SUPPLIERS))
        lines["l_linenumber"].append(min(per_order[okey], 7))
        lines["l_quantity"].append(qty)
        lines["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
        lines["l_discount"].append(rng.randint(0, 10) / 100)
        lines["l_tax"].append(rng.randint(0, 8) / 100)
        lines["l_returnflag"].append(rng.choice("RAN"))
        lines["l_linestatus"].append(rng.choice("OF"))
        lines["l_shipdate"].append(
            order_dates[okey] + dt.timedelta(days=rng.randint(1, 121))
        )
    t["lineitem"] = pa.table(
        {
            **{k: v for k, v in lines.items() if k not in ("l_linenumber", "l_shipdate")},
            "l_linenumber": pa.array(lines["l_linenumber"], pa.int32()),
            "l_shipdate": pa.array(lines["l_shipdate"], pa.timestamp("us")),
        }
    ).select(list(lines))
    step = 30 * 86400 / N_EVENTS
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(
                [
                    EVENT_T0 + dt.timedelta(seconds=k * step + rng.uniform(0, step))
                    for k in range(N_EVENTS)
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([rng.randrange(N_USERS) for _ in range(N_EVENTS)], pa.int64()),
            "event_type": [rng.choice(EVENT_TYPES) for _ in range(N_EVENTS)],
            "value": [round(rng.expovariate(1 / 50) + 0.01, 2) for _ in range(N_EVENTS)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(N_EVENTS)],
        }
    )
    centroids = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    vectors, labels = [], []
    for _ in range(N_VECTORS):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.7) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vectors.append([x / norm for x in v])
        labels.append(label)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_VECTORS), pa.int64()),
            "embedding": pa.array(vectors, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    docs = corpus.documents(N_DOCUMENTS, seed)
    t["documents"] = pa.Table.from_pylist(docs, schema=corpus.SCHEMA)
    return t


def write_tables(sf_dir: str, seed: int) -> int:
    """Write every table under ``sf_dir``; returns the total row count."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = 0
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows
