"""Seeded candy-store inputs, a pure-Python replica of the reference
semantics, and the output check for the ``candy_10day`` workload.

The generator writes the reference's input layout: ``products.csv``,
``customers.csv`` and one multiLine JSON array of transactions per
business day. Product popularity is Zipf-distributed and stock is low,
so hot products run out mid-period and the allocation's cancellation
feedback is exercised. About 7.5% of item quantities are null, a few
items name unknown product ids, some transactions have only null
quantities, and one day's file is an empty array.

The replica never touches Spark. It applies the reference rules in
order: drop null-qty items, drop unknown product ids, allocate stock
greedily in (business date, file order, item position) order, skip
orders with no surviving item, then derive order totals, daily totals,
final stock and the linear-trend forecast.
"""

from __future__ import annotations

import csv
import itertools
import json
import os
import random
from dataclasses import dataclass, field

N_PRODUCTS = 300
N_CUSTOMERS = 2000
N_DAYS = 10
EMPTY_DAY = 4  # 1-based day whose file is an empty JSON array
ZIPF_S = 1.1
NULL_QTY_P = 0.075
ALL_NULL_TXN_P = 0.015
UNKNOWN_ID = 9999
START_DAY = 1  # 2024-03-01


@dataclass
class CandyInputs:
    root: str
    products_csv: str
    customers_csv: str
    transactions_paths: list[str]
    products: dict[int, dict] = field(repr=False)
    transactions: list[list[dict]] = field(repr=False)  # one list per day file

    @property
    def request_lines(self) -> int:
        """Items across all transactions, before any validation."""
        return sum(len(t["items"]) for day in self.transactions for t in day)


def generate(root: str, seed: int, txn_per_day: int) -> CandyInputs:
    """Write one seeded ten-day candy-store input set under ``root``.

    Sizes do not depend on ``seed``: every seed gives the same number of
    products, days and transactions, and the same distributions.
    """
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)

    ranks = list(range(1, N_PRODUCTS + 1))
    rng.shuffle(ranks)  # product id -> popularity rank
    weights = [r ** -ZIPF_S for r in ranks]
    cum_weights = list(itertools.accumulate(weights))
    total_w = cum_weights[-1]
    # expected requested units per product over the period (3 = mean qty)
    n_txns = txn_per_day * (N_DAYS - 1)
    units = n_txns * 3 * 3 * (1 - NULL_QTY_P)
    products: dict[int, dict] = {}
    for pid in range(1, N_PRODUCTS + 1):
        price = round(rng.uniform(0.5, 15.0), 2)
        demand = units * weights[pid - 1] / total_w
        products[pid] = {
            "product_name": f"Candy {pid}",
            "sales_price": f"{price:.2f}",
            "cost_to_make": f"{price * rng.uniform(0.3, 0.8):.2f}",
            # low stock: most products can run out before the last day
            "stock": max(5, int(demand * rng.uniform(0.3, 1.3))),
        }
    products_csv = os.path.join(root, "products.csv")
    with open(products_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(
            ["product_id", "product_name", "product_category",
             "product_subcategory", "product_shape", "sales_price",
             "cost_to_make", "stock"]
        )
        for pid, p in products.items():
            w.writerow(
                [pid, p["product_name"], "Gummies & Jellies", "Sub", "Rolls",
                 p["sales_price"], p["cost_to_make"], p["stock"]]
            )

    customers_csv = os.path.join(root, "customers.csv")
    with open(customers_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["customer_id", "first_name", "last_name", "email", "address", "phone"])
        for cid in range(1, N_CUSTOMERS + 1):
            w.writerow(
                [cid, f"First{cid}", f"Last{cid}", f"u{cid}@example.org",
                 f"{cid} Main St, Town, ST 00000", f"555.{cid:07d}"]
            )

    pids = list(range(1, N_PRODUCTS + 1))
    tid = 100_000
    days: list[list[dict]] = []
    paths: list[str] = []
    for day in range(START_DAY, START_DAY + N_DAYS):
        txns: list[dict] = []
        if day - START_DAY + 1 != EMPTY_DAY:
            for i in range(txn_per_day):
                tid += rng.randint(1, 3)
                n_items = rng.randint(1, 5)
                picks = rng.choices(pids, cum_weights=cum_weights, k=n_items)
                all_null = rng.random() < ALL_NULL_TXN_P
                items = [
                    {
                        "product_id": pid,
                        "product_name": f"Candy {pid}",
                        "qty": None
                        if all_null or rng.random() < NULL_QTY_P
                        else rng.randint(1, 5),
                    }
                    for pid in picks
                ]
                if i % 2000 == 7:  # a few unknown ids per day
                    items.append(
                        {"product_id": UNKNOWN_ID, "product_name": "Ghost", "qty": 2}
                    )
                secs = rng.randrange(86400)
                ts = (
                    f"2024-03-{day:02d}T{secs // 3600:02d}:{secs // 60 % 60:02d}:"
                    f"{secs % 60:02d}.{rng.randrange(1_000_000):06d}"
                )
                txns.append(
                    {
                        "transaction_id": tid,
                        "customer_id": rng.randint(1, N_CUSTOMERS),
                        "timestamp": ts,
                        "items": items,
                    }
                )
        path = os.path.join(root, f"transactions_202403{day:02d}.json")
        with open(path, "w") as fh:
            json.dump(txns, fh)
        days.append(txns)
        paths.append(path)
    return CandyInputs(root, products_csv, customers_csv, paths, products, days)


# -- replica -----------------------------------------------------------------


def _ols_next(ys: list[float]) -> float:
    """Least-squares line through (i, ys[i]), evaluated at len(ys)."""
    n = len(ys)
    if n == 1:
        return ys[0]
    mt = (n - 1) / 2
    my = sum(ys) / n
    sxy = sum((i - mt) * (y - my) for i, y in enumerate(ys))
    sxx = sum((i - mt) ** 2 for i in range(n))
    return my + sxy / sxx * (n - mt)


def replica(inputs: CandyInputs) -> dict:
    """Expected content of the five output CSVs, as sorted typed rows."""
    products = inputs.products
    remaining = {pid: p["stock"] for pid, p in products.items()}
    orders, lines, daily = [], [], []
    requested = fulfilled = 0
    for day_txns in inputs.transactions:  # days in date order, file order within
        day_sales = day_profit = 0.0
        day_orders = 0
        for t in day_txns:
            amount = profit = 0.0
            n_items = 0
            valid = False
            for it in t["items"]:
                pid, q = it["product_id"], it["qty"]
                if q is None or pid not in products:
                    continue
                valid = True
                requested += 1
                price = float(products[pid]["sales_price"])
                cost = float(products[pid]["cost_to_make"])
                if q <= remaining[pid]:
                    remaining[pid] -= q
                    fulfilled += 1
                    n_items += 1
                else:
                    q = 0
                amount += q * price
                profit += q * (price - cost)
                lines.append((t["transaction_id"], pid, q, price, f"{q * price:,.2f}"))
            if not valid:
                continue  # reference skips orders with no surviving item
            orders.append(
                (t["transaction_id"], t["timestamp"], t["customer_id"],
                 f"{amount:,.2f}", n_items)
            )
            day_sales += amount
            day_profit += profit
            day_orders += 1
        if day_orders:
            date = day_txns[0]["timestamp"][:10]
            # the engine rounds daily totals half-even, as Python's round
            daily.append((date, day_orders, round(day_sales, 2), round(day_profit, 2)))
    last = daily[-1][0]
    next_day = f"{last[:8]}{int(last[8:]) + 1:02d}"
    # the trend is fitted on the rounded daily totals, then rounded
    forecast = [
        (next_day,
         round(_ols_next([d[2] for d in daily]), 2),
         round(_ols_next([d[3] for d in daily]), 2))
    ]
    final_stock = [
        (pid, p["product_name"], remaining[pid]) for pid, p in products.items()
    ]
    return {
        "orders": sorted(orders),
        "order_line_items": sorted(lines),
        "daily_summary": daily,
        "products_updated": sorted(final_stock),
        "sales_profit_forecast": forecast,
        "requested_lines": requested,
        "fulfilled_lines": fulfilled,
    }


# -- output check ------------------------------------------------------------

#: per output: header, and a parser per column (None keeps the string)
_OUTPUT_COLUMNS = {
    "orders": (
        ["order_id", "order_datetime", "customer_id", "total_amount", "num_items"],
        [int, None, int, None, int],
    ),
    "order_line_items": (
        ["order_id", "product_id", "quantity", "unit_price", "line_total"],
        [int, int, int, float, None],
    ),
    "daily_summary": (
        ["date", "num_orders", "total_sales", "total_profit"],
        [None, int, float, float],
    ),
    "products_updated": (
        ["product_id", "product_name", "current_stock"],
        [int, None, int],
    ),
    "sales_profit_forecast": (
        ["date", "forecasted_sales", "forecasted_profit"],
        [None, float, float],
    ),
}

#: outputs with one row per date: compared in file order, and their floats
#: within half a cent (Spark and the replica add the same doubles in
#: different orders, and round the forecast half-up and half-even)
_BY_DATE = {"daily_summary", "sales_profit_forecast"}


def _read_output(path: str, name: str) -> list[tuple]:
    header, parsers = _OUTPUT_COLUMNS[name]
    with open(path, newline="") as fh:
        rows = csv.reader(fh)
        got_header = next(rows)
        if got_header != header:
            raise ValueError(f"{name}: header {got_header} != {header}")
        return [
            tuple(v if p is None else p(v) for p, v in zip(parsers, row))
            for row in rows
        ]


def _rows_match(got: list[tuple], want: list[tuple], tolerant: bool) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if tolerant and isinstance(b, float):
                if abs(a - b) > 0.0051:
                    return False
            elif a != b:
                return False
    return True


def check_outputs(paths: dict[str, str], expected: dict) -> list[str]:
    """Compare the written CSVs with the replica; returns mismatch names."""
    bad = []
    for name in _OUTPUT_COLUMNS:
        rows = _read_output(paths[name], name)
        by_date = name in _BY_DATE
        if not by_date:
            rows.sort()  # ties on the sort key come out in any order
        if not _rows_match(rows, expected[name], tolerant=by_date):
            bad.append(name)
    return bad


def fulfilled_ratio(order_line_items_csv: str) -> float:
    """Fulfilled lines / requested lines in a written line-items file."""
    rows = _read_output(order_line_items_csv, "order_line_items")
    return sum(1 for r in rows if r[2] > 0) / len(rows)
