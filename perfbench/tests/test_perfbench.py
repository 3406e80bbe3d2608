"""Tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import candy  # noqa: E402
import corpus  # noqa: E402
import eventlog  # noqa: E402
import tables  # noqa: E402

# -- generators --------------------------------------------------------------


def _files(root: str) -> list[str]:
    return sorted(os.listdir(root))


def test_candy_generator_is_deterministic(tmp_path):
    a = candy.generate(str(tmp_path / "a"), seed=5, txn_per_day=300)
    b = candy.generate(str(tmp_path / "b"), seed=5, txn_per_day=300)
    c = candy.generate(str(tmp_path / "c"), seed=6, txn_per_day=300)
    assert _files(a.root) == _files(b.root) == _files(c.root)
    for name in _files(a.root):
        assert filecmp.cmp(os.path.join(a.root, name), os.path.join(b.root, name), shallow=False)
    with open(a.transactions_paths[0]) as fa, open(c.transactions_paths[0]) as fc:
        assert fa.read() != fc.read()


def test_candy_generator_shape(tmp_path):
    inp = candy.generate(str(tmp_path), seed=1, txn_per_day=400)
    assert len(inp.transactions_paths) == candy.N_DAYS
    sizes = [len(day) for day in inp.transactions]
    assert sizes.count(0) == 1 and sizes[candy.EMPTY_DAY - 1] == 0
    assert all(n == 400 for i, n in enumerate(sizes) if i != candy.EMPTY_DAY - 1)
    items = [it for day in inp.transactions for t in day for it in t["items"]]
    null_share = sum(it["qty"] is None for it in items) / len(items)
    assert 0.05 < null_share < 0.12
    assert any(it["product_id"] == candy.UNKNOWN_ID for it in items)
    expected = candy.replica(inp)
    # low stock: some requests are cancelled
    assert expected["fulfilled_lines"] < expected["requested_lines"]


def test_corpus_order_and_split_follow_seed_content_does_not(tmp_path):
    def rows(seed):
        d = str(tmp_path / f"s{seed}")
        corpus.write_documents(d, seed, n_docs=200)
        path = os.path.join(d, "documents.parquet")
        files = sorted(os.listdir(path))
        table = pq.read_table([os.path.join(path, f) for f in files]).to_pylist()
        return files, table

    files_a, a = rows(3)
    files_b, b = rows(3)
    _, c = rows(4)
    assert files_a == files_b and a == b
    assert a != c
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(c, key=key) == corpus.documents(200)


def test_core_tables_follow_seed_and_keep_their_sizes():
    a, b, c = tables.tables(7), tables.tables(7), tables.tables(8)
    assert list(a) == list(b)
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {n: t.num_rows for n, t in a.items()} == {n: t.num_rows for n, t in c.items()}
    assert a["lineitem"].num_rows == tables.N_LINEITEMS
    # every foreign key points at an existing row
    assert max(a["lineitem"]["l_orderkey"].to_pylist()) < tables.N_ORDERS
    assert max(a["orders"]["o_custkey"].to_pylist()) < tables.N_CUSTOMERS
    assert a["documents"].schema == corpus.SCHEMA


# -- replica on a hand-checked fixture ---------------------------------------


def _tiny_inputs() -> candy.CandyInputs:
    products = {
        1: {"product_name": "Candy 1", "sales_price": "2.50", "cost_to_make": "1.00", "stock": 5},
        2: {"product_name": "Candy 2", "sales_price": "1000.00", "cost_to_make": "400.00", "stock": 1},
    }

    def txn(tid, day, items):
        return {
            "transaction_id": tid,
            "customer_id": tid - 99,
            "timestamp": f"2024-03-{day:02d}T10:00:00.000000",
            "items": [{"product_id": p, "product_name": "x", "qty": q} for p, q in items],
        }

    days = [
        [
            txn(100, 1, [(1, 3), (2, 1), (1, None)]),  # both fulfilled
            txn(101, 1, [(1, 3), (9999, 2)]),  # stock 2 left: cancelled
            txn(102, 1, [(1, None)]),  # no valid item: no order
        ],
        [],  # empty day
        [txn(103, 3, [(1, 2), (2, 1)])],  # p1 exactly exhausts, p2 gone
    ]
    return candy.CandyInputs("", "", "", [], products, days)


def test_replica_on_hand_checked_fixture():
    got = candy.replica(_tiny_inputs())
    assert got["orders"] == [
        (100, "2024-03-01T10:00:00.000000", 1, "1,007.50", 2),
        (101, "2024-03-01T10:00:00.000000", 2, "0.00", 0),
        (103, "2024-03-03T10:00:00.000000", 4, "5.00", 1),
    ]
    assert got["order_line_items"] == [
        (100, 1, 3, 2.5, "7.50"),
        (100, 2, 1, 1000.0, "1,000.00"),
        (101, 1, 0, 2.5, "0.00"),
        (103, 1, 2, 2.5, "5.00"),
        (103, 2, 0, 1000.0, "0.00"),
    ]
    assert got["daily_summary"] == [
        ("2024-03-01", 2, 1007.5, 604.5),
        ("2024-03-03", 1, 5.0, 3.0),
    ]
    # two points: the line through them, one step on
    assert got["sales_profit_forecast"] == [("2024-03-04", -997.5, -598.5)]
    assert got["products_updated"] == [(1, "Candy 1", 0), (2, "Candy 2", 0)]
    assert (got["requested_lines"], got["fulfilled_lines"]) == (5, 3)


def test_replica_rounds_daily_totals_before_the_forecast():
    products = {1: {"product_name": "Candy 1", "sales_price": "0.10",
                    "cost_to_make": "0.05", "stock": 100}}
    days = [
        [{"transaction_id": 100 + d, "customer_id": 1,
          "timestamp": f"2024-03-0{d}T10:00:00.000000",
          "items": [{"product_id": 1, "product_name": "x", "qty": q}]}]
        for d, q in ((1, 3), (2, 1), (3, 1))
    ]
    got = candy.replica(candy.CandyInputs("", "", "", [], products, days))
    # 3 * 0.10 is 0.30000000000000004 unrounded
    assert [d[2] for d in got["daily_summary"]] == [0.3, 0.1, 0.1]
    # OLS through (0, .3), (1, .1), (2, .1), at 3: mean .1667 + slope -.1 * 2
    assert got["sales_profit_forecast"][0][1] == -0.03


def _write_outputs(root, expected) -> dict[str, str]:
    paths = {}
    for name, (header, _) in candy._OUTPUT_COLUMNS.items():
        paths[name] = os.path.join(root, f"{name}.csv")
        with open(paths[name], "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(header)
            w.writerows(reversed(expected[name]) if name == "orders" else expected[name])
    return paths


def test_check_outputs_accepts_replica_and_flags_a_change(tmp_path):
    expected = candy.replica(_tiny_inputs())
    paths = _write_outputs(str(tmp_path), expected)
    assert candy.check_outputs(paths, expected) == []
    assert candy.fulfilled_ratio(paths["order_line_items"]) == pytest.approx(3 / 5)
    expected["products_updated"][0] = (1, "Candy 1", 1)
    assert candy.check_outputs(paths, expected) == ["products_updated"]


# -- event-log parser --------------------------------------------------------


def _canned_log() -> list[dict]:
    def task(stage, launch, finish, gc=0, read=0, written=0, spill=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "JVM GC Time": gc,
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            },
        }

    def job_start(job, t, stages, group):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": job,
                "Submission Time": t, "Stage IDs": stages, "Properties": props}

    def block(block_id, mem, disk=0):
        return {"Event": "SparkListenerBlockUpdated",
                "Block Updated Info": {"Block ID": block_id, "Memory Size": mem, "Disk Size": disk}}

    return [
        {"Event": "SparkListenerApplicationStart"},
        job_start(0, 1000, [0, 1], "layer.a"),
        task(0, 1000, 1100, gc=5, written=300),
        task(0, 1000, 1400, written=200),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        task(1, 1400, 1500, read=500, spill=64),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        block("rdd_3_0", 100),
        block("rdd_3_1", 50),
        block("broadcast_0", 9999),  # not a cached RDD block
        job_start(1, 1500, [2], "layer.a"),  # overlaps job 0
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        job_start(2, 2100, [3], None),  # no group: not attributed
        task(3, 2100, 2900),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3000},
        block("rdd_3_0", 0),  # unpersisted
        block("rdd_4_0", 70),
    ]


@pytest.mark.parametrize("rolling", [False, True])
def test_parser_on_canned_log(tmp_path, rolling):
    lines = [json.dumps(ev) for ev in _canned_log()]
    if rolling:  # Spark's rolling layout: a directory of numbered parts
        d = tmp_path / "eventlog_v2_local-1"
        d.mkdir()
        (d / "events_2_local-1").write_text("\n".join(lines[9:]) + "\n")
        (d / "events_1_local-1").write_text("\n".join(lines[:9]) + "\n")
        (d / "appstatus_local-1").write_text("")
    else:
        (tmp_path / "local-1").write_text("\n".join(lines) + "\n")
    log = eventlog.parse(eventlog.log_files(str(tmp_path)))
    assert set(log.groups) == {"layer.a"}
    g = log.groups["layer.a"]
    assert (g.jobs, g.stages, g.tasks) == (2, 2, 3)
    assert g.shuffle_bytes == 1000 and g.spill_bytes == 64 and g.gc_ms == 5
    assert g.busy_ms() == 1000  # union of [1000, 1600] and [1500, 2000]
    assert log.cached_bytes_peak == 150
    c = eventlog.span_counters(g, span_s=1.25)
    assert c["task_ms_max"] == 400 and c["task_ms_p50"] == 100
    assert c["driver_gap_s"] == pytest.approx(0.25)
    assert eventlog.span_counters(None, 0.5)["jobs"] == 0
