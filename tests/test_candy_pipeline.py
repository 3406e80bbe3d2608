"""End-to-end pipeline tests on generated fixtures (FIXTURES.md edge
cases: null qty, unknown products, all-null transactions, empty day,
stock exhaustion, comma-grouped money strings)."""

from __future__ import annotations

import csv
import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.plans.candy_pipeline import (
    CandyConfig,
    CandyPipeline,
)
from tests.candy_fixtures import write_fixture


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("candy"))
    write_fixture(root)
    return root


@pytest.fixture(scope="module")
def pipeline(spark, fixture_dir):
    import glob

    return CandyPipeline(
        spark,
        CandyConfig(
            products_csv=os.path.join(fixture_dir, "products.csv"),
            customers_csv=os.path.join(fixture_dir, "customers.csv"),
            transactions_paths=sorted(
                glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
            ),
            output_dir=os.path.join(fixture_dir, "output"),
        ),
    )


def _load_raw(fixture_dir):
    txns = []
    import glob

    for p in sorted(glob.glob(os.path.join(fixture_dir, "transactions_*.json"))):
        with open(p) as f:
            txns.extend(json.load(f))
    return txns


def test_validation_drops(pipeline, fixture_dir):
    """P3 (null qty) and P4 (unknown product) drop items, nothing else."""
    lines = pipeline.allocated_lines()
    raw = _load_raw(fixture_dir)
    valid_items = sum(
        1
        for t in raw
        for it in t["items"]
        if it["qty"] is not None and it["product_id"] != 999
    )
    assert lines.count() == valid_items
    assert lines.filter(F.col("product_id") == 999).count() == 0


def test_skip_empty_orders_semantics(pipeline, spark, fixture_dir):
    raw = _load_raw(fixture_dir)
    n_tx = len(raw)
    n_empty = sum(
        1
        for t in raw
        if all(it["qty"] is None or it["product_id"] == 999 for it in t["items"])
    )
    assert n_empty > 0, "fixture must contain all-null transactions"
    golden_orders = pipeline.order_aggregates()
    assert golden_orders.count() == n_tx - n_empty
    head_cfg = CandyConfig(
        **{**pipeline.config.__dict__, "skip_empty_orders": False}
    )
    head_orders = CandyPipeline(spark, head_cfg).order_aggregates()
    assert head_orders.count() == n_tx
    assert head_orders.filter(F.col("num_items") == 0).count() >= n_empty


def test_allocation_matches_python_simulator(pipeline, fixture_dir):
    """Full-pipeline oracle: re-simulate the reference loop in plain
    Python over the raw JSON and compare every line's allocation."""
    raw = _load_raw(fixture_dir)
    products = {}
    with open(os.path.join(fixture_dir, "products.csv")) as f:
        for row in csv.DictReader(f):
            products[int(row["product_id"])] = {
                "price": float(row["sales_price"]),
                "stock": int(row["stock"]),
            }
    remaining = {pid: p["stock"] for pid, p in products.items()}
    expected = {}
    for t in sorted(raw, key=lambda t: t["timestamp"][:10]):
        for pos, it in enumerate(t["items"]):
            if it["qty"] is None or it["product_id"] not in products:
                continue
            pid, q = it["product_id"], int(it["qty"])
            if q <= remaining[pid]:
                remaining[pid] -= q
                expected[(t["transaction_id"], pos)] = q
            else:
                expected[(t["transaction_id"], pos)] = 0
    got = {
        (r["order_id"], r["item_pos"]): r["quantity"]
        for r in pipeline.allocated_lines().collect()
    }
    assert got == expected
    # stock exhaustion actually happened (fixture design guarantee)
    assert any(v == 0 for v in got.values())


def test_empty_day_gap_no_crash(pipeline):
    """Reference crashes on a zero-transaction day
    (src/data_processor.py:477-479); the engine just has no rows for it."""
    summary = pipeline.daily_summary().collect()
    dates = [str(r["date"]) for r in summary]
    assert "2024-03-03" not in dates
    assert len(dates) == 4


def test_daily_summary_schema_and_values(pipeline):
    summary = pipeline.daily_summary()
    assert [f.name for f in summary.schema.fields] == [
        "date", "num_orders", "total_sales", "total_profit",
    ]
    rows = summary.collect()
    assert all(r["total_sales"] >= r["total_profit"] > 0 for r in rows)
    # totals equal the order-level sums rounded half-even
    orders = pipeline.order_aggregates().collect()
    by_day = {}
    for r in orders:
        d = by_day.setdefault(r["business_date"], [0.0, 0])
        d[0] += r["total_amount"]
        d[1] += 1
    for r in rows:
        assert r["num_orders"] == by_day[r["date"]][1]
        assert abs(r["total_sales"] - round(by_day[r["date"]][0], 2)) < 0.011


def test_products_updated_conservation(pipeline, fixture_dir):
    got = {
        r["product_id"]: r["current_stock"]
        for r in pipeline.products_updated().collect()
    }
    fulfilled = {
        r["product_id"]: r["s"]
        for r in pipeline.allocated_lines()
        .groupBy("product_id")
        .agg(F.sum("quantity").alias("s"))
        .collect()
    }
    with open(os.path.join(fixture_dir, "products.csv")) as f:
        for row in csv.DictReader(f):
            pid = int(row["product_id"])
            assert got[pid] == int(row["stock"]) - fulfilled.get(pid, 0)


def test_money_formatting_parity(pipeline):
    """format_number strings: 2 decimals, comma thousands separators
    (the fixture's 999.99 product forces >1,000 totals)."""
    orders = pipeline.orders_output().collect()
    assert all("." in r["total_amount"] for r in orders)
    assert any("," in r["total_amount"] for r in orders), "need a >1,000 total"
    big = next(r for r in orders if "," in r["total_amount"])
    assert big["total_amount"].split(".")[1].__len__() == 2
    lines = pipeline.order_line_items_output().collect()
    assert all(r["line_total"] == "0.00" for r in lines if r["quantity"] == 0)


def test_save_outputs_single_files(pipeline):
    paths = pipeline.save_outputs()
    assert set(paths) == {
        "orders", "order_line_items", "daily_summary",
        "products_updated", "sales_profit_forecast",
    }
    for name, p in paths.items():
        assert os.path.isfile(p), p
        with open(p) as f:
            header = f.readline().strip()
        assert "," in header
    # each file is sorted by its OUTPUT_ORDER keys inside its one
    # partition, with no global sort in the plan
    sort_keys = {
        "orders": lambda r: int(r["order_id"]),
        "order_line_items": lambda r: (int(r["order_id"]), int(r["product_id"])),
        "daily_summary": lambda r: r["date"],
        "products_updated": lambda r: int(r["product_id"]),
    }
    for name, key in sort_keys.items():
        with open(paths[name]) as f:
            keys = [key(r) for r in csv.DictReader(f)]
        assert len(keys) > 1, name
        assert keys == sorted(keys), name


#: Spark jobs one save_outputs() pass over the fixture runs: one per AQE
#: shuffle stage plus the write for each output. The input's byte bound
#: skips the allocation's skew probe (3 jobs more, 21). No write may run
#: a range-sampling job: a global orderBy under each write adds one and
#: its exchange stage (31 jobs with the probe). Starting all five writes
#: at once, rather than the line items first, lets each write's cache
#: stage submit its own materialization job (22 jobs).
SAVE_OUTPUTS_MAX_JOBS = 18


def _jobs_in_group(sc, group, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    ids of the jobs it submitted, once the status tracker has seen them."""
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_save_outputs_right_sized(spark, pipeline, monkeypatch):
    """The pass stays right-sized: its job count does not grow back, and
    the cached spine keeps AQE's coalesced partitioning instead of
    ``spark.sql.shuffle.partitions`` tasks for a few hundred rows."""
    from etl_pipeline_candy_store_spark.plans import candy_pipeline

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def cached_rdds():
        return {
            i.id(): i.numPartitions() for i in jsc.getRDDStorageInfo()
        }

    before = set(cached_rdds())
    seen: dict[int, int] = {}
    real_save = candy_pipeline.save_single_csv

    def save_and_look(*args):
        path = real_save(*args)
        seen.update(cached_rdds())
        return path

    monkeypatch.setattr(candy_pipeline, "save_single_csv", save_and_look)
    _, jobs = _jobs_in_group(sc, "test_save_outputs_right_sized", pipeline.save_outputs)
    assert 0 < len(jobs) <= SAVE_OUTPUTS_MAX_JOBS, jobs
    spine = [n for rdd, n in seen.items() if rdd not in before]
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(spine) == 1, seen
    assert spine[0] < shuffle_partitions


def test_save_outputs_jobs_stay_in_callers_group(spark, pipeline):
    """The concurrent writes run on their own threads, but every job the
    pass submits belongs to the caller's job group."""
    sc = spark.sparkContext

    def marker(group):
        return _jobs_in_group(sc, group, sc.parallelize([0], 1).count)[1][-1]

    first = marker("test_jobs_stay_in_group.before")
    _, jobs = _jobs_in_group(sc, "test_jobs_stay_in_group", pipeline.save_outputs)
    last = marker("test_jobs_stay_in_group.after")
    assert jobs and jobs == list(range(first + 1, last))


def test_save_outputs_failed_write(spark, pipeline, monkeypatch):
    """A write that raises: save_outputs() re-raises its error only after
    the other writes have finished, and leaves no cached spine behind."""
    from etl_pipeline_candy_store_spark.plans import candy_pipeline

    jsc = spark.sparkContext._jsc.sc()

    def cached_rdds():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    class WriteFailed(RuntimeError):
        pass

    before = cached_rdds()
    finished = []
    real_save = candy_pipeline.save_single_csv

    def save_or_fail(df, output_dir, filename, *args):
        if filename == "products_updated.csv":
            raise WriteFailed(filename)
        path = real_save(df, output_dir, filename, *args)
        finished.append(filename)
        return path

    monkeypatch.setattr(candy_pipeline, "save_single_csv", save_or_fail)
    with pytest.raises(WriteFailed, match="products_updated.csv"):
        pipeline.save_outputs()
    assert sorted(finished) == [
        "daily_summary.csv",
        "order_line_items.csv",
        "orders.csv",
        "sales_profit_forecast.csv",
    ]
    assert cached_rdds() == before


def test_transactions_bound_is_sound(spark, tmp_path):
    """The byte bound on request lines holds on the densest input that
    still validates: N shortest items, written with no whitespace."""
    from etl_pipeline_candy_store_spark.sources.readers import (
        MIN_ITEM_BYTES,
        read_transactions_json,
        transactions_max_items,
    )

    n = 500
    item = '{"product_id":0,"qty":0}'
    assert len(item) == MIN_ITEM_BYTES
    text = (
        '[{"transaction_id":1,"timestamp":"2024-03-01T09:00:00","items":['
        + ",".join([item] * n)
        + "]}]"
    )
    day_dir = tmp_path / "plain"
    day_dir.mkdir()
    day = day_dir / "transactions_20240301.json"
    day.write_text(text)
    items = (
        read_transactions_json(spark, [str(day)])
        .select(F.explode("items").alias("item"))
        .filter(F.col("item.product_id").isNotNull())
        .filter(F.col("item.qty").isNotNull())
    )
    assert items.count() == n
    bound = transactions_max_items(spark, [str(day)])
    assert n <= bound < n + len(text) // MIN_ITEM_BYTES
    # a directory or a glob sizes the same files
    assert transactions_max_items(spark, str(day_dir)) == bound
    assert transactions_max_items(spark, [str(day_dir / "*.json")]) == bound

    # a compressed file's length says nothing about its text: unknown
    gz = tmp_path / "transactions_20240302.json.gz"
    with gzip.open(gz, "wt") as f:
        f.write(text)
    assert read_transactions_json(spark, [str(gz)]).count() == 1
    assert transactions_max_items(spark, [str(day), str(gz)]) is None
    assert transactions_max_items(spark, [str(tmp_path / "missing.json")]) is None


def test_allocated_lines_runs_no_eager_job(spark, pipeline, monkeypatch):
    """With default thresholds the fixture's byte bound rules out a hot
    key, so building the spine submits no job: the dispatcher returns
    the sequential plan without its skew probe (3 jobs)."""
    from etl_pipeline_candy_store_spark.operators import allocation as alloc_mod

    calls = []
    real_seq = alloc_mod.allocate_sequential
    monkeypatch.setattr(
        alloc_mod,
        "allocate_sequential",
        lambda *a, **k: calls.append("seq") or real_seq(*a, **k),
    )
    sc = spark.sparkContext
    lines, jobs = _jobs_in_group(
        sc, "test_allocated_lines_runs_no_eager_job", pipeline.allocated_lines
    )
    assert jobs == []
    assert calls == ["seq"]
    assert lines.count() > 0


def test_packed_day_files_keep_sequence(spark, pipeline, fixture_dir):
    """Several day files packed into ONE input partition: ``file_seq`` is
    still monotone in array order within each file, and the allocation
    equals the one read with a partition per file."""
    from etl_pipeline_candy_store_spark.sources.readers import (
        read_transactions_json,
    )

    paths = pipeline.config.transactions_paths
    packed = {
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.files.minPartitionNum": "1",
    }
    spread = {"spark.sql.files.openCostInBytes": str(128 * 1024 * 1024)}

    def under(conf, fn):
        saved = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            return fn()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def read():
        df = read_transactions_json(spark, paths).select(
            "transaction_id", "file_seq", F.input_file_name().alias("file")
        )
        return df.rdd.getNumPartitions(), df.collect()

    n_parts, rows = under(packed, read)
    assert len(paths) > 1 and n_parts == 1
    assert under(spread, read)[0] == len(paths)
    by_file: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: r["file_seq"]):
        by_file.setdefault(os.path.basename(r["file"]), []).append(
            r["transaction_id"]
        )
    for p in paths:
        with open(p) as f:
            in_array_order = [t["transaction_id"] for t in json.load(f)]
        assert by_file.get(os.path.basename(p), []) == in_array_order, p

    def allocation():
        # file_seq values depend on the packing; the allocation must not
        cols = ["order_id", "item_pos", "quantity", "cancelled", "stock_after"]
        return sorted(map(tuple, pipeline.allocated_lines().select(cols).collect()))

    assert under(packed, allocation) == under(spread, allocation)


def test_forecast_deterministic(pipeline):
    a = pipeline.forecast().collect()
    b = pipeline.forecast().collect()
    assert a == b
    assert len(a) == 1
    row = a[0]
    assert row["forecasted_sales"] is not None
    assert row["forecasted_profit"] is not None
    # anchored at last business date + 1, not at run date
    assert str(row["date"]) == "2024-03-06"


def test_reload_daily_products_updated(spark, fixture_dir):
    """Under reload_inventory_daily, current_stock reports the LAST day's
    closing stock (fresh each morning), never less than the non-reload
    final stock."""
    import glob

    cfg = CandyConfig(
        products_csv=os.path.join(fixture_dir, "products.csv"),
        customers_csv=os.path.join(fixture_dir, "customers.csv"),
        transactions_paths=sorted(
            glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
        ),
        output_dir=os.path.join(fixture_dir, "out_reload"),
        reload_inventory_daily=True,
    )
    pipe = CandyPipeline(spark, cfg)
    got = {r["product_id"]: r["current_stock"] for r in pipe.products_updated().collect()}
    # independently: last day's fulfilled per product against opening stock
    lines = pipe.allocated_lines()
    from pyspark.sql import functions as F

    last_day = lines.agg(F.max("business_date")).collect()[0][0]
    lastday_fulfilled = {
        r["product_id"]: r["s"]
        for r in lines.filter(F.col("business_date") == last_day)
        .groupBy("product_id")
        .agg(F.sum("quantity").alias("s"))
        .collect()
    }
    with open(os.path.join(fixture_dir, "products.csv")) as f:
        for row in csv.DictReader(f):
            pid = int(row["product_id"])
            want = int(row["stock"]) - lastday_fulfilled.get(pid, 0)
            assert got[pid] == want, (pid, got[pid], want)


def test_forecast_metrics_exposed(spark, pipeline):
    """TS3: in-sample MAE/MSE travel with the long-format forecast."""
    from etl_pipeline_candy_store_spark.plans.forecast import forecast_metrics

    long_df = pipeline.daily_summary().select(
        "date",
        F.expr(
            "stack(2, 'sales', CAST(total_sales AS DOUBLE),"
            " 'profit', CAST(total_profit AS DOUBLE)) AS (metric, value)"
        ),
    )
    rows = forecast_metrics(long_df, periods=2).collect()
    assert len(rows) == 4  # 2 metrics x 2 steps
    assert all(r["mae"] >= 0 and r["mse"] >= 0 for r in rows)
    assert {r["metric"] for r in rows} == {"sales", "profit"}


def test_customer_enrichment_join(spark, fixture_dir):
    """J2 (declared-never-implemented in the reference) actually works:
    orders carry customer name/email via broadcast left join."""
    import glob

    cfg = CandyConfig(
        products_csv=os.path.join(fixture_dir, "products.csv"),
        customers_csv=os.path.join(fixture_dir, "customers.csv"),
        transactions_paths=sorted(
            glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
        ),
        output_dir=os.path.join(fixture_dir, "out_enriched"),
        enrich_customers=True,
    )
    orders = CandyPipeline(spark, cfg).orders_output().collect()
    assert orders
    assert all(r["customer_name"] and "@" in r["email"] for r in orders)
    r = next(r for r in orders if r["customer_id"] == 3)
    assert r["customer_name"] == "First3 Last3"


def test_allocation_strategy_dispatch_choice(spark, fixture_dir, monkeypatch):
    """The flagship spine routes through the skew-aware dispatcher:
    default thresholds pick the sequential pass on this small fixture;
    forced-low thresholds route the same config to the bucketed escape;
    results are identical either way."""
    from etl_pipeline_candy_store_spark.operators import allocation as alloc_mod
    from etl_pipeline_candy_store_spark.plans import candy_pipeline as cp_mod

    calls = []
    real_seq, real_bkt = alloc_mod.allocate_sequential, alloc_mod.allocate_bucketed
    monkeypatch.setattr(
        alloc_mod,
        "allocate_sequential",
        lambda *a, **k: calls.append("seq") or real_seq(*a, **k),
    )
    monkeypatch.setattr(
        alloc_mod,
        "allocate_bucketed",
        lambda *a, **k: calls.append("bkt") or real_bkt(*a, **k),
    )
    import glob

    base = dict(
        products_csv=os.path.join(fixture_dir, "products.csv"),
        customers_csv=os.path.join(fixture_dir, "customers.csv"),
        transactions_paths=sorted(
            glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
        ),
    )
    seq_rows = sorted(
        map(
            tuple,
            CandyPipeline(spark, CandyConfig(**base))
            .allocated_lines()
            .collect(),
        )
    )
    assert calls and calls[0] == "seq"  # small fixture: sequential wins

    calls.clear()
    hot_cfg = CandyConfig(
        **base,
        allocation_options={
            "hot_row_threshold": 5,
            "exhaust_hot_row_threshold": 5,
            "n_buckets": 4,
        },
    )
    hot_rows = sorted(
        map(tuple, CandyPipeline(spark, hot_cfg).allocated_lines().collect())
    )
    assert calls and calls[0] == "bkt"  # skew thresholds crossed
    assert hot_rows == seq_rows  # strategy changes wall-clock, not results


def test_allocation_strategy_forced_and_invalid(spark, fixture_dir, pipeline):
    import glob

    base = dict(
        products_csv=os.path.join(fixture_dir, "products.csv"),
        customers_csv=os.path.join(fixture_dir, "customers.csv"),
        transactions_paths=sorted(
            glob.glob(os.path.join(fixture_dir, "transactions_*.json"))
        ),
    )
    auto = sorted(map(tuple, pipeline.allocated_lines().collect()))
    forced_seq = CandyConfig(**base, allocation_strategy="sequential")
    forced_bkt = CandyConfig(
        **base, allocation_strategy="bucketed", allocation_options={"n_buckets": 4}
    )
    assert (
        sorted(
            map(
                tuple,
                CandyPipeline(spark, forced_seq).allocated_lines().collect(),
            )
        )
        == auto
    )
    assert (
        sorted(
            map(
                tuple,
                CandyPipeline(spark, forced_bkt).allocated_lines().collect(),
            )
        )
        == auto
    )
    bad = CandyConfig(**base, allocation_strategy="nope")
    with pytest.raises(ValueError, match="allocation_strategy"):
        CandyPipeline(spark, bad).allocated_lines()
