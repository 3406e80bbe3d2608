"""CandyPipeline — the reference pipeline's semantics, Spark-native.

Mirrors the DataProcessor surface (SURVEY §3.3): load dimensions →
validate items → allocate inventory → derive orders / order_line_items /
daily_summary / products_updated → forecast → write outputs. Every stage
is a declarative DataFrame transformation except two pandas functions:
the ST1 allocation (``repartition`` on the product key +
``sortWithinPartitions`` + one ``mapInPandas`` pass per partition) and
the forecast fit (one ``applyInPandas`` group per metric,
plans/forecast.py). The reference
instead collect()s each day to the driver and loops rows
(src/data_processor.py:389-465).

Execution contract: everything is lazy; one write per output (SURVEY §7
design stance). Under AQE a write still runs one Spark job per shuffle
stage plus its result stage (the per-pass count is in
:meth:`CandyPipeline.save_outputs`). At 100 TB: transactions arrive
as date-partitioned parquet (partition pruning replaces per-day scans),
products broadcast, the allocation shuffle is keyed by product_id, and
outputs go to partitioned parquet — the single-file CSVs exist only for
golden parity.

Semantics flags:
- ``skip_empty_orders`` (default True): transactions whose items all
  fail validation emit NO order — golden-output semantics (the skip rule
  at src/data_processor.py:454-456, active in the golden run, SURVEY
  §5.2). False reproduces HEAD semantics (order rows with num_items=0).
- ``reload_inventory_daily`` (default False): reference declares the
  flag but never implements the reset (ST3, src/data_processor.py:39,
  55-61); here True genuinely resets stock each day by keying the
  allocation on (product_id, business_date).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from etl_pipeline_candy_store_spark.functions.money import (
    format_money,
    round_half_even,
)
from etl_pipeline_candy_store_spark.operators.allocation import (
    allocate,
    allocate_bucketed,
    allocate_sequential,
)
from etl_pipeline_candy_store_spark.plans.forecast import forecast_sales_profit
from etl_pipeline_candy_store_spark.sources.readers import (
    read_customers_csv,
    read_products_csv,
    read_transactions_json,
    transactions_max_items,
)
from etl_pipeline_candy_store_spark.sources.writers import save_single_csv


#: Row order of each single-file output. The public builders sort by
#: these keys globally (``forecast_sales_profit`` sorts by date);
#: :meth:`CandyPipeline.save_outputs` and :func:`save_csvs` (which the
#: orchestration tasks write through) hand the same keys to
#: ``save_single_csv``, which sorts inside the file's one partition, so
#: Spark drops the global sort and its range-sampling job.
OUTPUT_ORDER: dict[str, tuple[str, ...]] = {
    "orders": ("order_id",),
    "order_line_items": ("order_id", "product_id"),
    "daily_summary": ("date",),
    "products_updated": ("product_id",),
    "sales_profit_forecast": ("date",),
}


def save_csvs(frames: dict[str, DataFrame], output_dir: str) -> dict[str, str]:
    """Write each frame as ``output_dir/<name>.csv`` with
    ``save_single_csv``, sorted by its ``OUTPUT_ORDER`` keys, all writes
    at once on one thread each. Every thread inherits the caller's local
    properties, so its jobs stay in the caller's job group. Returns the
    paths by name once every write has finished; if any write raised,
    raises the first such error in ``frames`` order instead."""
    spark = next(iter(frames.values())).sparkSession

    def write(name: str) -> str:
        return save_single_csv(
            frames[name], output_dir, f"{name}.csv", OUTPUT_ORDER[name]
        )

    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        # wrapped once per write: each wrap copies the local properties,
        # and a running query sets its execution id in its own copy
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(write), name)
            for name in frames
        }
    return {name: f.result() for name, f in futures.items()}


@dataclass
class CandyConfig:
    products_csv: str
    customers_csv: str
    transactions_paths: list[str] = field(default_factory=list)
    output_dir: str = "output"
    skip_empty_orders: bool = True
    reload_inventory_daily: bool = False
    forecast_periods: int = 1
    #: J2 — the reference *declares* a customer join and never implements
    #: it (src/data_processor.py:519); True enriches orders with customer
    #: name/email via a broadcast left join.
    enrich_customers: bool = False
    #: ST1 physical strategy: "auto" (default) probes the key-skew shape
    #: and picks between the partition-sorted single pass and the
    #: bucketed hot-key escape (operators/allocation.py:allocate);
    #: "sequential"/"bucketed" force a strategy. All three are
    #: result-identical — only wall-clock differs.
    allocation_strategy: str = "auto"
    #: kwargs forwarded to the chosen allocation strategy (thresholds,
    #: n_buckets, sample_fraction) — see operators/allocation.py.
    allocation_options: dict = field(default_factory=dict)
    #: Name of a product-bucketed catalog table of exploded request
    #: lines (write it once with
    #: :meth:`CandyPipeline.prepare_bucketed_transactions`). When set,
    #: the pipeline loads the facts from it instead of the per-day JSON
    #: and runs the allocation with ``input_partitioned=True`` — the
    #: bucket layout replaces the allocation's keyed Exchange, paid
    #: once at write time and amortized over every pipeline run. The
    #: 100 TB shape: raw transactions land daily, a prepare pass with
    #: ``mode="append"`` (config pointed at just the new day's files)
    #: appends them into the bucketed facts, and every downstream
    #: allocation/reporting run plans shuffle-free on the fact side.
    transactions_bucketed_table: str | None = None


class CandyPipeline:
    def __init__(self, spark: SparkSession, config: CandyConfig):
        self.spark = spark
        self.config = config

    # -- loads -------------------------------------------------------------

    def load_products(self) -> DataFrame:
        return read_products_csv(self.spark, self.config.products_csv)

    def load_customers(self) -> DataFrame:
        return read_customers_csv(self.spark, self.config.customers_csv)

    def load_transactions(self) -> DataFrame:
        return read_transactions_json(self.spark, self.config.transactions_paths)

    def _request_items(self) -> DataFrame:
        """Exploded, null-filtered request lines from the per-day JSON
        (F7 explode + P3 null-qty filter) — the fact relation the
        allocation consumes, before the product-dimension join."""
        return (
            self.load_transactions()
            .select(
                F.col("transaction_id").alias("order_id"),
                "customer_id",
                F.col("timestamp").alias("order_datetime"),
                "business_date",
                "file_seq",
                F.posexplode("items").alias("item_pos", "item"),
            )
            .select(
                "*",
                F.col("item.product_id").alias("product_id"),
                F.col("item.qty").alias("requested_qty"),
            )
            .drop("item")
            .filter(F.col("requested_qty").isNotNull())  # P3
        )

    def prepare_bucketed_transactions(
        self,
        table: str | None = None,
        n_buckets: int = 16,
        mode: str = "overwrite",
        analyze: bool = True,
    ) -> str:
        """Materialize the exploded request lines as a product-bucketed
        catalog table (the one-time shuffle the bucketed pipeline path
        amortizes). Pass the table name here or preset
        ``config.transactions_bucketed_table``; subsequent
        :meth:`allocated_lines` calls with that config field set plan
        the allocation with zero fact-side Exchange. Size ``n_buckets``
        so each bucket's hot-path columns fit an executor task at the
        target scale (buckets read as ONE task each on this path).

        ``mode`` mirrors the DataFrameWriter: the default "overwrite"
        rebuilds the table from the CURRENT ``transactions_paths``;
        "append" is the daily-ingest shape — point the config at just
        the new day's files and append them into the existing bucketed
        facts (Spark validates the bucket spec matches and buckets the
        new files identically, so key co-location is preserved).

        ``analyze`` (default True) refreshes optimizer statistics
        after the write — table-level rowCount/sizeInBytes plus
        min/max/ndv for the bucket key (``product_id``): the prepare
        pass just scanned everything anyway, the key's ndv is what
        costs every downstream join/aggregate on it, and stats go
        stale on every append otherwise. Full-width column stats stay
        the dimension tables' concern — see sources/stats.py."""
        from etl_pipeline_candy_store_spark.sources.stats import analyze_table
        from etl_pipeline_candy_store_spark.sources.writers import (
            write_bucketed_table,
        )

        table = table or self.config.transactions_bucketed_table
        if not table:
            raise ValueError(
                "pass a table name or set config.transactions_bucketed_table"
            )
        write_bucketed_table(
            self._request_items(),
            table,
            ["product_id"],
            n_buckets,
            sort_cols=["product_id", "business_date", "file_seq", "item_pos"],
            mode=mode,
        )
        if analyze:
            # table-level + bucket-key ndv: ANALYZE ... FOR COLUMNS also
            # computes the table-level stats, so this is one statement
            analyze_table(self.spark, table, columns=["product_id"])
        return table

    # -- core derivations --------------------------------------------------

    def allocated_lines(self) -> DataFrame:
        """Validated, allocated line items (the pipeline spine).

        explode (F7) → null-qty filter (P3) → inner broadcast join to
        products (P4+J1: unknown ids drop) → ST1 sequential allocation in
        (day, file order, item position) sequence.

        The allocation's physical strategy is picked by
        ``config.allocation_strategy``: the default "auto" runs the
        skew-aware dispatcher. On the JSON path it first bounds the
        request lines by the input's bytes
        (:func:`~etl_pipeline_candy_store_spark.sources.readers.transactions_max_items`);
        when the bound rules out a hot key, the spine stays fully lazy.
        Otherwise (the bucketed table, an input that cannot be sized, or
        one big enough) the dispatcher runs its probe, one
        map-side-combinable aggregate over distinct keys — the only eager
        action on the spine, and the price of not serializing a hot
        product key at 100 TB.
        """
        products = self.load_products().select(
            "product_id",
            F.col("product_name").alias("dim_product_name"),
            F.col("sales_price").cast("double").alias("unit_price"),
            F.col("cost_to_make").cast("double").alias("unit_cost"),
            F.col("stock").alias("opening_stock"),
        )
        if self.config.transactions_bucketed_table:
            # facts pre-bucketed on product_id (see
            # prepare_bucketed_transactions): the broadcast product join
            # preserves the streaming side's partitioning, so the
            # allocation runs input_partitioned — zero fact-side Exchange.
            # Co-location on product_id also co-locates the composite
            # (product_id, business_date) reload key: every row of a
            # product — hence of each of its dates — is in one partition.
            items = self.spark.table(self.config.transactions_bucketed_table)
            input_partitioned = True
            max_rows = None
        else:
            items = self._request_items()
            input_partitioned = False
            # from the configured paths, not load_transactions(): a
            # subclass may load the same files as an already-cached frame
            max_rows = transactions_max_items(
                self.spark, self.config.transactions_paths
            )
        requests = items.join(F.broadcast(products), "product_id", "inner")  # P4/J1
        key = (
            ["product_id", "business_date"]
            if self.config.reload_inventory_daily
            else "product_id"
        )
        alloc_kwargs = dict(
            key_col=key,
            seq_cols=["business_date", "file_seq", "item_pos"],
            qty_col="requested_qty",
            stock_col="opening_stock",
        )
        strategy = self.config.allocation_strategy
        if strategy == "auto":
            allocated = allocate(
                requests,
                input_partitioned=input_partitioned,
                max_rows=max_rows,
                **alloc_kwargs,
                **self.config.allocation_options,
            )
        elif strategy == "sequential":
            allocated = allocate_sequential(
                requests, input_partitioned=input_partitioned, **alloc_kwargs
            )
        elif strategy == "bucketed":
            allocated = allocate_bucketed(
                requests, **alloc_kwargs, **self.config.allocation_options
            )
        else:
            raise ValueError(
                "allocation_strategy must be 'auto', 'sequential' or "
                f"'bucketed', got {strategy!r}"
            )
        # line_total in double, matching the reference's Python float math
        # (qty * float(price), src/data_processor.py:419-431); cancelled
        # lines contribute 0.0 (:440,445-453).
        return allocated.withColumn(
            "line_total", F.col("quantity") * F.col("unit_price")
        ).withColumn(
            "line_profit",
            F.col("quantity") * (F.col("unit_price") - F.col("unit_cost")),
        )

    def order_aggregates(self, lines: DataFrame | None = None) -> DataFrame:
        """A1 — per-order totals (raw numerics, pre-formatting)."""
        lines = lines if lines is not None else self.allocated_lines()
        orders = lines.groupBy(
            "order_id", "customer_id", "order_datetime", "business_date"
        ).agg(
            F.sum("line_total").alias("total_amount"),
            F.sum("line_profit").alias("total_profit"),
            F.sum(F.when(F.col("quantity") > 0, 1).otherwise(0)).alias("num_items"),
        )
        if not self.config.skip_empty_orders:
            # HEAD semantics: every transaction emits an order row, even
            # when all items failed validation (src/data_processor.py:
            # 457-465 with the :454-456 skip commented out).
            tx = self.load_transactions().select(
                F.col("transaction_id").alias("order_id"),
                "customer_id",
                F.col("timestamp").alias("order_datetime"),
                "business_date",
            )
            orders = (
                tx.join(orders.select("order_id", "total_amount", "total_profit", "num_items"),
                        "order_id", "left")
                .fillna({"total_amount": 0.0, "total_profit": 0.0, "num_items": 0})
            )
        return orders

    # -- output tables (golden schemas, FIXTURES.md §4-§8) ------------------

    def orders_output(self, orders: DataFrame | None = None) -> DataFrame:
        orders = orders if orders is not None else self.order_aggregates()
        out = orders.select(
            "order_id",
            "order_datetime",
            "customer_id",
            format_money(F.col("total_amount")).alias("total_amount"),
            "num_items",
        )
        if self.config.enrich_customers:
            cust = self.load_customers().select(
                "customer_id",
                F.concat_ws(" ", "first_name", "last_name").alias("customer_name"),
                "email",
            )
            out = out.join(F.broadcast(cust), "customer_id", "left").select(
                "order_id",
                "order_datetime",
                "customer_id",
                "customer_name",
                "email",
                "total_amount",
                "num_items",
            )
        return out.orderBy(*OUTPUT_ORDER["orders"])

    def order_line_items_output(self, lines: DataFrame | None = None) -> DataFrame:
        lines = lines if lines is not None else self.allocated_lines()
        return lines.select(
            "order_id",
            "product_id",
            "quantity",
            "unit_price",
            format_money(F.col("line_total")).alias("line_total"),
        ).orderBy(*OUTPUT_ORDER["order_line_items"])

    def daily_summary(self, orders: DataFrame | None = None) -> DataFrame:
        """A2 — per-day rollup; date = business date; totals rounded like
        the reference's Python round (HALF_EVEN, src/data_processor.py:
        482-483). Explicit golden schema date/int/double/double."""
        orders = orders if orders is not None else self.order_aggregates()
        return self._daily_rollup(orders).orderBy(*OUTPUT_ORDER["daily_summary"])

    @staticmethod
    def _daily_rollup(orders: DataFrame) -> DataFrame:
        """:meth:`daily_summary` before its sort. The forecast reads the
        rollup through a shuffle, where a sort below it would only cost
        a range-sampling job."""
        return orders.groupBy(F.col("business_date").alias("date")).agg(
            F.count(F.lit(1)).cast("int").alias("num_orders"),
            round_half_even(F.sum("total_amount")).alias("total_sales"),
            round_half_even(F.sum("total_profit")).alias("total_profit"),
        )

    def products_updated(self, lines: DataFrame | None = None) -> DataFrame:
        """Final stock per product = opening − Σ fulfilled (the per-key
        min of the operator's running stock_after). Products never
        requested keep their opening stock.

        Under ``reload_inventory_daily`` the report is the LAST business
        day's closing stock (each day starts fresh), not the all-period
        minimum."""
        lines = lines if lines is not None else self.allocated_lines()
        if self.config.reload_inventory_daily:
            last_day = lines.groupBy("product_id").agg(
                F.max("business_date").alias("business_date")
            )
            final = (
                lines.join(last_day, ["product_id", "business_date"])
                .groupBy("product_id")
                .agg(F.min("stock_after").alias("alloc_stock"))
            )
        else:
            final = lines.groupBy("product_id").agg(
                F.min("stock_after").alias("alloc_stock")
            )
        products = self.load_products()
        return (
            products.join(final, "product_id", "left")
            .select(
                "product_id",
                "product_name",
                F.coalesce(F.col("alloc_stock"), F.col("stock").cast("long"))
                .cast("int")
                .alias("current_stock"),
            )
            .orderBy(*OUTPUT_ORDER["products_updated"])
        )

    def cancelled_items_count(self, lines: DataFrame | None = None) -> int:
        """A3 — global cancelled-items counter (src/data_processor.py:47,439)."""
        lines = lines if lines is not None else self.allocated_lines()
        return lines.filter(F.col("cancelled") == 1).count()

    def forecast(self, summary: DataFrame | None = None) -> DataFrame:
        summary = summary if summary is not None else self.daily_summary()
        return forecast_sales_profit(summary, periods=self.config.forecast_periods)

    # -- orchestration -----------------------------------------------------

    def run(self) -> dict[str, DataFrame]:
        """Build every output lazily. The only eager work is the
        allocation dispatcher's skew probe (strategy "auto"), and none
        at all when the input's byte bound rules out a hot key (see
        :meth:`allocated_lines`)."""
        lines = self.allocated_lines()
        orders = self.order_aggregates(lines)
        summary = self.daily_summary(orders)
        return {
            "order_line_items": self.order_line_items_output(lines),
            "orders": self.orders_output(orders),
            "daily_summary": summary,
            "products_updated": self.products_updated(lines),
            "sales_profit_forecast": self.forecast(summary),
        }

    def save_outputs(self) -> dict[str, str]:
        """S8 — write the five outputs as single CSV files, each sorted
        inside its one partition by its ``OUTPUT_ORDER`` keys, so no
        write runs a range-sampling job. The spine is cached so the four
        derived tables don't recompute allocation: ``order_line_items``
        is written first and fills the cache, then the other four are
        written concurrently (:func:`save_csvs`). Starting all five at
        once would let each write's cache stage materialize the spine on
        its own. A pass over ten candy days (perfbench ``candy_10day``,
        4 cores) runs 18 Spark jobs when the byte bound skips the skew
        probe: per output, one job per shuffle stage AQE materializes
        plus the write (line items 4 with the cache fill, orders 2,
        daily summary 3, products 3, forecast 6). A probe adds 3."""
        lines = self.allocated_lines().cache()
        try:
            out = self.config.output_dir
            paths = save_csvs(
                {"order_line_items": self.order_line_items_output(lines)}, out
            )
            orders = self.order_aggregates(lines)
            summary = self._daily_rollup(orders)
            frames = {
                "orders": self.orders_output(orders),
                "daily_summary": summary,
                "products_updated": self.products_updated(lines),
                "sales_profit_forecast": self.forecast(summary),
            }
            paths.update(save_csvs(frames, out))
            return paths
        finally:
            lines.unpersist()
