"""The benchmark's workloads: inputs, one pass, its output check, and a
traced pass that attributes time and Spark counters to engine layers.

Each workload has ``input_rows``, ``run_pass(spark)``, ``check(result)``
(a list of problems, empty when the outputs are right),
``latencies(result, seconds)`` (the per-query times of a pass),
``traced_pass(spark, trace)`` and ``layer_metrics(trace, log)``.

A traced span runs under a Spark job group named after the layer, so the
event log attributes its jobs, stages and tasks to it. A span's
``busy_s`` is its own wall time: its child spans' time is subtracted.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager, nullcontext

import candy
import corpus
import tables
from eventlog import EventLog, span_counters
from etl_pipeline_candy_store_spark.plans import candy_pipeline
from etl_pipeline_candy_store_spark.plans.candy_pipeline import (
    CandyConfig,
    CandyPipeline,
)
from etl_pipeline_candy_store_spark.plans.curation_pipeline import curate
from etl_pipeline_candy_store_spark.sources.readers import (
    read_products_csv,
    read_transactions_json,
)
from etl_pipeline_candy_store_spark.sources.writers import save_single_csv

#: 3,000 rather than 8,000 a day: the pass is mostly fixed job cost, and
#: the smaller input keeps a run's wall time inside the run budget
CANDY_TXN_PER_DAY = 3000
CANDY_LAYERS = [
    "sources.readers",
    "operators.allocation",
    "plans.candy_pipeline",
    "plans.forecast",
    "sources.writers",
]
CURATE_SPAN = "plans.curation_pipeline"  # metric prefix of curate()'s stages
CURATE_COUNTERS = ["busy_s", "jobs", "stages", "shuffle_bytes"]
#: one query of ``bench.CORE`` per module that registers CORE queries
#: (the frozen set has five relational, three dedup and two similarity
#: queries; a sweep of all 19 does not fit the run budget)
CORE_QUERIES = [
    "q23_daily_summary",
    "q30_allocation_sequential",
    "q52_minhash_lsh_pairs",
    "q60_cosine_topk",
    "q84_gap_fill",
    "q88_histogram_quantile",
    "q122_repetition_signals",
    "q136_pagerank",
    "q173_regional_revenue_cycle",
    "q206_unigram_encode",
    "q217_fellegi_sunter",
    "q233_gate_attribution",
]
CORE_COUNTERS = ["busy_s", "jobs", "stages"]
ENGINE = "etl_pipeline_candy_store_spark."


class Tracer:
    """Nested spans, each under its own Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.self_s: dict[str, float] = {}
        self._stack: list[list] = []  # [name, time spent in child spans]

    def _set_group(self) -> None:
        if self._stack:
            name = self._stack[-1][0]
            self.sc.setJobGroup(name, name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        self._stack.append([name, 0.0])
        self._set_group()
        start = time.perf_counter()
        try:
            yield
        finally:
            elapsed = time.perf_counter() - start
            _, children = self._stack.pop()
            self.self_s[name] = self.self_s.get(name, 0.0) + elapsed - children
            if self._stack:
                self._stack[-1][1] += elapsed
            self._set_group()


def materialize(df):
    """Cache ``df`` and compute it, so the next layer starts from its
    result instead of re-running its lineage."""
    df = df.cache()
    df.count()
    return df


@contextmanager
def patched(module, name: str, replacement):
    """Rebind ``module.name`` for the duration of the block."""
    original = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield
    finally:
        setattr(module, name, original)


class _PreloadedPipeline(CandyPipeline):
    """A pipeline whose sources are already-materialized frames."""

    def __init__(self, spark, config, products, transactions):
        super().__init__(spark, config)
        self._products = products
        self._transactions = transactions

    def load_products(self):
        return self._products

    def load_transactions(self):
        return self._transactions


class CandyWorkload:
    """``CandyPipeline(...).save_outputs()`` over ten seeded days."""

    def __init__(self, data_dir: str, seed: int):
        self.inputs = candy.generate(data_dir, seed, CANDY_TXN_PER_DAY)
        self.expected = candy.replica(self.inputs)
        self.input_rows = self.inputs.request_lines
        self.config = CandyConfig(
            products_csv=self.inputs.products_csv,
            customers_csv=self.inputs.customers_csv,
            transactions_paths=self.inputs.transactions_paths,
            output_dir=os.path.join(data_dir, "out"),
        )

    def run_pass(self, spark) -> dict[str, str]:
        return CandyPipeline(spark, self.config).save_outputs()

    def check(self, paths: dict[str, str]) -> list[str]:
        return candy.check_outputs(paths, self.expected)

    def latencies(self, paths, seconds: float) -> list[float]:
        return [seconds]  # the pass is the query

    def traced_pass(self, spark, trace: dict) -> dict[str, str]:
        """``save_outputs()`` layer by layer: each layer's inputs are
        materialized by the layer before it."""
        tracer = Tracer(spark.sparkContext)
        real_allocate = candy_pipeline.allocate
        cached = []

        def keep(df):
            df = materialize(df)
            cached.append(df)
            return df

        def traced_allocate(requests, **kwargs):
            requests = keep(requests)  # the pipeline's validated request lines
            with tracer.span("operators.allocation"):
                start = time.perf_counter()
                allocated = real_allocate(requests, **kwargs)  # runs the probe
                trace["probe_s"] = time.perf_counter() - start
                return keep(allocated)

        try:
            with tracer.span("sources.readers"):
                products = keep(read_products_csv(spark, self.config.products_csv))
                txns = keep(
                    read_transactions_json(spark, self.config.transactions_paths)
                )
            pipeline = _PreloadedPipeline(spark, self.config, products, txns)
            with tracer.span("plans.candy_pipeline"):
                with patched(candy_pipeline, "allocate", traced_allocate):
                    lines = keep(pipeline.allocated_lines())
                orders = keep(pipeline.order_aggregates(lines))
                summary = keep(pipeline.daily_summary(orders))
                outputs = {
                    "orders": keep(pipeline.orders_output(orders)),
                    "order_line_items": keep(pipeline.order_line_items_output(lines)),
                    "daily_summary": summary,
                    "products_updated": keep(pipeline.products_updated(lines)),
                }
            with tracer.span("plans.forecast"):
                outputs["sales_profit_forecast"] = keep(pipeline.forecast(summary))
            with tracer.span("sources.writers"):
                paths = {
                    name: save_single_csv(df, self.config.output_dir, f"{name}.csv")
                    for name, df in outputs.items()
                }
        finally:
            for df in cached:
                df.unpersist()
        trace["self_s"] = tracer.self_s
        return paths

    def layer_metrics(self, trace: dict, log: EventLog) -> dict[str, float]:
        out = {}
        for layer in CANDY_LAYERS:
            counters = span_counters(log.groups.get(layer), trace["self_s"][layer])
            for k, v in counters.items():
                out[f"{layer}.{k}"] = v
        out["operators.allocation.probe_s"] = trace["probe_s"]
        out["operators.allocation.fulfilled_ratio"] = candy.fulfilled_ratio(
            os.path.join(self.config.output_dir, "order_line_items.csv")
        )
        return out


class _StageLaps(dict):
    """``curate()``'s ``stage_seconds`` hook used as span boundaries:
    recording a stage's lap closes that stage, so the jobs after it run
    under the next stage's job group."""

    def __init__(self, sc):
        super().__init__()
        self.sc = sc
        self.ends: list[tuple[str, float]] = []
        self.start = time.perf_counter()
        self._next_group()

    def _next_group(self) -> None:
        name = f"curate.stage{len(self.ends)}"
        self.sc.setJobGroup(name, name)

    def __setitem__(self, stage, seconds):
        super().__setitem__(stage, seconds)
        self.ends.append((stage, time.perf_counter()))
        self._next_group()

    def spans(self) -> list[tuple[str, str, float]]:
        """(stage, job group, wall seconds) per stage, in order."""
        out, last = [], self.start
        for k, (stage, end) in enumerate(self.ends):
            out.append((stage, f"curate.stage{k}", end - last))
            last = end
        return out


class CurateRun:
    """``curate()`` on the fixed corpus, row order and file split from
    the seed: the ``plans.curation_pipeline`` entry of the core sweep."""

    def __init__(self, data_dir: str, seed: int):
        self.sf_dir = os.path.join(data_dir, "sf")
        self.out_dir = os.path.join(data_dir, "shards")
        self.input_rows = corpus.write_documents(self.sf_dir, seed)

    def run(self, spark) -> dict:
        return curate(spark, self.sf_dir, self.out_dir, n_shards=4)

    def check(self, report: dict) -> list[str]:
        problems = []
        funnel = report["funnel"]
        if funnel != corpus.EXPECTED_FUNNEL:
            problems.append(f"funnel {funnel} != {corpus.EXPECTED_FUNNEL}")
        n_split = sum(s["n_docs"] for s in report["splits"].values())
        if n_split != funnel["after_decontamination"]:
            problems.append(f"splits hold {n_split} docs")
        return problems

    def traced(self, spark, trace: dict) -> dict:
        laps = _StageLaps(spark.sparkContext)
        try:
            report = curate(spark, self.sf_dir, self.out_dir, n_shards=4, stage_seconds=laps)
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        trace["curate_spans"] = laps.spans()
        return report

    def layer_metrics(self, trace: dict, log: EventLog) -> dict[str, float]:
        out = {}
        for stage, group, wall in trace["curate_spans"]:
            counters = span_counters(log.groups.get(group), wall)
            for k in CURATE_COUNTERS:
                out[f"{CURATE_SPAN}.{stage}.{k}"] = counters[k]
        out[f"{CURATE_SPAN}.cached_bytes_peak"] = log.cached_bytes_peak
        return out


class CoreWorkload:
    """A sweep of ``CORE_QUERIES`` over seeded tables plus ``curate()``
    over the fixed corpus, in a seeded order that changes every sweep.
    Each query result is collected to the driver and checked against its
    DuckDB oracle, computed once before the first sweep; ``curate()`` is
    checked against the pinned funnel."""

    def __init__(self, data_dir: str, seed: int):
        import duckdb
        from tools.check_oracle import TABLES, canon

        from etl_pipeline_candy_store_spark.plans import catalog

        catalog._ensure_loaded()
        self.sf_dir = os.path.join(data_dir, "sf")
        self.curate = CurateRun(os.path.join(data_dir, "curate"), seed)
        self.input_rows = tables.write_tables(self.sf_dir, seed) + self.curate.input_rows
        self.queries = {q: catalog.REGISTRY[q] for q in CORE_QUERIES}
        self.canon = canon
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {
                name: canon(con.execute(q.oracle).fetchdf())
                for name, q in self.queries.items()
            }
        finally:
            con.close()
        self.rng = random.Random(seed)

    def _sweep(self, spark, trace: dict | None = None) -> dict[str, tuple]:
        """Each entry once: name -> (result, seconds). With ``trace``,
        each query runs in a span named after its module and ``curate()``
        in one span per stage."""
        tracer = Tracer(spark.sparkContext) if trace is not None else None
        order = [*self.queries, CURATE_SPAN]
        self.rng.shuffle(order)
        out = {}
        for name in order:
            start = time.perf_counter()
            if name == CURATE_SPAN:
                result = (
                    self.curate.run(spark) if tracer is None
                    else self.curate.traced(spark, trace)
                )
            else:
                query = self.queries[name]
                with tracer.span(layer_of(query.builder)) if tracer else nullcontext():
                    result = query.builder(spark, self.sf_dir).toPandas()
            out[name] = (result, time.perf_counter() - start)
        if tracer is not None:
            trace["self_s"] = tracer.self_s
        return out

    def run_pass(self, spark) -> dict[str, tuple]:
        return self._sweep(spark)

    def check(self, results: dict[str, tuple]) -> list[str]:
        problems = self.curate.check(results[CURATE_SPAN][0])
        return problems + [
            name for name, (pdf, _) in results.items()
            if name != CURATE_SPAN and self.canon(pdf) != self.expected[name]
        ]

    def latencies(self, results: dict[str, tuple], seconds: float) -> list[float]:
        return [t for _, t in results.values()]

    def traced_pass(self, spark, trace: dict) -> dict[str, tuple]:
        return self._sweep(spark, trace)

    def layer_metrics(self, trace: dict, log: EventLog) -> dict[str, float]:
        out = self.curate.layer_metrics(trace, log)
        for layer, seconds in trace["self_s"].items():
            counters = span_counters(log.groups.get(layer), seconds)
            for k in CORE_COUNTERS:
                out[f"{layer}.{k}"] = counters[k]
        return out


def layer_of(fn) -> str:
    """The engine module that defines ``fn``, without the package prefix
    (``operators.dedup``)."""
    return fn.__module__.removeprefix(ENGINE)


WORKLOADS = {"candy_10day": CandyWorkload, "core_queries": CoreWorkload}
