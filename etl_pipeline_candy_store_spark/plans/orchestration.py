"""Task-graph orchestration with parquet checkpoints (SURVEY §3.2, §7 M4).

The reference's Airflow DAG (candy_dag.py:136-164) runs four
PythonOperators — load → process → forecast → cleanup — where EACH task
rebuilds its own SparkSession and recomputes the whole pipeline, because
the inventory dict lives in one worker's process memory
(candy_dag.py:80-126). Here the same DAG shape checkpoints every derived
table as parquet between tasks, so each task reads its predecessor's
output instead of recomputing (and any scheduler — Airflow, cron, the
driver below — can run the tasks in separate processes).

Airflow itself is not a dependency: ``CANDY_DAG`` is a plain task list
with dependencies; ``build_airflow_dag`` adapts it to PythonOperators when
airflow is importable (it is not, in this container).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import SparkSession

from etl_pipeline_candy_store_spark.plans.candy_pipeline import (
    CandyConfig,
    CandyPipeline,
    save_csvs,
)


@dataclass(frozen=True)
class Task:
    name: str
    upstream: tuple[str, ...]
    fn: Callable[[SparkSession, CandyConfig, str], None]


def _ckpt(checkpoint_dir: str, table: str) -> str:
    return os.path.join(checkpoint_dir, table)


def task_load(spark: SparkSession, cfg: CandyConfig, ckpt: str) -> None:
    """Ingest raw sources → canonical parquet (dims + validated lines with
    allocation applied — the pipeline spine computed exactly once)."""
    pipe = CandyPipeline(spark, cfg)
    pipe.load_products().write.mode("overwrite").parquet(_ckpt(ckpt, "products"))
    pipe.load_customers().write.mode("overwrite").parquet(_ckpt(ckpt, "customers"))
    # Scale note: partitioned by business_date so every downstream task
    # prunes to the days it touches.
    pipe.allocated_lines().write.mode("overwrite").partitionBy("business_date").parquet(
        _ckpt(ckpt, "allocated_lines")
    )


def task_process(spark: SparkSession, cfg: CandyConfig, ckpt: str) -> None:
    """Derive + persist the four output tables from the checkpoint (no
    recomputation of allocation). The four CSV writes run concurrently:
    nothing is cached, so no write waits on another's result."""
    pipe = CandyPipeline(spark, cfg)
    lines = spark.read.parquet(_ckpt(ckpt, "allocated_lines"))
    orders = pipe.order_aggregates(lines)
    summary = pipe.daily_summary(orders)
    summary.write.mode("overwrite").parquet(_ckpt(ckpt, "daily_summary"))
    frames = {
        "orders": pipe.orders_output(orders),
        "order_line_items": pipe.order_line_items_output(lines),
        "daily_summary": summary,
        "products_updated": pipe.products_updated(lines),
    }
    save_csvs(frames, cfg.output_dir)


def task_forecast(spark: SparkSession, cfg: CandyConfig, ckpt: str) -> None:
    pipe = CandyPipeline(spark, cfg)
    summary = spark.read.parquet(_ckpt(ckpt, "daily_summary"))
    save_csvs({"sales_profit_forecast": pipe.forecast(summary)}, cfg.output_dir)


def task_cleanup(spark: SparkSession, cfg: CandyConfig, ckpt: str) -> None:
    """Placeholder matching the reference DAG's cleanup task
    (candy_dag.py:129-133 just logs); checkpoint retention policy goes
    here in a deployment."""


CANDY_DAG: tuple[Task, ...] = (
    Task("load_data", (), task_load),
    Task("process_data", ("load_data",), task_process),
    Task("generate_forecast", ("process_data",), task_forecast),
    Task("cleanup", ("generate_forecast",), task_cleanup),
)


def run_dag(spark: SparkSession, cfg: CandyConfig, checkpoint_dir: str) -> list[str]:
    """Topological execution (the dependency list is already ordered)."""
    done: list[str] = []
    for task in CANDY_DAG:
        missing = [u for u in task.upstream if u not in done]
        if missing:
            raise RuntimeError(f"task {task.name} missing upstream {missing}")
        task.fn(spark, cfg, checkpoint_dir)
        done.append(task.name)
    return done


def build_airflow_dag(cfg: CandyConfig, checkpoint_dir: str):
    """Adapt CANDY_DAG to an Airflow DAG (daily 06:00, retries=1 like
    candy_dag.py:139,17-18). Import-gated: airflow is absent here."""
    try:
        from airflow import DAG
        from airflow.operators.python import PythonOperator
        from datetime import datetime, timedelta
    except ImportError as exc:  # pragma: no cover
        raise ImportError("airflow not installed in this environment") from exc

    dag = DAG(
        "candy_store_batch_dag",
        schedule_interval="0 6 * * *",
        start_date=datetime(2024, 2, 1),
        catchup=False,
        default_args={"retries": 1, "retry_delay": timedelta(minutes=5)},
    )
    ops = {}
    for task in CANDY_DAG:
        def _run(task=task):
            from etl_pipeline_candy_store_spark.session import get_spark

            task.fn(get_spark("candy-dag"), cfg, checkpoint_dir)

        ops[task.name] = PythonOperator(
            task_id=task.name, python_callable=_run, dag=dag
        )
    for task in CANDY_DAG:
        for up in task.upstream:
            ops[up] >> ops[task.name]
    return dag
