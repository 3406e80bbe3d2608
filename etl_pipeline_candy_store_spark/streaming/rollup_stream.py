"""Streaming incremental-rollup maintenance: a ``foreachBatch`` sink
that keeps the q164 per-(month, status) order rollup current by merging
each micro-batch's PARTIAL AGGREGATES into a parquet target — the
streaming counterpart of the batch partial-merge operator
(plans/relational.py: q164_incremental_rollup).

Shape: per micro-batch, (1) aggregate the batch to (month, status,
count, revenue-cents) partials — counts and integer cents, so the merge
is exact integer addition with no accumulation-order drift, (2) union
with the current target and re-aggregate (count+count, cents+cents),
(3) rewrite the target via the write-temp-then-atomic-swap protocol
every maintained target shares (``operators/ledger.commit_applied``).
At 100 TB this is the pattern that keeps a daily revenue rollup fresh
by scanning ONLY the new arrivals:
per-batch work is one batch-sized aggregation plus a merge against a
rollup whose size is bounded by (months x statuses), never by history.

Exactly-once posture: unlike the upsert sink, a sum-merge is NOT
idempotent (re-adding a replayed batch double-counts), so this sink
carries an applied-batch ledger INSIDE the target directory
(``<target>/_applied`` — underscore-prefixed paths are invisible to
parquet readers of the target, and the ledger swaps atomically with the
data in the same directory rename). A redelivered batch id found in the
ledger is skipped, upgrading foreachBatch's at-least-once delivery to
exactly-once application — the standard recipe Structured Streaming
documents for non-idempotent sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import commit_applied
from etl_pipeline_candy_store_spark.operators.merge import merge_sum


def _batch_partials(batch: DataFrame) -> DataFrame:
    return batch.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.sum(F.col("o_totalprice").cast("decimal(15,2)")) * 100)
        .cast("long")
        .alias("revenue_cents"),
    )


def stream_incremental_rollup(
    order_stream: DataFrame, *, target_path: str, checkpoint_path: str
):
    """Attach the rollup-maintenance foreachBatch sink; returns the
    (unstarted) ``DataStreamWriter``. After every applied batch the
    target parquet holds exactly the rollup a from-scratch q164-style
    recompute over all rows seen so far would produce."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        partials = _batch_partials(batch)
        commit_applied(
            batch.sparkSession,
            target_path,
            batch_id,
            lambda cur: merge_sum(cur, partials, ["month", "o_orderstatus"]),
        )

    return (
        order_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
