"""Streaming sweep-line maintenance: a ``foreachBatch`` sink that keeps
the q190 per-day interval-delta relation current as interval rows
(order open/close spans) arrive.

The batch operator (operators/sweepline.py) collapses intervals to
+1/-1 day deltas and windows over the CALENDAR-bounded per-day totals.
That delta relation is an integer-additive partial aggregate — exactly
the shape the rollup maintenance sink (streaming/rollup_stream.py)
merges incrementally — so the streaming twin maintains ONLY the byday
table: per micro-batch, (1) the arriving intervals' day deltas
aggregate to per-day partials (batch-sized work), (2) partials merge
into the target by integer addition (target bounded by the calendar,
never by history), (3) the shared applied-batch ledger commit
(``operators/ledger.commit_applied``) upgrades redelivery to
exactly-once application.
Consumers derive concurrency/peaks from the tiny maintained relation
with :func:`~etl_pipeline_candy_store_spark.operators.sweepline.\
concurrency_from_byday` — at 100 TB the expensive side (interval
arrival) is incremental, and the windowed side stays calendar-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import commit_applied
from etl_pipeline_candy_store_spark.operators.merge import merge_sum
from etl_pipeline_candy_store_spark.operators.sweepline import interval_deltas


def stream_interval_deltas(
    interval_stream: DataFrame,
    *,
    start_col: str,
    end_col: str,
    target_path: str,
    checkpoint_path: str,
):
    """Attach the byday-delta maintenance sink; returns the (unstarted)
    ``DataStreamWriter``. After every applied batch the target parquet
    holds exactly the (d, delta) relation a from-scratch sweep over all
    intervals seen so far would produce."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        partials = (
            interval_deltas(batch, start_col, end_col)
            .groupBy("d")
            .agg(F.sum("delta").cast("long").alias("delta"))
        )
        commit_applied(
            batch.sparkSession,
            target_path,
            batch_id,
            lambda cur: merge_sum(cur, partials, ["d"]),
        )

    return (
        interval_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
