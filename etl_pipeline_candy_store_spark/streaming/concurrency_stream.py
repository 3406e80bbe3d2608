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
never by history), (3) the same write-temp-then-atomic-swap + applied-
batch-ledger protocol upgrades redelivery to exactly-once application.
Consumers derive concurrency/peaks from the tiny maintained relation
with :func:`~etl_pipeline_candy_store_spark.operators.sweepline.\
concurrency_from_byday` — at 100 TB the expensive side (interval
arrival) is incremental, and the windowed side stays calendar-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import _hadoop_fs
from etl_pipeline_candy_store_spark.operators.sweepline import interval_deltas
from etl_pipeline_candy_store_spark.streaming.upsert_sink import (
    _fs_recover,
    _fs_swap,
)

_LEDGER = "_applied"


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
        spark = batch.sparkSession
        _fs_recover(spark, target_path)
        jvm, fs = _hadoop_fs(spark, target_path)
        P = jvm.org.apache.hadoop.fs.Path
        target = target_path.rstrip("/")
        partials = (
            interval_deltas(batch, start_col, end_col)
            .groupBy("d")
            .agg(F.sum("delta").cast("long").alias("delta"))
        )
        # only the MAX applied batch_id is stored: batch ids are
        # monotonic and only recent batches redeliver, so `<= max` is
        # the replay test and ledger I/O stays O(1) per batch (a legacy
        # multi-row ledger reads as the max of its rows)
        applied_max = -1
        if fs.exists(P(target)):
            if fs.exists(P(target + "/" + _LEDGER)):
                # default=-1: a zero-row ledger (crash between swap
                # steps) means "nothing applied" — recover, don't wedge
                applied_max = max(
                    (
                        r["batch_id"]
                        for r in spark.read.parquet(
                            target + "/" + _LEDGER
                        ).collect()
                    ),
                    default=-1,
                )
            if batch_id <= applied_max:
                return  # replayed delivery — already merged, skip
            merged = (
                spark.read.parquet(target)
                .unionByName(partials)
                .groupBy("d")
                .agg(F.sum("delta").cast("long").alias("delta"))
            )
        else:
            merged = partials
        tmp = target + f"._tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        ledger = spark.createDataFrame(
            [(int(batch_id),)], "batch_id long"
        )
        ledger.coalesce(1).write.mode("overwrite").parquet(tmp + "/" + _LEDGER)
        _fs_swap(spark, tmp, target)

    return (
        interval_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
