"""Hot-key allocation probe: one key holds 50% of all rows; compare
wall time of the plain partition-sorted operator (the hot key fully
serializes in one task) against allocate_bucketed (contiguous sequence
buckets in parallel + one-shot suffix repair), verifying result
identity on the fly.

Two shapes, because the win depends on WHERE the first cancellation
lands (allocation after a cancellation is sequentially dependent on
every prior line — a semantic bound, not an implementation one):

  - "no_exhaust": the hot key never runs out — optimism holds, phase 2
    skipped, hot work is a pure JVM cumsum (best case);
  - "late_exhaust": stock runs out ~75% through — prefix parallel,
    final quarter re-run serially in the repair pass.

    SPARK_GRAFT_DRIVER_MEM=32g python tools/hotkey_probe.py [total_rows] [n_buckets]

``SPARK_GRAFT_CPUS`` sets the ``local[N]`` core count (default 32); the
report records it as ``cpus``.

The crossover is where the hot key's SERIAL loop time (~1M rows/s/core)
outgrows the bucketed plan's extra full-data passes (checkpoint + range
join + window): on local[32] that is hot keys of a few million rows —
measured at 20M total / 10M hot: no_exhaust 1.9x, late_exhaust 1.2x,
growing with hot-key size. Below that, use plain allocate_sequential.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.allocation import (
    allocate_bucketed,
    allocate_sequential,
)


def make_requests(spark, total: int, hot_stock: int):
    hot = total // 2
    # hot key 0 with 50% of rows; the rest spread over 2000 well-stocked
    # keys (cancellation isolated to the hot key, the shape under test)
    return (
        spark.range(total)
        .select(
            F.when(F.col("id") < hot, F.lit(0))
            .otherwise((F.col("id") % 2000) + 1)
            .cast("int")
            .alias("key"),
            F.col("id").cast("long").alias("seq"),
            (F.col("id") % 3 + 1).cast("int").alias("qty"),
            F.when(F.col("id") < hot, F.lit(hot_stock))
            .otherwise(F.lit(10_000_000))
            .cast("long")
            .alias("stock"),
        )
        .repartition(32)
        .localCheckpoint()
    )


def fingerprint(d):
    return tuple(
        d.agg(
            F.sum("quantity"),
            F.sum("cancelled"),
            F.sum(
                F.pmod(
                    F.col("stock_after") * F.lit(31) + F.col("seq"),
                    F.lit(1_000_003),
                )
            ),
        ).collect()[0]
    )


def main() -> None:
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    from etl_pipeline_candy_store_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("hotkey-probe", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    hot = total // 2
    kw = dict(key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    report = {
        "cpus": cpus,
        "rows": total,
        "hot_share": 0.5,
        "n_buckets": n_buckets,
    }

    for shape, hot_stock in [
        ("no_exhaust", hot * 2),          # avg qty 2 -> never exhausts
        ("late_exhaust", int(hot * 1.5)),  # exhausts ~75% through
    ]:
        df = make_requests(spark, total, hot_stock)
        # each timed leg executes the full plan INTO the fingerprint
        # aggregate (three map-side-combined sums — negligible over the
        # allocation itself), so one execution yields both the wall
        # time and the identity check. The previous probe
        # localCheckpoint-ed both 200M-row outputs instead, and a
        # 100M-row hot partition cannot be cached as one deserialized
        # block — the ladder's top rung OOMed the probe, not the
        # operator (allocate_sequential streams the hot key through
        # mapInPandas in Arrow batches).
        t0 = time.time()
        fp_seq = fingerprint(allocate_sequential(df, **kw))
        t_seq = round(time.time() - t0, 2)
        t0 = time.time()
        fp_bkt = fingerprint(allocate_bucketed(df, n_buckets=n_buckets, **kw))
        t_bkt = round(time.time() - t0, 2)
        report[shape] = {
            "sequential_sec": t_seq,
            "bucketed_sec": t_bkt,
            "speedup": round(t_seq / max(t_bkt, 0.01), 2),
            "identical": fp_seq == fp_bkt,
        }
        df.unpersist()

    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
