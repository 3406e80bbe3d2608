"""AQE-interplay guard for the allocation colocation contract (ST1).

allocate_sequential's correctness rests on "every key's rows are in
exactly ONE task" — via its own repartition(keys) or a bucketed scan.
AQE rewrites partitions at runtime in three ways, and none of them
breaks the invariant:

- partition coalescing DOES apply to a user repartition(cols)
  (shuffle origin REPARTITION_BY_COL), and, since the session sets
  ``canChangeCachedPlanOutputPartitioning``, to cached plans too: the
  candy allocation's 32 hash partitions read as 3 tasks over its 73,933
  request lines. Coalescing only merges whole, adjacent hash
  partitions and never splits one, so each key still lands in one task;
- skew splitting touches only REBALANCE_* shuffles
  (optimizeSkewsInRebalancePartitions) and SortMergeJoin/ShuffledHashJoin
  reads (skew-join), and the allocation stage is a repartition feeding
  mapInPandas, not a rebalance or a join;
- the bucketed-input path has NO exchange for AQE to rewrite at all
  (and autoBucketedScan is forced off so the scan stays bucketed).

These tests force the most aggressive skew/coalesce settings and assert
the one-task-per-key invariant and result equality anyway — so a Spark
upgrade that changes these rules fails HERE, not as silent stock
corruption at scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.allocation import (
    allocate_sequential,
)
from etl_pipeline_candy_store_spark.sources.writers import write_bucketed_table

_KW = dict(key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")

_AGGRESSIVE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled": "true",
}


def _skewed(spark, total=200_000, hot=120_000):
    # one hot key holds most rows — several MB in one shuffle partition,
    # far above the 16KB thresholds forced below
    return spark.range(total).select(
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise((F.col("id") % 50) + 1)
        .cast("int")
        .alias("key"),
        F.col("id").cast("long").alias("seq"),
        (F.col("id") % 3 + 1).cast("int").alias("qty"),
        F.lit(100_000).cast("long").alias("stock"),
    )


@pytest.fixture()
def aggressive_aqe(spark):
    saved = {k: spark.conf.get(k, None) for k in _AGGRESSIVE}
    for k, v in _AGGRESSIVE.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_repartition_by_col_not_split_by_aqe(spark, aggressive_aqe):
    # the invariant itself, measured: after repartition(key) every key
    # observes exactly one spark_partition_id at execution time — even
    # with skew thresholds set low enough that the hot key's partition
    # would be split many times over if the exemption didn't hold
    pids = (
        _skewed(spark)
        .repartition("key")
        .select("key", F.spark_partition_id().alias("pid"))
        .groupBy("key")
        .agg(F.countDistinct("pid").alias("n_pids"))
        .where(F.col("n_pids") > 1)
        .count()
    )
    assert pids == 0


def test_allocation_identical_under_aggressive_aqe(spark, aggressive_aqe):
    got = sorted(
        map(tuple, allocate_sequential(_skewed(spark), **_KW).collect())
    )
    # reference run without AQE interference (plain confs restored by
    # fixture ordering is not enough — compute it with AQE fully off)
    for k in _AGGRESSIVE:
        spark.conf.unset(k)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        want = sorted(
            map(tuple, allocate_sequential(_skewed(spark), **_KW).collect())
        )
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")
    assert got == want
    assert any(r[-2] == 1 for r in got)  # cancellations exercised


def test_bucketed_path_identical_under_aggressive_aqe(spark, aggressive_aqe):
    tbl = "b_aqe_skew_alloc"
    try:
        write_bucketed_table(
            _skewed(spark), tbl, ["key"], 4, sort_cols=["key", "seq"]
        )
        got = sorted(
            map(
                tuple,
                allocate_sequential(
                    spark.table(tbl), input_partitioned=True, **_KW
                ).collect(),
            )
        )
        want = sorted(
            map(tuple, allocate_sequential(_skewed(spark), **_KW).collect())
        )
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_cached_allocation_coalesced_one_task_per_key(spark, aggressive_aqe):
    # a cached allocation keeps AQE's coalesced partitioning (the
    # session's canChangeCachedPlanOutputPartitioning): 32 hash
    # partitions merge into fewer, each holding several keys, and still
    # no key spans two partitions and the result is unchanged
    extra = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in extra}
    for k, v in extra.items():
        spark.conf.set(k, v)
    cached = allocate_sequential(_skewed(spark), **_KW).cache()
    try:
        got = sorted(map(tuple, cached.collect()))
        n_parts = cached.rdd.getNumPartitions()
        split_keys = (
            cached.select("key", F.spark_partition_id().alias("pid"))
            .groupBy("key")
            .agg(F.countDistinct("pid").alias("n_pids"))
            .where(F.col("n_pids") > 1)
            .count()
        )
    finally:
        cached.unpersist()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert 1 < n_parts < 32
    assert split_keys == 0
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        want = sorted(
            map(tuple, allocate_sequential(_skewed(spark), **_KW).collect())
        )
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")
    assert got == want
