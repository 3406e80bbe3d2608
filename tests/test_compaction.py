"""Small-files compaction: content-identical rewrite into scan-sized
files via the atomic two-rename swap."""

from __future__ import annotations

import os

from pyspark.sql.functions import col as F_col

from etl_pipeline_candy_store_spark.plans.catalog import load
from etl_pipeline_candy_store_spark.sources.writers import compact_parquet

SF = "/root/testdata/sf0.001"


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_compact_merges_small_files_content_identical(spark, tmp_path):
    target = str(tmp_path / "t")
    orders = load(spark, SF, "orders")
    orders.repartition(40).write.parquet(target)  # 40 tiny files
    before = _rows(spark, target)
    n_files_before = len(
        [f for f in os.listdir(target) if f.endswith(".parquet")]
    )
    assert n_files_before >= 40

    stats = compact_parquet(spark, target, target_mb=128)

    assert stats["files_before"] == n_files_before
    assert stats["files_after"] < n_files_before
    assert stats["files_after"] == 1  # sf0.001 orders << 128 MB
    assert stats["rows"] == len(before)
    assert _rows(spark, target) == before  # content byte-identical
    assert os.listdir(tmp_path) == ["t"]  # no ._old / temp version left


def test_compact_shuffle_mode_and_rerun_stable(spark, tmp_path):
    target = str(tmp_path / "t")
    load(spark, SF, "orders").repartition(16).write.parquet(target)
    before = _rows(spark, target)

    s1 = compact_parquet(spark, target, target_mb=128, shuffle=True)
    assert s1["files_after"] == 1 and _rows(spark, target) == before
    # re-running compaction on an already-compact table is a no-op
    # rewrite: same file count, same content
    s2 = compact_parquet(spark, target, target_mb=128)
    assert s2["files_before"] == s2["files_after"] == 1
    assert _rows(spark, target) == before


def test_compact_recovers_mid_swap_crash(spark, tmp_path):
    """A crash between the swap renames leaves ``._old`` and no target;
    the next compaction run restores it before proceeding."""
    import shutil

    target = str(tmp_path / "t")
    load(spark, SF, "orders").repartition(8).write.parquet(target)
    before = _rows(spark, target)

    shutil.move(target, target + "._old")
    stats = compact_parquet(spark, target, target_mb=128)
    assert stats["rows"] == len(before)
    assert _rows(spark, target) == before
    assert not os.path.exists(target + "._old")


def test_compact_keeps_side_relations(spark, tmp_path):
    """A maintained target's ``_``-prefixed side relations (applied
    ledger, tombstones) are invisible to the parquet read that feeds
    the rewrite; compaction must carry them, or a replayed batch
    re-applies and purged docs come back."""
    from etl_pipeline_candy_store_spark.operators.ledger import (
        read_max_applied,
    )

    target = str(tmp_path / "t")
    spark.range(50).repartition(10).write.parquet(target)
    spark.createDataFrame([(7,)], "batch_id long").write.parquet(
        target + "/_applied"
    )
    spark.createDataFrame([(3,), (4,)], "doc_id long").write.parquet(
        target + "/_purged_docs"
    )

    stats = compact_parquet(spark, target, target_mb=128)

    assert stats["files_after"] == 1 and stats["rows"] == 50
    assert read_max_applied(spark, target) == 7
    assert _rows(spark, target + "/_purged_docs") == [(3,), (4,)]
    assert spark.read.parquet(target).count() == 50


def test_compact_partitioned_table_per_partition_swap(spark, tmp_path):
    from etl_pipeline_candy_store_spark.sources.writers import (
        compact_partitioned_parquet,
    )

    path = str(tmp_path / "t")
    orders = load(spark, SF, "orders")
    (
        orders.withColumn(
            "pri", F_col("o_orderpriority")
        ).repartition(10).write.partitionBy("pri").parquet(path)
    )
    before = sorted(
        map(tuple, spark.read.parquet(path).drop("pri").collect())
    )

    report = compact_partitioned_parquet(spark, path, target_mb=128)

    parts = [k for k in report if k != "_total"]
    assert len(parts) == 5  # five priorities
    assert all(report[p]["files_after"] == 1 for p in parts)
    assert report["_total"]["files_before"] > report["_total"]["files_after"]
    after = sorted(
        map(tuple, spark.read.parquet(path).drop("pri").collect())
    )
    assert after == before


def test_partitioned_compact_repairs_crashed_partition_swap(spark, tmp_path):
    """A '<part>._old' leftover (crash between the swap renames, the
    original partition dir vanished) must be restored and compacted
    under its REAL partition value — not compacted as a bogus
    'X._old' partition."""
    import shutil

    from etl_pipeline_candy_store_spark.sources.writers import (
        compact_partitioned_parquet,
    )

    path = str(tmp_path / "t")
    orders = load(spark, SF, "orders")
    (
        orders.withColumn("pri", F_col("o_orderpriority"))
        .repartition(6)
        .write.partitionBy("pri")
        .parquet(path)
    )
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    parts = sorted(
        d for d in os.listdir(path) if d.startswith("pri=") and "=" in d
    )
    crashed = os.path.join(path, parts[0])
    # simulate the crash window: partition moved aside, not yet replaced
    shutil.move(crashed, crashed + "._old")
    # plus a stale tmp from the interrupted rewrite
    os.makedirs(crashed + "._compact-tmp", exist_ok=True)

    report = compact_partitioned_parquet(spark, path, target_mb=128)

    listed = [k for k in report if k != "_total"]
    assert sorted(listed) == parts  # no 'X._old' / 'X._compact-tmp' keys
    assert os.path.isdir(crashed)  # recovered, then compacted in place
    assert not os.path.exists(crashed + "._old")
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before


def test_dynamic_without_partition_by_raises(spark):
    from etl_pipeline_candy_store_spark.sources.writers import (
        save_partitioned_parquet,
    )

    df = spark.range(3)
    import pytest

    with pytest.raises(ValueError, match="partition_by"):
        save_partitioned_parquet(df, "/tmp/never-written", dynamic=True)
