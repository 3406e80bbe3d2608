"""Sinks (SURVEY §2.1 S6-S8).

The single-file CSV sink reproduces the reference's output contract
(src/data_processor.py:572-600: coalesce(1) → temp dir → move part file)
— kept ONLY for the small golden outputs. The scale path is partitioned
parquet; never coalesce(1) a large result (SURVEY §4.2).
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame


def save_single_csv(
    df: DataFrame,
    output_dir: str,
    filename: str,
    order_by: Sequence[str] = (),
) -> str:
    """S7 — write ``df`` as ONE csv file with header at
    ``output_dir/filename``. Single-task write: only for small outputs.

    ``order_by`` sorts the rows inside the file's one partition. A
    global ``orderBy`` on ``df`` would give the same file but costs a
    range-sampling job and a range exchange; Spark drops a global sort
    that sits below this local one, so ``df`` may arrive already
    ordered by the same keys."""
    os.makedirs(output_dir, exist_ok=True)
    tmp = os.path.join(output_dir, f"_tmp_{filename.replace('.', '_')}")
    one = df.coalesce(1)
    if order_by:
        one = one.sortWithinPartitions(*order_by)
    (
        one.write.mode("overwrite")
        .option("header", True)
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    final = os.path.join(output_dir, filename)
    if os.path.exists(final):
        os.remove(final)
    shutil.move(part, final)
    shutil.rmtree(tmp)
    return final


def parquet_tuning_options(
    bloom_filter_cols: list[str] | None = None,
    bloom_filter_ndv: int | None = None,
    row_group_bytes: int | None = None,
) -> dict[str, str]:
    """Writer options for scan-side pruning beyond min/max statistics.

    ``bloom_filter_cols`` writes a split-block Bloom filter per row
    group for each named column (``parquet.bloom.filter.enabled#col``).
    This is the point-lookup lever for HIGH-CARDINALITY, UNSORTED keys
    — exactly where min/max row-group stats cannot prune because every
    row group's range spans the domain, and where dictionary-page
    filtering bows out because the dictionary overflows to plain
    encoding. On read, parquet-mr consults the filter per row group and
    skips groups that definitely lack the probed value (``k = ?`` and
    IN-list probes), so a selective dimension-key lookup on a 100 TB
    fact reads a handful of row groups instead of every one — the
    access pattern of the reference's per-id dimension lookups
    (/root/reference/src/data_processor.py:294-306) at scale.
    ``bloom_filter_ndv`` sizes the filter (expected distinct values per
    row group; ~1M ndv ≈ 1.2 MB per column per group at the default
    1% FPP — size it, don't default it, on wide tables).
    ``row_group_bytes`` sets ``parquet.block.size`` — smaller groups =
    finer skip granularity, more footer overhead.

    The cost model: the filter is paid once at write (CPU + footer
    bytes) and consulted from the footer on every selective scan —
    same amortization story as bucketing, but for point predicates
    instead of joins, and readable by ANY parquet engine."""
    opts: dict[str, str] = {}
    for c in bloom_filter_cols or []:
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        if bloom_filter_ndv:
            opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(bloom_filter_ndv)
    if row_group_bytes:
        opts["parquet.block.size"] = str(row_group_bytes)
    return opts


def save_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    dynamic: bool = False,
    parquet_options: dict[str, str] | None = None,
) -> None:
    """The 100 TB sink: multi-part parquet, optionally hive-partitioned
    (e.g. by business_date so downstream scans prune days).

    ``dynamic=True`` switches overwrite to per-partition semantics
    (``partitionOverwriteMode=dynamic``): only partitions PRESENT in
    ``df`` are replaced, the rest of the table is untouched. This is
    the difference between an incremental daily load and truncating a
    100 TB table to rewrite one day — static overwrite (the default,
    matching Spark's) deletes every existing partition first. The mode
    is set as a writer option so it scopes to this write, not the
    session.

    ``parquet_options`` passes writer options through (see
    :func:`parquet_tuning_options` for the Bloom-filter / row-group
    pruning surface)."""
    if dynamic and not partition_by:
        raise ValueError(
            "dynamic=True requires partition_by: without partition columns "
            "the overwrite is a full table truncate, not per-partition"
        )
    writer = df.write.mode("overwrite")
    for k, v in (parquet_options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
        if dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    mode: str = "overwrite",
) -> None:
    """S6 — JDBC sink (reference: src/data_processor.py:237-269).
    Runtime-verified against embedded Derby in ``tests/test_jdbc.py``
    (overwrite replaces, append accumulates, values round-trip)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .mode(mode)
        .save()
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    n_shards: int,
    order_cols: list[str] | None = None,
    compression: str = "zstd",
    fmt: str = "parquet",
) -> dict:
    """Training-data shard export: hash-shard rows into ``n_shards``
    stable buckets (``shard = pmod(xxhash64(key_cols), n)``), write as
    hive-partitioned files (``shard=K/`` directories), and return a
    manifest ``{shard: {n_rows, n_bytes, n_files}, total_rows}``.
    For ``fmt="parquet"`` the manifest comes from parquet FOOTERS only
    (no data re-read); ``fmt="jsonl"`` emits gzip json-lines — the
    training-data interchange format — and counts rows by re-reading
    the written text (the one place a re-read is unavoidable: gzip
    text has no footer metadata).

    Scale posture: shard assignment is a row-local hash (no shuffle for
    the assignment itself; ``partitionBy`` lets every task fan out its
    slice of each shard, so no shard is a single-task bottleneck, unlike
    repartition(n)-one-file-per-shard). Assignment is content-derived,
    so re-running the export reproduces identical shard membership —
    what a resumable 100 TB export needs. ``order_cols`` clusters rows
    for read locality via ONE range repartition on (shard, order_cols):
    a big shard spans many range partitions (parallel writes are kept),
    and pre-sorting each partition on (shard, order_cols) means the
    dynamic-partition writer's required per-task ordering on ``shard``
    is already satisfied — no second sort, and the clustering survives
    into the files.
    """
    from pyspark.sql import functions as F

    if fmt not in ("parquet", "jsonl"):
        raise ValueError(f"fmt must be 'parquet' or 'jsonl', got {fmt!r}")
    out = df.withColumn(
        "shard", F.pmod(F.xxhash64(*key_cols), F.lit(n_shards)).cast("int")
    )
    if order_cols:
        out = out.repartitionByRange(
            F.col("shard"), *[F.col(c) for c in order_cols]
        ).sortWithinPartitions("shard", *order_cols)
    writer = out.write.mode("overwrite").partitionBy("shard")
    if fmt == "parquet":
        writer.option("compression", compression).parquet(path)
        ext = "*.parquet"
    else:
        writer.option("compression", "gzip").json(path)
        ext = "*.json.gz"

    import pyarrow.parquet as pq

    manifest: dict = {"path": path, "n_shards": n_shards, "shards": {}, "total_rows": 0}
    for shard_dir in sorted(glob.glob(os.path.join(path, "shard=*"))):
        shard = int(shard_dir.rsplit("=", 1)[1])
        files = sorted(glob.glob(os.path.join(shard_dir, ext)))
        if fmt == "parquet":
            n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        else:
            n_rows = df.sparkSession.read.text(shard_dir).count()
        n_bytes = sum(os.path.getsize(f) for f in files)
        manifest["shards"][shard] = {
            "n_rows": n_rows,
            "n_bytes": n_bytes,
            "n_files": len(files),
        }
        manifest["total_rows"] += n_rows

    import json

    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Generic format-dispatched sink (parquet / orc / json / csv).
    Columnar formats (parquet, orc) preserve types and enable scan-side
    pushdown on read-back; text formats are for interchange only."""
    from etl_pipeline_candy_store_spark.sources.readers import _FORMATS

    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.format(fmt).save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    parquet_options: dict[str, str] | None = None,
) -> None:
    """Persist ``df`` as a BUCKETED catalog table: rows are hash-
    distributed into ``n_buckets`` files per partition on
    ``bucket_cols`` (and optionally sorted within each bucket).

    This is the co-located-join primitive at 100 TB: two tables
    bucketed on the same join key with the same bucket count join with
    NO Exchange on either side — the bucket layout IS the shuffle,
    paid once at write time and amortized over every subsequent join
    (and, with ``sort_cols``, the sort-merge sort is elided too).
    `tests/test_bucketed_join.py` locks the shuffle-free plan.

    Bucketing requires the session catalog (`saveAsTable`) — bucket
    metadata lives in the table definition, not the parquet files.

    ``parquet_options`` passes writer options through (see
    :func:`parquet_tuning_options`): bucketing co-locates JOIN keys;
    a Bloom filter on a different high-cardinality column adds
    row-group skipping for point lookups the bucket key doesn't serve.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    for k, v in (parquet_options or {}).items():
        writer = writer.option(k, v)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def compact_parquet(
    spark,
    path: str,
    target_mb: int = 128,
    shuffle: bool = False,
) -> dict:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_mb)`` files and atomically swap the new
    version in. Returns ``{files_before, files_after, bytes_before,
    bytes_after, rows}``.

    The small-files problem is the steady-state failure mode of every
    incremental sink (streaming appends, per-batch upserts): a 100 TB
    table accreting KB-sized files pays per-file open/footer costs on
    every scan and overwhelms the namenode. Compaction is the
    maintenance pass that restores scan-sized files.

    Scale posture: with ``shuffle=False`` (default) the rewrite is a
    ``coalesce`` — tasks concatenate co-located input files with NO
    exchange, the right default when input files are uniformly small.
    ``shuffle=True`` round-robins rows for evenly-sized outputs at the
    cost of one full exchange — for inputs with pathological size skew.
    The swap is ``operators/ledger.rewrite_target``, the protocol every
    maintained target shares (write temp → rename aside → rename in),
    so concurrent readers always see a complete version, a crash
    between renames is repaired by the next maintenance run
    (``target_exists``), and the target's ``_``-prefixed side relations
    (a twin's applied-batch ledger, seen set, tombstones) — invisible
    to the parquet read that feeds the rewrite — are carried over.
    """
    import math

    from etl_pipeline_candy_store_spark.operators.ledger import (
        _hadoop_fs,
        rewrite_target,
        target_exists,
    )

    target = path.rstrip("/")
    target_exists(spark, target)  # repair an interrupted swap first
    jvm, fs = _hadoop_fs(spark, target)
    P = jvm.org.apache.hadoop.fs.Path
    statuses = fs.listStatus(P(target))
    data_files = [
        s
        for s in statuses
        if s.isFile() and not s.getPath().getName().startswith(("_", "."))
    ]
    bytes_before = sum(s.getLen() for s in data_files)
    n_out = max(1, math.ceil(bytes_before / (target_mb * 1024 * 1024)))

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.read.parquet(target)
    out = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    # row count piggybacks on the rewrite via observe — no second scan
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
    rewrite_target(spark, target, "compact", out)
    rows = obs.get["rows"]
    after = [
        s
        for s in fs.listStatus(P(target))
        if s.isFile() and not s.getPath().getName().startswith(("_", "."))
    ]
    return {
        "files_before": len(data_files),
        "files_after": len(after),
        "bytes_before": int(bytes_before),
        "bytes_after": int(sum(s.getLen() for s in after)),
        "rows": int(rows),
    }


def compact_partitioned_parquet(
    spark,
    path: str,
    target_mb: int = 128,
    shuffle: bool = False,
) -> dict:
    """Compact every partition directory of a hive-partitioned table
    (``<path>/<col>=<val>/...``), one independent atomic swap per
    partition. Returns ``{partition: stats}`` plus a ``_total`` row.

    Per-partition compaction is deliberate: each swap is atomic on its
    own directory, so a crash mid-table leaves every partition either
    old or new (never mixed), readers of untouched partitions see no
    churn, and the maintenance job parallelizes/restarts trivially —
    re-running skips nothing but redoes no completed work either
    (an already-compact partition rewrites to the same file count).
    Only leaf data directories are touched; ``_``-prefixed entries
    (markers, ledgers) are left alone. Swap artifacts from a crashed
    prior run are NOT partitions: ``operators/ledger.swap_children``
    completes each interrupted partition swap first and leaves the
    artifacts out of the listing, so they are never compacted as bogus
    partition values."""
    from etl_pipeline_candy_store_spark.operators.ledger import swap_children

    parts = [
        name
        for name in swap_children(spark, path)
        if "=" in name and not name.startswith(("_", "."))
    ]
    report: dict = {}
    total = {"files_before": 0, "files_after": 0, "rows": 0}
    for part in sorted(parts):
        stats = compact_parquet(
            spark, path.rstrip("/") + "/" + part, target_mb, shuffle
        )
        report[part] = stats
        for k in total:
            total[k] += stats[k]
    report["_total"] = total
    return report
