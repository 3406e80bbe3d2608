"""Streaming CDC apply: a ``foreachBatch`` sink that upserts each
micro-batch into a parquet target — the incremental counterpart of the
batch MERGE operator (operators/merge.py, oracle q38).

Shape: per micro-batch, (1) collapse the batch to its LAST update per
key (deterministic: max ``seq_col``, ties impossible when seq is a
true version column), (2) ``merge_upsert`` against the current target
(one left-anti shuffle on the keys + union), (3) rewrite the target via
write-temp-then-rename using the Hadoop FileSystem API, so the swap is
a metadata operation on HDFS-like stores rather than a copy.

Exactly-once posture: Structured Streaming's checkpoint gives
at-least-once delivery of each micro-batch to ``foreachBatch``; the
apply is idempotent per batch (re-merging the same updates yields the
same target), so replays after a crash converge — the standard
foreachBatch contract. On a real cluster you would point this at a
transactional table format (Delta/Iceberg MERGE) to get concurrent
readers; the micro-batch mechanics — batch-local dedup, key-join merge,
atomic swap — are identical, and this implementation keeps the whole
path on the builtin parquet source so it has zero extra dependencies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_candy_store_spark.operators.ledger import _hadoop_fs, fs_exists
from etl_pipeline_candy_store_spark.operators.merge import merge_upsert


#: tombstone subdir for purged doc_ids — underscore-prefixed so parquet
#: readers of a twin's state never see it. Purge durability under
#: at-least-once delivery (ADVICE r14): a purge that merely removes a
#: document's rows (and, for the winnow twin, its seen-set entry) is
#: undone the moment the upstream feed redelivers that doc_id in a new
#: micro-batch — the sink would treat it as first-seen and re-ingest the
#: forgotten content. Each purging twin therefore records the purged
#: ids here, the sink's new-doc filter anti-joins them, and every
#: applied batch carries the relation through the atomic swap. The
#: tombstone stores only the opaque doc_id (no content, no derived
#: digests), the standard durable-deletion marker.
TOMBSTONES = "_purged_docs"


def read_ids_or_empty(spark, path: str, col: str = "doc_id") -> DataFrame:
    """Read an id relation that may not exist yet (no purges so far, or
    state written before the tombstone upgrade — absence means the empty
    set in both cases) as a frame of the right schema."""
    if fs_exists(spark, path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], f"{col} long")


def _fs_swap(spark, tmp: str, target: str) -> None:
    """Replace ``target`` with ``tmp`` via a two-rename protocol: the
    current version is moved aside to ``<target>._old`` before ``tmp``
    is renamed in, and ``._old`` is deleted only once the new version
    is in place. Every rename's return value is checked; a failed
    rename-in restores ``._old`` so readers never lose the target.

    A crash between the two renames leaves ``._old`` but no ``target``;
    ``_fs_recover`` (run at the head of every batch apply) completes
    that swap by restoring ``._old``, and the interrupted batch replays
    from the stream checkpoint. Plain delete+rename would instead lose
    the whole target if the process died in the gap.
    """
    jvm, fs = _hadoop_fs(spark, target)
    P = jvm.org.apache.hadoop.fs.Path
    target_p, tmp_p, old_p = P(target), P(tmp), P(target + "._old")
    if fs.exists(old_p):
        fs.delete(old_p, True)  # leftover from a completed prior swap
    if fs.exists(target_p) and not fs.rename(target_p, old_p):
        raise IOError(f"rename {target} -> {target}._old failed")
    if not fs.rename(tmp_p, target_p):
        if fs.exists(old_p):  # put the previous version back for readers
            fs.rename(old_p, target_p)
        raise IOError(f"rename {tmp} -> {target} failed")
    fs.delete(old_p, True)


def _fs_recover(spark, target: str) -> None:
    """If a prior swap crashed between its two renames (``._old``
    present, ``target`` absent), restore the previous version; the
    batch that was being applied replays from the checkpoint."""
    jvm, fs = _hadoop_fs(spark, target)
    P = jvm.org.apache.hadoop.fs.Path
    target_p, old_p = P(target), P(target + "._old")
    if not fs.exists(target_p) and fs.exists(old_p):
        if not fs.rename(old_p, target_p):
            raise IOError(f"recovery rename {target}._old -> {target} failed")


def _last_per_key(batch: DataFrame, keys: Sequence[str], seq_col: str) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_upsert_sink(
    update_stream: DataFrame,
    *,
    target_path: str,
    checkpoint_path: str,
    keys: Sequence[str],
    seq_col: str,
):
    """Attach a foreachBatch upsert sink to ``update_stream``; returns
    the (unstarted) ``DataStreamWriter``. The target parquet dir holds
    exactly one row per key — the latest by ``seq_col`` — after every
    processed batch."""
    keys = list(keys)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        updates = _last_per_key(batch, keys, seq_col)
        _fs_recover(spark, target_path)
        jvm, fs = _hadoop_fs(spark, target_path)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(target_path)):
            target = spark.read.parquet(target_path)
            # cross-batch "latest wins" needs the target's own seq too:
            # an out-of-order replayed batch must not clobber newer rows
            older = target.join(
                updates.select(*keys, F.col(seq_col).alias("_new_seq")), keys, "inner"
            ).filter(F.col(seq_col) >= F.col("_new_seq"))
            effective = updates.join(older.select(*keys), keys, "left_anti")
            merged = merge_upsert(target, effective, keys)
        else:
            merged = updates
        tmp = target_path.rstrip("/") + f"._tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        _fs_swap(spark, tmp, target_path)

    return (
        update_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
