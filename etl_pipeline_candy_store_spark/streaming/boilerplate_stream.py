"""Streaming boilerplate detection: a ``foreachBatch`` sink that keeps
the q229 segment document-frequency state current, plus a read-side
scrub that rewrites any document frame against it — the streaming
counterpart of the batch scrub stage
(plans/curation_pipeline.py: scrub_boilerplate / q229).

State design: (segment md5 digest, doc-frequency count). The digest is
the q216 discipline — the state never stores text-derived strings, and
16-byte binary keys keep the state ~50x smaller than the segments
themselves. The count is mergeable by plain addition because a
document is an atomic row: all its segments arrive in ONE micro-batch,
and within a batch the per-segment contribution is COUNT(DISTINCT
doc_id) — so per-batch partials sum to exactly the global document
frequency for any arrival order or batch split (replays are excluded
by the shared max-applied ledger, which is what makes the sum safe).

The scrub verdict is derived on read (:func:`read_scrubbed`): a
segment's boilerplate status can flip as later batches raise its
frequency, so — like the quality-gate and drift twins — only the
monotone count state is stored and the rewrite is recomputed against
the docs being read. After the stream has covered a corpus,
``read_scrubbed(state, docs)`` equals the batch
``scrub_boilerplate(docs)`` exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import commit_applied, read_target
from etl_pipeline_candy_store_spark.operators.merge import merge_sum


def _batch_segcounts(batch: DataFrame) -> DataFrame:
    """Per-segment-digest distinct-doc counts for one micro-batch."""
    from etl_pipeline_candy_store_spark.operators.corpus_curation import (
        _segments,
    )

    segs = _segments(batch.select("doc_id", "text"))
    return (
        segs.select(
            "doc_id", F.unhex(F.md5(F.col("seg_text").cast("binary"))).alias("sh")
        )
        .groupBy("sh")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )


def stream_segment_counts(
    doc_stream: DataFrame, *, target_path: str, checkpoint_path: str
):
    """Attach the segment-frequency foreachBatch sink; returns the
    (unstarted) ``DataStreamWriter``. After every applied batch the
    target parquet holds exactly the per-segment-digest document
    frequencies a from-scratch scan of all rows seen so far would
    produce."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        counts = _batch_segcounts(batch)
        commit_applied(
            batch.sparkSession,
            target_path,
            batch_id,
            lambda cur: merge_sum(cur, counts, ["sh"]),
        )

    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )


def read_scrubbed(
    spark: SparkSession, target_path: str, docs: DataFrame
) -> DataFrame:
    """Rewrite ``docs`` against the maintained segment-frequency state:
    drop segments whose accumulated document frequency reaches the
    boilerplate threshold, rebuild text in original segment order,
    refresh ``n_chars`` when present, drop docs left empty — the
    identical semantics as the batch ``scrub_boilerplate``, with the
    frequency relation read from state instead of recomputed."""
    from etl_pipeline_candy_store_spark.operators.corpus_curation import (
        _BOILER_DF,
        _segments,
    )

    state = read_target(spark, target_path)
    boiler = state.filter(F.col("df") >= _BOILER_DF).select("sh")
    segs = _segments(docs.select("doc_id", "text")).withColumn(
        "sh", F.unhex(F.md5(F.col("seg_text").cast("binary")))
    )
    rebuilt = (
        segs.join(boiler, "sh", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "seg_text"))),
                    lambda s: s["seg_text"],
                ),
                " ",
            ).alias("_scrubbed")
        )
    )
    other = [c for c in docs.columns if c not in ("text", "n_chars")]
    out = docs.join(rebuilt, "doc_id").select(
        *other, F.col("_scrubbed").alias("text")
    )
    if "n_chars" in docs.columns:
        out = out.withColumn("n_chars", F.length("text").cast("long"))
    return out.select(docs.columns)
