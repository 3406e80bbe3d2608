"""foreachBatch winnow-fingerprint sink: micro-batches of documents
merge per-fingerprint document frequencies into a parquet state; the
pair relation derived from the state equals batch q239 exactly — for
EVERY arrival order — and replays don't double-count."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # stream/state tier: quick runs skip (see conftest)

from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY, _ensure_loaded, load
from etl_pipeline_candy_store_spark.streaming.winnow_stream import (


    read_winnow_pairs,
    stream_fingerprint_counts,
)

SF = "/root/testdata/sf0.001"


def _run(spark, src: str, target: str, ckpt: str) -> None:
    schema = load(spark, SF, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_fingerprint_counts(
            stream, target_path=target, checkpoint_path=ckpt
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch_pairs(spark) -> set[tuple]:
    _ensure_loaded()
    return {
        tuple(r)
        for r in REGISTRY["q239_winnow_neardup"].builder(spark, SF).collect()
    }


def _stream_pairs(spark, target: str) -> set[tuple]:
    docs = load(spark, SF, "documents")
    return {tuple(r) for r in read_winnow_pairs(spark, target, docs).collect()}


def test_stream_pairs_match_batch_q239(spark, tmp_path):
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    load(spark, SF, "documents").repartition(4).write.parquet(src)
    _run(spark, src, target, str(tmp_path / "ckpt"))
    want = _batch_pairs(spark)
    assert want  # non-vacuous: the corpus HAS winnow pairs at sf0.001
    assert _stream_pairs(spark, target) == want


def test_stream_state_arrival_order_independent(spark, tmp_path):
    """Adversarial arrival permutation: ascending-doc_id batches vs
    descending-doc_id batches vs a single batch — identical final
    state, identical derived pairs. The df counts are plain sums of
    atomic per-doc contributions, so no order can matter."""
    import pyspark.sql.functions as F

    docs = load(spark, SF, "documents")
    states = []
    for tag, frame in (
        ("asc", docs.repartitionByRange(5, F.col("doc_id"))),
        ("desc", docs.repartitionByRange(5, F.col("doc_id").desc())),
        ("one", docs.coalesce(1)),
    ):
        src = str(tmp_path / f"src_{tag}")
        target = str(tmp_path / f"target_{tag}")
        frame.write.parquet(src)
        _run(spark, src, target, str(tmp_path / f"ckpt_{tag}"))
        states.append(sorted(map(tuple, spark.read.parquet(target).collect())))
    assert states[0] == states[1] == states[2]
    assert _stream_pairs(spark, str(tmp_path / "target_desc")) == _batch_pairs(
        spark
    )


def test_stream_state_is_exact_df(spark, tmp_path):
    """State equals the from-scratch per-fingerprint distinct-doc
    frequency (the relation q239 builds as `dfreq`) — safe to SUM
    per-batch partials because a doc's fingerprints all arrive in one
    batch."""
    import pyspark.sql.functions as F

    from etl_pipeline_candy_store_spark.operators.text import (
        winnow_fingerprints,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    docs = load(spark, SF, "documents")
    docs.repartition(4).write.parquet(src)
    _run(spark, src, target, str(tmp_path / "ckpt"))
    want = sorted(
        map(
            tuple,
            winnow_fingerprints(docs.select("doc_id", "text"))
            .groupBy("wmin")
            .agg(F.countDistinct("doc_id").cast("long").alias("df"))
            .collect(),
        )
    )
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == want


def test_cross_batch_doc_redelivery_idempotent(spark, tmp_path):
    """At-least-once delivery that is NOT a whole-batch replay: half
    the corpus is delivered AGAIN in later batches under new batch_ids,
    so the max-applied ledger cannot catch it. The first-seen doc
    filter must keep the df state — and the derived pairs — equal to
    the exactly-once run (the r13 sum-merge double-counted here)."""
    import pyspark.sql.functions as F

    from etl_pipeline_candy_store_spark.operators.text import (
        winnow_fingerprints,
    )

    src = str(tmp_path / "src")
    docs = load(spark, SF, "documents")
    docs.coalesce(2).write.parquet(src)
    # redeliver ~half the docs as additional source files — they arrive
    # as separate micro-batches with fresh batch_ids
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(2).write.mode(
        "append"
    ).parquet(src)
    target = str(tmp_path / "target")
    _run(spark, src, target, str(tmp_path / "ckpt"))
    want = sorted(
        map(
            tuple,
            winnow_fingerprints(docs.select("doc_id", "text"))
            .groupBy("wmin")
            .agg(F.countDistinct("doc_id").cast("long").alias("df"))
            .collect(),
        )
    )
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == want
    assert _stream_pairs(spark, target) == _batch_pairs(spark)


def test_stream_replay_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    load(spark, SF, "documents").repartition(3).write.parquet(src)
    _run(spark, src, target, str(tmp_path / "ckpt1"))
    state1 = sorted(map(tuple, spark.read.parquet(target).collect()))
    pairs1 = _stream_pairs(spark, target)
    _run(spark, src, target, str(tmp_path / "ckpt2"))
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == state1
    assert _stream_pairs(spark, target) == pairs1


def test_purge_docs_physical_forget(spark, tmp_path):
    """Winnow's aggregated df state purges by SUBTRACTION (it needs the
    victims' text — the documented price of vocabulary-sized state):
    after the purge, counts and derived pairs equal a from-scratch run
    over the remaining docs; re-purging the same docs is a no-op."""
    import pyspark.sql.functions as F

    from etl_pipeline_candy_store_spark.operators.text import (
        winnow_fingerprints,
    )
    from etl_pipeline_candy_store_spark.streaming.winnow_stream import (
        purge_docs,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    docs = load(spark, SF, "documents")
    docs.repartition(3).write.parquet(src)
    _run(spark, src, target, str(tmp_path / "ckpt"))

    victims = docs.filter(F.col("doc_id") % 2 == 0)
    n = purge_docs(spark, target, victims.select("doc_id", "text"))
    assert n == victims.count()
    remaining = docs.filter(F.col("doc_id") % 2 == 1)
    want = sorted(
        map(
            tuple,
            winnow_fingerprints(remaining.select("doc_id", "text"))
            .groupBy("wmin")
            .agg(F.countDistinct("doc_id").cast("long").alias("df"))
            .collect(),
        )
    )
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == want
    from etl_pipeline_candy_store_spark.operators.dedup import winnow_pairs

    got = {
        tuple(r)
        for r in read_winnow_pairs(spark, target, remaining).collect()
    }
    assert got == {
        tuple(r)
        for r in winnow_pairs(remaining.select("doc_id", "text")).collect()
    }
    assert purge_docs(spark, target, victims.select("doc_id", "text")) == 0


def test_purge_survives_redelivery(spark, tmp_path):
    """ADVICE r15: an at-least-once redelivery of PURGED documents
    (fresh batch_ids under the same checkpoint — neither the ledger
    nor the seen set can catch it, the purge removed the seen entries)
    must not re-ingest the forgotten content. The _purged_docs
    tombstones make the purge durable: after redelivery the state
    still equals a from-scratch run over the remaining corpus."""
    import pyspark.sql.functions as F

    from etl_pipeline_candy_store_spark.operators.text import (
        winnow_fingerprints,
    )
    from etl_pipeline_candy_store_spark.streaming.winnow_stream import (
        purge_docs,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    docs = load(spark, SF, "documents")
    docs.coalesce(2).write.parquet(src)
    _run(spark, src, target, ckpt)

    victims = docs.filter(F.col("doc_id") % 2 == 0)
    assert purge_docs(spark, target, victims.select("doc_id", "text")) > 0
    # the upstream feed redelivers the purged docs as new source files
    # (new micro-batches, SAME checkpoint)
    victims.coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, target, ckpt)

    remaining = docs.filter(F.col("doc_id") % 2 == 1)
    want = sorted(
        map(
            tuple,
            winnow_fingerprints(remaining.select("doc_id", "text"))
            .groupBy("wmin")
            .agg(F.countDistinct("doc_id").cast("long").alias("df"))
            .collect(),
        )
    )
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == want
    got = {
        tuple(r)
        for r in read_winnow_pairs(spark, target, remaining).collect()
    }
    from etl_pipeline_candy_store_spark.operators.dedup import winnow_pairs

    assert got == {
        tuple(r)
        for r in winnow_pairs(remaining.select("doc_id", "text")).collect()
    }


def test_pre_r14_state_refuses_with_migration_error(spark, tmp_path):
    """State written by the pre-r14 sink (no _seen_docs relation)
    cannot be resumed or purged: both paths raise a deliberate
    format-upgrade error naming the re-ingest remedy, instead of the
    raw path-not-found AnalysisException the r14 code produced."""
    import pytest

    from etl_pipeline_candy_store_spark.streaming.winnow_stream import (
        purge_docs,
    )

    target = str(tmp_path / "target")
    docs = load(spark, SF, "documents")
    # hand-craft the r13-format state: counts + ledger, no _seen_docs
    from etl_pipeline_candy_store_spark.operators.text import (
        winnow_fingerprints,
    )
    import pyspark.sql.functions as F

    winnow_fingerprints(docs.select("doc_id", "text")).groupBy("wmin").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    ).write.parquet(target)
    spark.createDataFrame([(0,)], "batch_id long").write.parquet(
        target + "/_applied"
    )

    with pytest.raises(RuntimeError, match="predates the _seen_docs"):
        purge_docs(spark, target, docs.limit(1).select("doc_id", "text"))

    # resuming the sink onto it fails with the same deliberate error
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    with pytest.raises(Exception, match="predates the _seen_docs"):
        _run(spark, src, target, str(tmp_path / "ckpt"))
