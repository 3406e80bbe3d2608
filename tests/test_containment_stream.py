"""foreachBatch shingle-state sink: micro-batches of documents append
first-seen per-doc shingle digests into a parquet state; the bounded
containment pairs derived from the state equal batch q248 exactly —
for EVERY arrival order — and neither whole-batch replays nor
cross-batch doc redeliveries change anything."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # stream/state tier: quick runs skip (see conftest)

from etl_pipeline_candy_store_spark.plans.catalog import (
    REGISTRY,
    _ensure_loaded,
    load,
)
from etl_pipeline_candy_store_spark.streaming.containment_stream import (


    read_containment_pairs,
    stream_shingle_state,
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
        stream_shingle_state(
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
        for r in REGISTRY["q248_containment_pairs_bounded"]
        .builder(spark, SF)
        .collect()
    }


def _stream_pairs(spark, target: str) -> set[tuple]:
    return {tuple(r) for r in read_containment_pairs(spark, target).collect()}


def test_stream_pairs_match_batch_q248(spark, tmp_path):
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    load(spark, SF, "documents").repartition(4).write.parquet(src)
    _run(spark, src, target, str(tmp_path / "ckpt"))
    want = _batch_pairs(spark)
    assert want  # non-vacuous: the corpus HAS containment pairs
    assert _stream_pairs(spark, target) == want


def test_stream_state_arrival_order_independent(spark, tmp_path):
    """Adversarial arrival permutation: ascending vs descending vs one
    batch — identical final state rows, identical derived pairs. The
    state is append-only per first-seen doc, so no order can matter."""
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


def test_cross_batch_doc_redelivery_idempotent(spark, tmp_path):
    """At-least-once delivery that is NOT a whole-batch replay: half
    the docs are delivered again in later batches under new batch_ids.
    The state-derived seen-doc filter must keep the shingle rows — and
    the derived pairs — equal to the exactly-once run."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    docs = load(spark, SF, "documents")
    docs.coalesce(2).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(2).write.mode(
        "append"
    ).parquet(src)
    target = str(tmp_path / "target")
    _run(spark, src, target, str(tmp_path / "ckpt"))
    n_docs = docs.count()
    state = spark.read.parquet(target)
    assert state.select("doc_id").distinct().count() == n_docs
    assert state.count() == state.distinct().count()  # no duplicated rows
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
    """After purging half the corpus, the state and the derived pairs
    equal a from-scratch run over the remaining docs, the purge is
    idempotent, and the ledger survives (replay guard intact)."""
    import pyspark.sql.functions as F

    from etl_pipeline_candy_store_spark.operators.dedup import (
        containment_pairs_bounded,
    )
    from etl_pipeline_candy_store_spark.streaming.containment_stream import (
        purge_docs,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    docs = load(spark, SF, "documents")
    docs.repartition(3).write.parquet(src)
    _run(spark, src, target, str(tmp_path / "ckpt"))

    victims = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    removed = purge_docs(spark, target, victims)
    assert removed > 0
    remaining = docs.filter(F.col("doc_id") % 2 == 1)
    state = spark.read.parquet(target)
    assert state.join(victims, "doc_id", "left_semi").count() == 0
    want = {
        tuple(r)
        for r in containment_pairs_bounded(
            remaining.select("doc_id", "text")
        ).collect()
    }
    assert _stream_pairs(spark, target) == want
    assert purge_docs(spark, target, victims) == 0  # idempotent
    # replay guard intact: the applied-batch ledger survived the swap
    from etl_pipeline_candy_store_spark.operators.ledger import (
        read_max_applied,
    )

    assert read_max_applied(spark, target) >= 0


def test_purge_survives_redelivery(spark, tmp_path):
    """ADVICE r15: an at-least-once redelivery of PURGED documents
    (fresh batch_ids, same checkpoint — the state's own doc_ids were
    the idempotence set, and the purge removed them) must not
    re-ingest the forgotten content. The _purged_docs tombstones make
    the purge durable: after redelivery the state and derived pairs
    still equal a from-scratch run over the remaining corpus."""
    import pyspark.sql.functions as F

    from etl_pipeline_candy_store_spark.operators.dedup import (
        containment_pairs_bounded,
    )
    from etl_pipeline_candy_store_spark.streaming.containment_stream import (
        purge_docs,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    docs = load(spark, SF, "documents")
    docs.coalesce(2).write.parquet(src)
    _run(spark, src, target, ckpt)

    victims = docs.filter(F.col("doc_id") % 2 == 0)
    assert purge_docs(spark, target, victims.select("doc_id")) > 0
    victims.coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, target, ckpt)

    state = spark.read.parquet(target)
    assert (
        state.join(victims.select("doc_id"), "doc_id", "left_semi").count()
        == 0
    )
    remaining = docs.filter(F.col("doc_id") % 2 == 1)
    want = {
        tuple(r)
        for r in containment_pairs_bounded(
            remaining.select("doc_id", "text")
        ).collect()
    }
    assert _stream_pairs(spark, target) == want
