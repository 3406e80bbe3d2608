"""Streaming forget (right-to-be-forgotten) twin of batch q194:
tombstone maintenance is exactly-once, the logical-delete view equals
the batch deletion semantics, and re-arriving copies of forgotten
content are gated out — all with corpus-independent per-batch work."""

from __future__ import annotations

import time

import pytest

pytestmark = pytest.mark.slow  # stream/state tier: quick runs skip (see conftest)
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.plans.catalog import load
from etl_pipeline_candy_store_spark.streaming.forget_stream import (


    apply_forget_batch,
    forgotten_filter,
    physical_purge,
    read_tombstones,
    stream_forget,
)

SF = "/root/testdata/sf0.001"


def _requests(spark):
    """The same content-addressed deletion list batch q194 flags."""
    from etl_pipeline_candy_store_spark.operators.scrub import (
        _FORGET_H256,
        _forget_h256,
    )

    return (
        load(spark, SF, "documents")
        .filter(_forget_h256() < _FORGET_H256)
        .select(F.md5(F.col("text").cast("binary")).alias("digest"))
    )


def test_stream_forget_matches_batch_q194(spark, tmp_path):
    docs = load(spark, SF, "documents")
    reqs = _requests(spark).withColumn(
        "seq", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    n = reqs.count()
    assert n > 5

    src = str(tmp_path / "forget_src")
    thirds = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n + 1)]
    for lo, hi in thirds:
        reqs.filter((F.col("seq") >= lo) & (F.col("seq") < hi)).select(
            "digest"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.05)

    state = str(tmp_path / "forget_state")
    stream = (
        spark.readStream.schema("digest string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_forget(stream, state)
        .option("checkpointLocation", str(tmp_path / "ckpt_forget"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    tombs = read_tombstones(spark, state)
    want_digests = {r["digest"] for r in reqs.select("digest").collect()}
    assert {r["digest"] for r in tombs.collect()} == want_digests

    # logical-delete view == q194's clean-survivor semantics per source
    survivors = forgotten_filter(docs, tombs)
    got = {
        (r["source"], r["n"])
        for r in survivors.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from etl_pipeline_candy_store_spark.plans import catalog

    catalog._ensure_loaded()
    audit = catalog.REGISTRY["q194_forget_propagation"].builder(spark, SF)
    want = {
        (r["source"], r["n_clean"])
        for r in audit.collect()
        if r["n_clean"] > 0
    }
    got_nonzero = {(s, c) for s, c in got if c > 0}
    assert got_nonzero == want
    # closure: NO surviving content digest is tombstoned
    assert (
        survivors.select(
            F.md5(F.col("text").cast("binary")).alias("digest")
        )
        .join(tombs, "digest", "left_semi")
        .count()
        == 0
    )


def test_forget_replay_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "forget_replay")
    reqs = _requests(spark).localCheckpoint(eager=True)
    b0 = reqs.limit(5)
    apply_forget_batch(b0, state, 0)
    apply_forget_batch(reqs, state, 1)
    first = sorted(r["digest"] for r in read_tombstones(spark, state).collect())
    apply_forget_batch(reqs, state, 1)  # crash replay
    second = sorted(r["digest"] for r in read_tombstones(spark, state).collect())
    assert second == first


def test_forget_recovers_from_zero_row_ledger(spark, tmp_path):
    # a crash between the swap steps can leave a ledger parquet with
    # ZERO rows; that must read as "nothing applied" (recover and merge
    # the next delivery), not raise and permanently wedge the stream
    from etl_pipeline_candy_store_spark.operators.ledger import LEDGER_NAME

    state = str(tmp_path / "forget_zero_ledger")
    reqs = _requests(spark).localCheckpoint(eager=True)
    apply_forget_batch(reqs.limit(3), state, 0)
    spark.createDataFrame([], "batch_id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(state + "/" + LEDGER_NAME)
    apply_forget_batch(reqs, state, 0)  # batch_id 0 again: must NOT skip
    got = {r["digest"] for r in read_tombstones(spark, state).collect()}
    assert got == {r["digest"] for r in reqs.collect()}


def test_forget_gates_rearriving_copies(spark, tmp_path):
    # content-addressed tombstones reject a RE-CRAWLED copy of
    # forgotten content under a brand-new doc_id — the property a
    # row-id deletion list cannot provide
    docs = load(spark, SF, "documents")
    state = str(tmp_path / "forget_gate")
    target_text = docs.filter(F.col("doc_id") == 7).select("text").first()[
        "text"
    ]
    apply_forget_batch(
        docs.filter(F.col("doc_id") == 7).select("text"), state, 0
    )
    tombs = read_tombstones(spark, state)
    recrawl = docs.filter(F.col("doc_id") == 7).withColumn(
        "doc_id", F.lit(999_999)
    )
    assert forgotten_filter(recrawl, tombs).count() == 0
    # unrelated content passes the gate untouched
    other = docs.filter(F.col("doc_id") == 8)
    assert forgotten_filter(other, tombs).count() == 1
    assert target_text  # sanity: the forgotten doc existed


def test_forget_filter_is_broadcast_anti_join(spark, tmp_path):
    import contextlib
    import io

    docs = load(spark, SF, "documents")
    state = str(tmp_path / "forget_plan")
    apply_forget_batch(_requests(spark), state, 0)
    survivors = forgotten_filter(docs, read_tombstones(spark, state))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        survivors.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_physical_purge_then_retire_tombstones(spark, tmp_path):
    # the compaction moment: materialize survivors once, after which a
    # fresh read of the purged table needs NO anti-join to be clean
    docs = load(spark, SF, "documents")
    state = str(tmp_path / "forget_purge")
    apply_forget_batch(_requests(spark), state, 0)
    tombs = read_tombstones(spark, state)
    out = str(tmp_path / "purged_corpus")
    physical_purge(docs, tombs).write.mode("overwrite").parquet(out)
    purged = spark.read.parquet(out)
    assert purged.count() == docs.count() - docs.join(
        tombs,
        F.md5(F.col("text").cast("binary")) == tombs["digest"],
        "left_semi",
    ).count()
    assert (
        purged.select(F.md5(F.col("text").cast("binary")).alias("digest"))
        .join(tombs, "digest", "left_semi")
        .count()
        == 0
    )
