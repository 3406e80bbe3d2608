"""Streaming vector near-dup: incremental hyperplane-LSH bucket probing.

The embedding-space twin of :mod:`neardup_stream` (which streams the
MinHash/text path): vectors arrive in micro-batches — an embedding
service emitting representations of a live crawl — and each batch must
be checked for near-duplicates against everything already indexed,
BEFORE the corpus ingests it. Same incremental-LSH shape:

- arriving vectors get their bucket key row-locally
  (:func:`~etl_pipeline_candy_store_spark.operators.similarity.lsh_bucket_col`
  — the SAME expression batch q63/q64 use, so the emitted pair set
  provably equals the batch run's) plus a precomputed norm;
- new vectors PROBE the accumulated index with an equi-join on the
  bucket key; only bucket collisions are scored, the quadratic pair
  space never materializes, and the score is the exact order-folded
  cosine — LSH candidates, exact verification, exactly q64's contract;
- index rows and emitted pairs land in parquet partitioned by
  ``batch=N``; each batch OVERWRITES its own partition, so crash
  replay rewrites identical content (idempotent), and state reads
  filter ``batch < current`` so a half-written replay partition is
  never probed.

A pair is emitted exactly once — in the micro-batch where its LATER
endpoint arrives (probe side is strictly new vectors; in-batch mirror
candidates are normalized with least/greatest + distinct).

At 100 TB the bucket key is the partition key of the accumulated index,
so each probe is a partition-pruned equi-join against a few buckets —
never a scan of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from etl_pipeline_candy_store_spark.operators.ledger import fs_exists
from etl_pipeline_candy_store_spark.operators.similarity import (
    _cos_micros,
    _dot,
    lsh_bucket_col,
    with_norm,
)

_PAIRS_SCHEMA = "vec_a bigint, vec_b bigint, bucket int, cos_micros bigint"
_VECS_SCHEMA = "vec_id bigint, bucket int, embedding array<float>, nrm double"


def _read_state(
    spark: SparkSession, path: str, schema: str, before_batch: int | None = None
) -> DataFrame:
    if not fs_exists(spark, path):
        return spark.createDataFrame([], f"batch bigint, {schema}")
    df = spark.read.parquet(path)
    if before_batch is not None:
        df = df.filter(F.col("batch") < before_batch)
    return df


def apply_vector_neardup_batch(
    batch: DataFrame,
    state_dir: str,
    batch_id: int,
    *,
    min_cos_micros: int = 100_000,
) -> None:
    """Process one micro-batch of (vec_id, embedding) rows: probe the
    accumulated bucket index, emit exact-cosine-verified pairs, extend
    the index. Idempotent per (content, batch_id)."""
    spark = batch.sparkSession
    vecs_new = (
        with_norm(batch.select("vec_id", "embedding"))
        .select("vec_id", lsh_bucket_col().alias("bucket"), "embedding", "nrm")
        .localCheckpoint(eager=True)
    )
    if not vecs_new.take(1):
        return
    vecs_old = _read_state(
        spark, f"{state_dir}/vecs", _VECS_SCHEMA, before_batch=batch_id
    ).drop("batch")
    vecs_all = vecs_old.unionByName(vecs_new)

    a = vecs_new.select(
        F.col("vec_id").alias("id_a"), "bucket",
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    b = vecs_all.select(
        F.col("vec_id").alias("id_b"), "bucket",
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("vec_a"),
            F.greatest("id_a", "id_b").alias("vec_b"),
            "bucket",
            _cos_micros(
                _dot(F.col("emb_a"), F.col("emb_b")),
                F.col("nrm_a"),
                F.col("nrm_b"),
            ).alias("cos_micros"),
        )
        .filter(F.col("cos_micros") >= min_cos_micros)
        .distinct()
    )
    pairs.write.mode("overwrite").parquet(f"{state_dir}/pairs/batch={batch_id}")
    vecs_new.write.mode("overwrite").parquet(f"{state_dir}/vecs/batch={batch_id}")


def stream_vector_neardup(
    vec_stream: DataFrame, state_dir: str, *, min_cos_micros: int = 100_000
):
    """Wire a (vec_id, embedding) stream into the incremental LSH index.
    Returns a ``DataStreamWriter``; the caller adds checkpoint/trigger
    and ``.start()``s. Verified pairs land under ``{state_dir}/pairs``."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_vector_neardup_batch(
            batch, state_dir, batch_id, min_cos_micros=min_cos_micros
        )

    return vec_stream.writeStream.foreachBatch(_apply).outputMode("update")


def read_vector_neardup_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated near-dup pair table the stream has emitted."""
    return _read_state(spark, f"{state_dir}/pairs", _PAIRS_SCHEMA).drop("batch")


# --- PQ-code semantic dedup on arrival --------------------------------

_CODE_SCHEMA = "code_key string, vec_id bigint"


def apply_pq_code_dedup_batch(
    batch: DataFrame,
    codebook: DataFrame,
    state_dir: str,
    batch_id: int,
    *,
    m: int = 3,
) -> None:
    """Semantic dedup on arrival: encode each arriving vector to its
    coarse PQ code (row-local against the broadcast codebook — the
    SAME :func:`~etl_pipeline_candy_store_spark.operators.similarity.pq_encode`
    expression batch q129 uses), drop any vector whose code was already
    seen in an EARLIER batch, keep the lowest vec_id per code within
    the batch, and extend the code state. First-seen-wins, exactly the
    streaming analogue of exact content dedup but on the semantic
    fingerprint instead of the md5 digest. State is one (code_key,
    vec_id) row per DISTINCT code — bounded by the code space, not the
    stream — and the probe is an equi-join on the code key. Batch-scoped
    ``batch=N`` overwrites make crash replay idempotent."""
    from etl_pipeline_candy_store_spark.operators.similarity import pq_encode

    spark = batch.sparkSession
    coded = pq_encode(
        batch.select("vec_id", "embedding"), codebook, m=m
    ).localCheckpoint(eager=True)
    if not coded.take(1):
        return
    try:
        seen = (
            spark.read.parquet(f"{state_dir}/codes")
            .filter(F.col("batch") < batch_id)
            .drop("batch")
        )
    except AnalysisException:
        seen = spark.createDataFrame([], _CODE_SCHEMA)
    keep_in_batch = coded.groupBy("code_key").agg(
        F.min("vec_id").alias("vec_id")
    )
    survivors = (
        coded.join(keep_in_batch, ["code_key", "vec_id"], "left_semi")
        .join(seen.select("code_key"), "code_key", "left_anti")
        .localCheckpoint(eager=True)
    )
    survivors.write.mode("overwrite").parquet(
        f"{state_dir}/vecs/batch={batch_id}"
    )
    survivors.select("code_key", "vec_id").write.mode("overwrite").parquet(
        f"{state_dir}/codes/batch={batch_id}"
    )


def stream_pq_code_dedup(
    vec_stream: DataFrame, codebook: DataFrame, state_dir: str, *, m: int = 3
):
    """Wire a (vec_id, embedding) stream through PQ-code semantic dedup.
    Returns a ``DataStreamWriter``; code-unique vectors land under
    ``{state_dir}/vecs`` as batch-partitioned parquet."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_pq_code_dedup_batch(batch, codebook, state_dir, batch_id, m=m)

    return vec_stream.writeStream.foreachBatch(_apply).outputMode("update")


def read_pq_deduped_vectors(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated code-unique vector table."""
    try:
        return spark.read.parquet(f"{state_dir}/vecs").drop("batch")
    except AnalysisException:
        return spark.createDataFrame(
            [], f"{_CODE_SCHEMA}, embedding array<float>"
        )
