"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the IVF assignment
query is the scale path (probe only your cell). Dot products are computed
as an order-exact sequential fold (Spark ``aggregate`` ≡ DuckDB
``list_reduce``; IEEE: 0.0 + x == x, so both engines produce bit-identical
doubles). Scores are surfaced as ``floor(cos * 1e6)`` BIGINT micro-units —
integer outputs hash identically across engines, and ranking ties break on
vec_id.

Scale notes: the query side is tiny → broadcast; candidates stream
through a single projection with the fold expression (no shuffle until
the top-k, which is a per-partition partial top-k + merge). For 100 TB
use the IVF path: centroid assignment is one broadcast join, search
probes one cell (partition pruning on centroid_id).

Norms are per-VECTOR, so every query here projects a ``nrm`` column once
before any join (O(n·d)) instead of recomputing inside the pair
projection (O(pairs·d)); the DuckDB oracles hoist the same expression
into a WITH subquery. The cosine double is bit-identical either way
(same fold over the same floats), so hashes are unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_candy_store_spark.plans.catalog import load, register

_DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q))"
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cos_micros(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    return F.floor(dot / (norm_a * norm_b) * F.lit(1000000.0)).cast("long")


def _cos_micros_prenorm_sql(a: str, b: str, na: str, nb: str) -> str:
    """Cosine micro-units with PRE-COMPUTED norm columns (hoisted into a
    WITH subquery by callers) — same arithmetic, evaluated once per
    vector instead of once per pair."""
    return (
        f"CAST(floor({_DOT_SQL.format(a=a, b=b)} / ({na} * {nb}) "
        f"* CAST(1000000 AS DOUBLE)) AS BIGINT)"
    )


# one-per-vector norm subquery shared by every oracle below
_E_NORMED_SQL = (
    f"SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm FROM embeddings"
)


def with_norm(df: DataFrame, emb_col: str = "embedding", out_col: str = "nrm") -> DataFrame:
    """Project the L2 norm once per vector — call before any pairwise
    join so the pair projection reuses a scalar instead of re-folding
    the whole array per pair."""
    return df.withColumn(out_col, _norm(F.col(emb_col)))


@register(
    "q60_cosine_topk",
    oracle=f"""
WITH e AS ({_E_NORMED_SQL}),
pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {_cos_micros_prenorm_sql('q.embedding', 'e.embedding', 'q.nrm', 'e.nrm')} AS cos_micros
  FROM e q JOIN e ON q.vec_id < 5 AND e.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_micros, rn FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_micros DESC, neighbor_id) AS INTEGER) AS rn
  FROM pairs) t
WHERE rn <= 5
""",
    doc="Brute-force cosine top-5 neighbors for 5 query vectors — the "
    "ANN correctness baseline. Norms precomputed per vector (O(n·d)), "
    "not per pair.",
)
def q60_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = with_norm(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cos_micros(
                _dot(F.col("q_emb"), F.col("embedding")),
                F.col("q_nrm"),
                F.col("nrm"),
            ).alias("cos_micros"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_micros").desc(), F.col("neighbor_id")
    )
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@register(
    "q61_embedding_neardup",
    oracle=f"""
WITH e AS ({_E_NORMED_SQL}),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_cos_micros_prenorm_sql('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')} AS cos_micros
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_micros FROM scored WHERE cos_micros >= 250000
""",
    doc="Embedding-cosine near-duplicate pairs (cos >= 0.25). Brute-force "
    "pair scan — the labeled RECALL BASELINE for q64/q65, not a "
    "production path (all-pairs is O(n²); the LSH/IVF variants bound the "
    "pair space at scale). Norms precomputed per vector; the oracle "
    "hoists the cosine into a subquery so it is evaluated once.",
)
def q61_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_candy_store_spark.operators.guards import guard_all_pairs

    e = with_norm(load(spark, sf_dir, "embeddings"))
    guard_all_pairs(
        e.select("vec_id"), "q61_embedding_neardup", "q64_lsh_neardup / q65"
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            _cos_micros(
                _dot(F.col("emb_a"), F.col("emb_b")),
                F.col("nrm_a"),
                F.col("nrm_b"),
            ).alias("cos_micros"),
        )
        .filter(F.col("cos_micros") >= 250000)
    )


@register(
    "q62_ivf_assign",
    oracle=f"""
WITH e AS ({_E_NORMED_SQL}),
cents AS (SELECT vec_id AS centroid_id, embedding, nrm FROM e WHERE vec_id < 10),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         {_cos_micros_prenorm_sql('e.embedding', 'c.embedding', 'e.nrm', 'c.nrm')} AS cos_micros
  FROM e JOIN cents c ON true
)
SELECT vec_id, centroid_id, cos_micros FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cos_micros DESC, centroid_id) AS rn
  FROM scored) t
WHERE rn = 1
""",
    doc="IVF coarse-quantizer assignment: nearest of 10 centroids per "
    "vector via broadcast join — the partition key for ANN at scale. "
    "Vector and centroid norms precomputed once.",
)
def q62_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = with_norm(load(spark, sf_dir, "embeddings"))
    cents = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = e.join(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        _cos_micros(
            _dot(F.col("embedding"), F.col("c_emb")),
            F.col("nrm"),
            F.col("c_nrm"),
        ).alias("cos_micros"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_micros").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "cos_micros")
    )


# --- random-hyperplane LSH (the ANN scale path for cosine) ----------------

_N_PLANES = 8
_DIM = 64


def _planes() -> list[list[int]]:
    """Deterministic ±1 hyperplanes derived from md5 — identical constants
    are inlined into the Spark plan and the DuckDB oracle, so there is no
    cross-engine RNG to disagree."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{p}_{d}".encode()).digest()[0] % 2 else -1
            for d in range(_DIM)
        ]
        for p in range(_N_PLANES)
    ]


def _plane_dot_sql(plane: list[int]) -> str:
    lit = "[" + ", ".join(str(w) for w in plane) + "]"
    return (
        f"list_reduce(list_transform(list_zip(embedding, {lit}),"
        " x -> CAST(x[1] AS DOUBLE) * x[2]), (p, q) -> p + q)"
    )


def lsh_bucket_col(emb_col: str = "embedding") -> Column:
    """The 8-sign-bit hyperplane bucket as a reusable Column expression
    (row-local; the ±1 planes are inline literals) — shared by batch
    q63/q64 and the streaming vector near-dup probe so the bucket key
    is ONE definition in both modes."""
    bits = []
    for i, plane in enumerate(_planes()):
        lit = F.array(*[F.lit(w) for w in plane])
        dot = F.aggregate(
            F.zip_with(F.col(emb_col), lit, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("int")


@register(
    "q63_vector_lsh_buckets",
    oracle=f"""
SELECT vec_id,
       CAST({" + ".join(
           f"(CASE WHEN {_plane_dot_sql(pl)} > 0 THEN {1 << i} ELSE 0 END)"
           for i, pl in enumerate(_planes())
       )} AS INTEGER) AS bucket
FROM embeddings
""",
    doc="Random-hyperplane LSH bucketing for cosine ANN: 8 sign bits -> "
    "256 buckets. At scale this is the partition key (search probes one "
    "bucket, or neighbors by Hamming distance); brute-force q60 is the "
    "recall baseline.",
)
def q63_vector_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", lsh_bucket_col().alias("bucket"))


_BUCKET_SQL = (
    "CAST("
    + " + ".join(
        f"(CASE WHEN {_plane_dot_sql(pl)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, pl in enumerate(_planes())
    )
    + " AS INTEGER)"
)


_LSH_NEARDUP_SQL = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm,
         {_BUCKET_SQL} AS bucket FROM embeddings
),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
         {_cos_micros_prenorm_sql('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')} AS cos_micros
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, bucket, cos_micros FROM scored WHERE cos_micros >= 100000
"""


@register(
    "q64_lsh_neardup",
    oracle=_LSH_NEARDUP_SQL,
    doc="Vector near-dup at scale: LSH bucket equi-join prunes the pair "
    "space (same 8 sign bits), then exact cosine verifies survivors — "
    "the end-to-end scale path whose recall baseline is brute-force q61. "
    "Norms precomputed per vector before the bucket join.",
)
def q64_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucketed = q63_vector_lsh_buckets(spark, sf_dir).join(
        with_norm(load(spark, sf_dir, "embeddings")), "vec_id"
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), "bucket",
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), "bucket",
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            "bucket",
            _cos_micros(
                _dot(F.col("emb_a"), F.col("emb_b")),
                F.col("nrm_a"),
                F.col("nrm_b"),
            ).alias("cos_micros"),
        )
        .filter(F.col("cos_micros") >= 100000)
    )


@register(
    "q65_ivf_search",
    oracle=f"""
WITH e AS ({_E_NORMED_SQL}),
cents AS (SELECT vec_id AS centroid_id, embedding, nrm FROM e WHERE vec_id < 10),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           {_cos_micros_prenorm_sql('e.embedding', 'c.embedding', 'e.nrm', 'c.nrm')} AS cos_micros,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cos_micros_prenorm_sql('e.embedding', 'c.embedding', 'e.nrm', 'c.nrm')} DESC,
                        c.centroid_id) AS rn
    FROM e JOIN cents c ON true) t
  WHERE rn = 1
),
queries AS (
  SELECT a.vec_id AS query_id, a.centroid_id, q.embedding AS q_emb, q.nrm AS q_nrm
  FROM assign a JOIN e q ON q.vec_id = a.vec_id
  WHERE a.vec_id >= 490 AND a.vec_id < 495
),
scored AS (
  SELECT qu.query_id, a.vec_id AS neighbor_id,
         {_cos_micros_prenorm_sql('qu.q_emb', 'e.embedding', 'qu.q_nrm', 'e.nrm')} AS cos_micros
  FROM queries qu
  JOIN assign a ON a.centroid_id = qu.centroid_id AND a.vec_id <> qu.query_id
  JOIN e ON e.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cos_micros, rn FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_micros DESC, neighbor_id) AS INTEGER) AS rn
  FROM scored) t
WHERE rn <= 3
""",
    doc="IVF probe-1 search end-to-end: assign all vectors to their "
    "nearest centroid (q62), then each query searches ONLY its own cell "
    "— the partition-pruned ANN plan (vs brute-force q60). Recall is "
    "bounded by probe count; raise probes by joining top-P centroids.",
)
def q65_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = q62_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    e = with_norm(load(spark, sf_dir, "embeddings"))
    queries = (
        assign.filter((F.col("vec_id") >= 490) & (F.col("vec_id") < 495))
        .join(e, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            "centroid_id",
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    members = assign.join(e, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        "centroid_id",
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    scored = (
        queries.join(members, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos_micros(
                _dot(F.col("q_emb"), F.col("n_emb")),
                F.col("q_nrm"),
                F.col("n_nrm"),
            ).alias("cos_micros"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_micros").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@register(
    "q66_vector_dedup_clusters",
    oracle=f"""
WITH RECURSIVE
pairs AS ({_LSH_NEARDUP_SQL}),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach(node, lab) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS vec_id, CAST(MIN(lab) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
""",
    doc="Embedding near-dup CLUSTER resolution: connected components "
    "over the LSH-bucketed pair graph (q64) — the vector-side analog of "
    "q54. Completes the production dedup path end-to-end: bucket → "
    "verify pairs → resolve transitive clusters → keep one per cluster; "
    "every vector (incl. singletons) gets cluster_id = min vec_id of "
    "its component.",
)
def q66_vector_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_candy_store_spark.operators.dedup import connected_components

    pairs = q64_lsh_neardup(spark, sf_dir).select("vec_a", "vec_b")
    cc = connected_components(pairs, "vec_a", "vec_b")
    vecs = load(spark, sf_dir, "embeddings").select("vec_id")
    return vecs.join(cc, vecs["vec_id"] == cc["node"], "left").select(
        "vec_id",
        F.coalesce(F.col("label"), F.col("vec_id")).cast("long").alias("cluster_id"),
    )


# --- int8 scalar quantization (SQ8) — the compressed ANN path -------------

_SQ8_CODES_SQL = """
ex AS (
  SELECT vec_id, u.i, CAST(embedding[u.i] AS DOUBLE) AS val
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
stats AS (SELECT i, MIN(val) AS mn, MAX(val) AS mx FROM ex GROUP BY i),
arrs AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM stats),
codes AS (
  SELECT vec_id,
         list_transform(range(1, len(embedding) + 1),
           i -> CAST(least(255.0, greatest(0.0,
                  CASE WHEN maxs[i] = mins[i] THEN 0.0
                       ELSE floor((CAST(embedding[i] AS DOUBLE) - mins[i])
                                  / (maxs[i] - mins[i]) * 255.0) END)) AS BIGINT)
         ) AS codes
  FROM embeddings, arrs
)
"""


def _sq8_codes(e: DataFrame) -> DataFrame:
    """Per-dimension min/max scalar quantization to 8-bit codes.

    The stats side is a 64-row global aggregate broadcast back onto the
    fleet — at 100 TB the codes are computed once, stored, and searched
    in the integer domain (4x smaller than float32, SIMD-friendly).
    Code arithmetic is floor() over identically-associated double
    expressions, so Spark and DuckDB produce bit-identical codes.
    """
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("val"))
    stats = ex.groupBy("pos").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    arrs = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("maxs"),
    )
    code_expr = (
        "transform(sequence(1, size(embedding)), i -> CAST(least(255.0D,"
        " greatest(0.0D, CASE WHEN element_at(maxs, i) = element_at(mins, i)"
        " THEN 0.0D ELSE floor((CAST(element_at(embedding, i) AS DOUBLE)"
        " - element_at(mins, i)) / (element_at(maxs, i) - element_at(mins, i))"
        " * 255.0D) END)) AS BIGINT))"
    )
    return e.crossJoin(F.broadcast(arrs)).select(
        "vec_id", F.expr(code_expr).alias("codes")
    )


@register(
    "q69_sq8_search",
    oracle=f"""
WITH {_SQ8_CODES_SQL},
q AS (SELECT vec_id AS query_id, codes AS qc FROM codes WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_reduce(list_transform(list_zip(q.qc, c.codes),
              x -> x[1] * x[2]), (p, s) -> p + s) AS BIGINT) AS qdot
  FROM q JOIN codes c ON c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, qdot, rn FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY qdot DESC, neighbor_id) AS INTEGER) AS rn
  FROM scored) t
WHERE rn <= 5
""",
    doc="Quantized ANN: int8 scalar quantization (per-dimension global "
    "min/max -> 8-bit codes) + top-5 by integer code dot product. The "
    "compressed search path: codes are 4x smaller than float32 and the "
    "hot loop is integer multiply-add; brute-force q60 is its recall "
    "baseline. Two-phase plan: a 64-row stats aggregate broadcast back "
    "to encode (one pass), then the same broadcast top-k shape as q60.",
)
def q69_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = _sq8_codes(load(spark, sf_dir, "embeddings"))
    q = codes.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qc")
    )
    scored = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(F.col("qc"), F.col("codes"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@register(
    "q87_ivf_multiprobe",
    oracle=f"""
WITH e AS ({_E_NORMED_SQL}),
cents AS (SELECT vec_id AS centroid_id, embedding, nrm FROM e WHERE vec_id < 10),
cent_scored AS (
  SELECT e.vec_id, c.centroid_id,
         {_cos_micros_prenorm_sql('e.embedding', 'c.embedding', 'e.nrm', 'c.nrm')} AS cos_micros,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos_micros_prenorm_sql('e.embedding', 'c.embedding', 'e.nrm', 'c.nrm')} DESC,
                      c.centroid_id) AS rn
  FROM e JOIN cents c ON true
),
assign AS (SELECT vec_id, centroid_id FROM cent_scored WHERE rn = 1),
probes AS (SELECT vec_id, centroid_id, CAST(rn AS INTEGER) AS probe FROM cent_scored WHERE rn <= 2),
queries AS (
  SELECT p.vec_id AS query_id, p.centroid_id, p.probe, q.embedding AS q_emb, q.nrm AS q_nrm
  FROM probes p JOIN e q ON q.vec_id = p.vec_id
  WHERE p.vec_id >= 490 AND p.vec_id < 495
),
scored AS (
  SELECT qu.query_id, a.vec_id AS neighbor_id, qu.probe,
         {_cos_micros_prenorm_sql('qu.q_emb', 'e.embedding', 'qu.q_nrm', 'e.nrm')} AS cos_micros
  FROM queries qu
  JOIN assign a ON a.centroid_id = qu.centroid_id AND a.vec_id <> qu.query_id
  JOIN e ON e.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, cos_micros, probe, rn FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_micros DESC, neighbor_id) AS INTEGER) AS rn
  FROM scored) t
WHERE rn <= 3
""",
    doc="IVF multi-probe (probe=2) search: each query scans its TWO "
    "nearest cells instead of one — the standard recall knob for "
    "IVF ANN (probe count trades scan width for recall; the probe "
    "column shows which cell each surviving neighbor came from). Same "
    "partition-pruned shape as q65: candidate set is bounded by cell "
    "sizes, never the corpus; at 100 TB probes-many is a multi-partition "
    "pruned scan, not a shuffle.",
)
def q87_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = with_norm(load(spark, sf_dir, "embeddings"))
    cents = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    cent_scored = e.join(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        _cos_micros(
            _dot(F.col("embedding"), F.col("c_emb")), F.col("nrm"), F.col("c_nrm")
        ).alias("cos_micros"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cos_micros").desc(), F.col("centroid_id")
    )
    ranked = cent_scored.withColumn("rn", F.row_number().over(w_assign))
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "centroid_id")
    probes = ranked.filter(F.col("rn") <= 2).select(
        "vec_id", "centroid_id", F.col("rn").cast("int").alias("probe")
    )
    queries = (
        probes.filter((F.col("vec_id") >= 490) & (F.col("vec_id") < 495))
        .join(e, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            "centroid_id",
            "probe",
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    members = assign.join(e, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        "centroid_id",
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    scored = (
        queries.join(members, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe",
            _cos_micros(
                _dot(F.col("q_emb"), F.col("n_emb")),
                F.col("q_nrm"),
                F.col("n_nrm"),
            ).alias("cos_micros"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_micros").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cos_micros", "probe", "rn")
    )


# --- k-means centroid update (one Lloyd iteration) ------------------------

# q62's registered oracle doubles as the assignment CTE here, exactly as
# q101 composes q52's — one copy of the assignment semantics
from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY as _REGISTRY

_ASSIGN_SQL = _REGISTRY["q62_ivf_assign"].oracle


@register(
    "q106_kmeans_update",
    oracle=f"""
WITH assign AS ({_ASSIGN_SQL}),
comps AS (
  SELECT a.centroid_id, CAST(t.i AS INTEGER) AS dim,
         CAST(floor(CAST(e.embedding[CAST(t.i + 1 AS INTEGER)] AS DOUBLE)
              * 1000000) AS BIGINT) AS c
  FROM assign a, embeddings e, range({_DIM}) t(i)
  WHERE e.vec_id = a.vec_id
)
SELECT centroid_id, dim,
       CAST(SUM(c) AS BIGINT) // COUNT(*) AS mean_micros,
       COUNT(*) AS n_members
FROM comps GROUP BY 1, 2
""",
    doc="One Lloyd iteration of k-means: q62's broadcast centroid "
    "assignment, then the centroid UPDATE step — per-(cluster, dim) "
    "mean of member components. Components are floored to integer "
    "micro-units BEFORE the sum so the aggregate is associative and "
    "order-independent (a raw double sum over a shuffle is not), and "
    "the mean is integer division — cross-engine exact. The iterative-"
    "ML shape at scale: assignment is a broadcast join (no shuffle of "
    "the corpus), the update is ONE groupBy on (centroid_id, dim) with "
    "map-side partial aggregation; k x d result rows are tiny, so "
    "iterating = re-broadcasting a small frame. Long (cluster, dim, "
    "value) format avoids shuffling wide arrays.",
)
def q106_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = q62_ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    e = load(spark, sf_dir, "embeddings")
    comps = (
        assign.join(e, "vec_id")
        .select(
            "centroid_id",
            F.posexplode("embedding").alias("dim", "comp"),
        )
        .select(
            "centroid_id",
            "dim",
            F.floor(F.col("comp").cast("double") * F.lit(1000000.0))
            .cast("long")
            .alias("c"),
        )
    )
    return comps.groupBy("centroid_id", "dim").agg(
        F.expr("sum(c) div count(1)").alias("mean_micros"),
        F.count(F.lit(1)).alias("n_members"),
    )


@register(
    "q110_feature_covariance",
    oracle=f"""
WITH cm AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS c
  FROM embeddings
),
n AS (SELECT COUNT(*) AS n FROM embeddings),
xy AS (
  SELECT CAST(a.i AS INTEGER) AS i, CAST(b.j AS INTEGER) AS j,
         SUM(cm.c[CAST(a.i + 1 AS INTEGER)] * cm.c[CAST(b.j + 1 AS INTEGER)]) AS sxy
  FROM cm, range({_DIM}) a(i), range({_DIM}) b(j)
  WHERE b.j >= a.i
  GROUP BY 1, 2
),
sx AS (
  SELECT CAST(t.i AS INTEGER) AS dim, SUM(cm.c[CAST(t.i + 1 AS INTEGER)]) AS s
  FROM cm, range({_DIM}) t(i) GROUP BY 1
)
SELECT xy.i, xy.j,
       (n.n * CAST(xy.sxy AS BIGINT) - CAST(si.s AS BIGINT) * CAST(sj.s AS BIGINT))
         // (n.n * n.n) AS cov_milli2
FROM xy
JOIN sx si ON si.dim = xy.i
JOIN sx sj ON sj.dim = xy.j
CROSS JOIN n
""",
    doc="Feature covariance matrix over the embedding columns — the "
    "input to whitening / PCA / decorrelation diagnostics. Components "
    "are floored to integer MILLI-units so every sum is associative "
    "and int64-safe (milli^2 cross-products x corpus size stay well "
    "under 2^63; micro-units would overflow), and "
    "cov = (n*Sxy - Sx*Sy) / n^2 is evaluated in exact integer "
    "arithmetic with one truncating division. The upper triangle's "
    "d(d+1)/2 cross-products fan out ROW-LOCALLY (one array transform "
    "per vector, zero joins before the aggregate), then ONE map-side-"
    "combinable groupBy on (i, j) collapses the corpus to d^2/2 tiny "
    "rows; per-dim sums are a 64-row broadcast. The corpus is scanned "
    "once and never shuffled by key.",
)
def q110_feature_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    # Per-partition numpy Gram fold: each task accumulates X'.T @ X'
    # over its Arrow batches, where X' is the integer milli-unit matrix
    # augmented with a ones column — so the (d+1)x(d+1) partial carries
    # the pair products, the per-dim sums (last column) AND the row
    # count (corner) in one int64 matmul. Each partition emits only the
    # (d+1)(d+2)/2 upper-triangle cells (~2k rows), so the shuffled
    # intermediate is ~1000x smaller than the previous per-row explode
    # of d(d+1)/2 products, and the hot loop is a vectorized integer
    # matmul instead of a Catalyst array fan-out. Flooring to integer
    # BEFORE the fold keeps every sum associative and cross-engine
    # exact (float64 *1000 + floor matches Spark's DOUBLE semantics).
    d1 = _DIM + 1

    def gram_fold(batches):
        import numpy as np
        import pandas as pd

        G = np.zeros((d1, d1), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1000.0
            ).astype(np.int64)
            Xa = np.concatenate(
                [X, np.ones((X.shape[0], 1), dtype=np.int64)], axis=1
            )
            G += Xa.T @ Xa
        if not seen:
            return
        iu = np.triu_indices(d1)
        yield pd.DataFrame(
            {"gi": iu[0].astype("int32"), "gj": iu[1].astype("int32"), "v": G[iu]}
        )

    tot = (
        e.select("embedding")
        .mapInPandas(gram_fold, schema="gi int, gj int, v long")
        .groupBy("gi", "gj")
        .agg(F.sum("v").alias("v"))
    )
    xy = tot.filter(F.col("gj") < _DIM).select(
        F.col("gi").alias("i"), F.col("gj").alias("j"), F.col("v").alias("sxy")
    )
    sx = tot.filter((F.col("gj") == _DIM) & (F.col("gi") < _DIM)).select(
        F.col("gi").alias("dim"), F.col("v").alias("s")
    )
    n = tot.filter((F.col("gi") == _DIM) & (F.col("gj") == _DIM)).select(
        F.col("v").alias("n")
    )
    return (
        xy.join(F.broadcast(sx.select(F.col("dim").alias("i"), F.col("s").alias("si"))), "i")
        .join(F.broadcast(sx.select(F.col("dim").alias("j"), F.col("s").alias("sj"))), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.expr("(n * sxy - si * sj) div (n * n)").alias("cov_milli2"),
        )
    )


@register(
    "q124_ann_recall",
    oracle=f"""
WITH e AS ({_E_NORMED_SQL}),
truth AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {_cos_micros_prenorm_sql('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')}
          >= 250000
),
bucketed AS (
  SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm,
         {_BUCKET_SQL} AS bucket FROM embeddings
),
found AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {_cos_micros_prenorm_sql('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')}
          >= 250000
)
SELECT (SELECT COUNT(*) FROM truth) AS n_true,
       (SELECT COUNT(*) FROM found) AS n_found,
       CAST(((SELECT COUNT(*) FROM found) * 1000000)
            // NULLIF((SELECT COUNT(*) FROM truth), 0) AS BIGINT)
         AS recall_micros
""",
    doc="ANN recall instrumentation: the fraction of exact near-dup "
    "pairs (brute-force q61 ground truth, cos >= 0.25) that the "
    "hyperplane-LSH bucket join (q64's candidate generator) retains at "
    "the same threshold — the number an ANN deployment must monitor "
    "before trusting the scale path. LSH verification uses the exact "
    "cosine, so found pairs are precisely truth ∩ candidates and "
    "recall needs no pair-level join: two counts and one integer "
    "division. Inherits q61's input-size guard (ground truth is "
    "quadratic by definition; at production scale recall is estimated "
    "on a sampled slice instead).",
)
def q124_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = q61_embedding_neardup(spark, sf_dir).filter(
        F.col("cos_micros") >= 250000
    )
    found = q64_lsh_neardup(spark, sf_dir).filter(F.col("cos_micros") >= 250000)
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    f = found.agg(F.count(F.lit(1)).alias("n_found"))
    return (
        t.crossJoin(f)
        .select(
            "n_true",
            "n_found",
            # NULLIF on both sides: Spark's non-ANSI `div` returns NULL
            # on /0 but DuckDB's `//` errors, so an empty truth set must
            # be NULL-by-construction in both engines.
            F.expr(
                "CAST((n_found * 1000000) div NULLIF(n_true, 0) AS BIGINT)"
            ).alias("recall_micros"),
        )
    )


@register(
    "q128_sampled_ann_recall",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm,
         {_BUCKET_SQL} AS bucket FROM embeddings
),
q AS (SELECT * FROM b WHERE vec_id % 13 = 3 AND vec_id < 1664),
truth AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CASE WHEN q.bucket = c.bucket THEN 1 ELSE 0 END AS hit
  FROM q JOIN b c ON c.vec_id <> q.vec_id
  WHERE {_cos_micros_prenorm_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')}
          >= 250000
)
SELECT (SELECT COUNT(*) FROM q) AS n_queries,
       COUNT(*) AS n_true,
       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_found,
       CAST((COALESCE(SUM(hit), 0) * 1000000)
            // NULLIF(COUNT(*), 0) AS BIGINT) AS recall_micros
FROM truth
""",
    doc="SAMPLED ANN recall — the production-scale replacement for "
    "q124's guarded exhaustive estimate. A fixed-size deterministic "
    "query sample (stride-13 over a bounded id range, <=128 queries) is "
    "broadcast against the full corpus; ONE scan computes, per "
    "(query, neighbor) pair above the exact-cosine threshold, whether "
    "the LSH bucket join (q64's candidate generator) would have "
    "surfaced it. O(|sample| * n) with no corpus self-join, no guard "
    "needed: the corpus never shuffles (the final agg moves two "
    "numbers per partition) and recall is directional per sampled "
    "query, so the estimate is unbiased for per-query neighbor recall. "
    "found <= truth by construction because the hit test and the truth "
    "filter use the same exact cosine.",
)
def q128_sampled_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = with_norm(load(spark, sf_dir, "embeddings")).withColumn(
        "bucket", lsh_bucket_col()
    )
    q = b.filter(
        (F.pmod(F.col("vec_id"), F.lit(13)) == 3) & (F.col("vec_id") < 1664)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    truth = (
        b.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .filter(
            _cos_micros(
                _dot(F.col("q_emb"), F.col("embedding")),
                F.col("q_nrm"),
                F.col("nrm"),
            )
            >= 250000
        )
        .select(
            F.when(F.col("q_bucket") == F.col("bucket"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("hit")
        )
    )
    counts = truth.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_found"),
    )
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    return nq.crossJoin(counts).select(
        "n_queries",
        "n_true",
        "n_found",
        F.expr(
            "CAST((n_found * 1000000) div NULLIF(n_true, 0) AS BIGINT)"
        ).alias("recall_micros"),
    )


# --- Product quantization (PQ-ADC) ------------------------------------

_PQ_M = 8       # subspaces
_PQ_DSUB = 8    # dims per subspace (M * DSUB = 64 = embedding dim)
_PQ_K = 16      # codebook entries per subspace (vec_id < 16 seed them)

# order-exact sub-vector dot product over dims [(m-1)*DSUB+1 .. m*DSUB]
# (same left-fold association as _DOT_SQL, so Spark and DuckDB produce
# bit-identical doubles; lambda vars {m} and the codebook entry {b} are
# interpolated by the callers)
_PQ_DOT_SQL = (
    "list_reduce(list_transform(list_zip("
    " list_slice({a}, ({m} - 1) * 8 + 1, {m} * 8),"
    " list_slice({b}, ({m} - 1) * 8 + 1, {m} * 8)),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)"
)

_PQ_DOT_SPARK = (
    "aggregate(zip_with("
    " slice({a}, ({m} - 1) * 8 + 1, 8), slice({b}, ({m} - 1) * 8 + 1, 8),"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (p, q) -> p + q)"
)


def pq_adc_search(
    e: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    *,
    m: int = _PQ_M,
    topk: int = 5,
) -> DataFrame:
    """PQ-ADC search with ANY codebook — the reusable operator behind
    q126. ``e``: (vec_id, embedding) corpus; ``codebook``: (entry_id,
    embedding) — ordering by entry_id defines code values; ``queries``:
    (query_id, embedding). The codebook's entry COUNT is free (the
    expressions iterate the broadcast array, no K literal), so a
    kmeans-refined book from q106 drops in without replanning — see
    ``examples/run_ann_search.py``. Encoding and scoring are row-local
    projections against the single broadcast codebook row; per-query
    integer LUTs broadcast onto the corpus."""
    cb = codebook.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("entry_id", "embedding"))),
            lambda s: s["embedding"],
        ).alias("cbv")
    )
    dots_expr = (
        f"transform(sequence(1, {m}), m ->"
        f" transform(cbv, cbe ->"
        f" {_PQ_DOT_SPARK.format(a='embedding', b='cbe', m='m')}))"
    )
    codes = (
        e.crossJoin(F.broadcast(cb))
        .select("vec_id", F.expr(dots_expr).alias("dots"))
        .select(
            "vec_id",
            F.expr(
                "transform(dots, ds -> array_position(ds, array_max(ds)))"
            ).alias("codes"),
        )
    )
    lut_expr = (
        f"transform(sequence(1, {m}), m ->"
        f" transform(cbv, cbe ->"
        f" CAST(floor({_PQ_DOT_SPARK.format(a='embedding', b='cbe', m='m')}"
        f" * 1000000.0D) AS BIGINT)))"
    )
    qlut = queries.crossJoin(F.broadcast(cb)).select(
        "query_id", F.expr(lut_expr).alias("lut")
    )
    scored = codes.join(
        F.broadcast(qlut), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            f"CAST(aggregate(sequence(1, {m}), CAST(0 AS BIGINT),"
            " (acc, m) -> acc + element_at(element_at(lut, m),"
            " CAST(element_at(codes, m) AS INT))) AS BIGINT)"
        ).alias("adc_micros"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micros").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= topk
    )


@register(
    "q126_pq_adc_search",
    oracle=f"""
WITH cbq AS (
  SELECT list(embedding ORDER BY vec_id) AS cbv
  FROM embeddings WHERE vec_id < {_PQ_K}
),
enc AS (
  SELECT e.vec_id,
         list_transform(range(1, {_PQ_M + 1}), m ->
           list_transform(range(1, {_PQ_K + 1}), c ->
             {_PQ_DOT_SQL.format(a='e.embedding', b='cbv[c]', m='m')})) AS dots
  FROM embeddings e, cbq
),
codes AS (
  SELECT vec_id,
         list_transform(dots, ds ->
           list_position(ds, list_aggregate(ds, 'max'))) AS codes
  FROM enc
),
qlut AS (
  SELECT e.vec_id AS query_id,
         list_transform(range(1, {_PQ_M + 1}), m ->
           list_transform(range(1, {_PQ_K + 1}), c ->
             CAST(floor({_PQ_DOT_SQL.format(a='e.embedding', b='cbv[c]', m='m')}
                  * CAST(1000000 AS DOUBLE)) AS BIGINT))) AS lut
  FROM embeddings e, cbq WHERE e.vec_id < 5
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_reduce(list_transform(range(1, {_PQ_M + 1}),
              m -> q.lut[m][c.codes[m]]), (p, s) -> p + s) AS BIGINT) AS adc_micros
  FROM qlut q JOIN codes c ON c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, adc_micros, rn FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc_micros DESC, neighbor_id) AS INTEGER) AS rn
  FROM scored) t
WHERE rn <= 5
""",
    doc="Product-quantization ANN with asymmetric distance computation "
    "(ADC; Jégou et al., PAMI 2011) — the third leg of the compressed "
    "search stack beside IVF cells (q62-q65/q87) and SQ8 codes (q69). "
    "Each 64-dim vector is encoded as 8 sub-space codes into a "
    "16-entry-per-subspace codebook (deterministically seeded from the "
    "first 16 corpus vectors — no RNG, so Spark and DuckDB agree "
    "bit-for-bit; production swaps in k-means centroids via q106 "
    "without changing the plan). Queries stay full-precision: each "
    "builds an 8x16 lookup table of floor-micro sub-dots ONCE, and "
    "scoring a candidate is then 8 integer table lookups + adds — no "
    "float math per pair, 32x less storage than float32 at 100 TB "
    "(codes: 8 small ints vs 64 floats). Plan shape: the codebook is "
    "ONE broadcast row; encoding is a row-local projection over the "
    "corpus; the query LUTs broadcast (5 rows) onto a row-local "
    "integer fold + parallel partial top-k. Sub-dots use the same "
    "order-exact left fold as every similarity oracle here.",
)
def q126_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    cb = e.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("entry_id"), "embedding"
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_search(e, cb, q)


def pq_encode(
    e: DataFrame,
    codebook: DataFrame,
    *,
    m: int = _PQ_M,
    out_col: str = "code_key",
) -> DataFrame:
    """Append each vector's first-``m``-subspace PQ code as a short
    string column (``"c1-c2-..."``), keeping every input column. The
    codebook collapses to ONE broadcast row and the encode is a
    row-local projection — shared by batch q129 and the streaming
    code-dedup so the fingerprint is a single definition in both
    modes."""
    cb = codebook.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("entry_id", "embedding"))),
            lambda s: s["embedding"],
        ).alias("cbv")
    )
    dots_expr = (
        f"transform(sequence(1, {m}), m ->"
        f" transform(cbv, cbe ->"
        f" {_PQ_DOT_SPARK.format(a='embedding', b='cbe', m='m')}))"
    )
    return (
        e.crossJoin(F.broadcast(cb))
        .withColumn("_dots", F.expr(dots_expr))
        .withColumn(
            out_col,
            F.expr(
                "array_join(transform(_dots, ds ->"
                " CAST(array_position(ds, array_max(ds)) AS STRING)), '-')"
            ),
        )
        .drop("_dots", "cbv")
    )


def pq_code_groups(
    e: DataFrame,
    codebook: DataFrame,
    *,
    m: int = _PQ_M,
) -> DataFrame:
    """Group vectors by their first-``m``-subspace PQ code — the
    coarse SEMANTIC fingerprint dedup: vectors that quantize
    identically in every checked subspace are near-identical in
    embedding space, and finding them costs ONE row-local encode
    projection plus ONE groupBy on a tiny string key (vs a pairwise
    cosine join). Returns (code_key, n_vectors, canonical_vec_id) for
    groups of >= 2. At 100 TB this is the cheapest semantic-dup sweep
    there is: no self-join, no candidate generation, one shuffle on an
    8-byte-ish key; its recall knob is ``m`` (more subspaces = finer
    fingerprint = fewer, tighter groups)."""
    return (
        pq_encode(e, codebook, m=m)
        .select("vec_id", "code_key")
        .groupBy("code_key")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("canonical_vec_id"),
        )
        .filter(F.col("n_vectors") >= 2)
    )


@register(
    "q129_pq_code_dedup",
    oracle=f"""
WITH cbq AS (
  SELECT list(embedding ORDER BY vec_id) AS cbv
  FROM embeddings WHERE vec_id < {_PQ_K}
),
codes AS (
  SELECT e.vec_id,
         array_to_string(list_transform(range(1, 4), m ->
           CAST(list_position(
             list_transform(range(1, {_PQ_K + 1}), c ->
               {_PQ_DOT_SQL.format(a='e.embedding', b='cbv[c]', m='m')}),
             list_aggregate(
               list_transform(range(1, {_PQ_K + 1}), c ->
                 {_PQ_DOT_SQL.format(a='e.embedding', b='cbv[c]', m='m')}),
               'max')) AS VARCHAR)), '-') AS code_key
  FROM embeddings e, cbq
)
SELECT code_key, COUNT(*) AS n_vectors, MIN(vec_id) AS canonical_vec_id
FROM codes GROUP BY code_key HAVING COUNT(*) >= 2
""",
    doc="Quantization-code semantic dedup: vectors sharing their "
    "first-3-subspace PQ code (24 of 64 dims quantized identically "
    "against the q126 codebook) grouped into coarse near-identical "
    "clusters with a min-id canonical — the zero-join semantic-dup "
    "sweep. Complements the pairwise paths (q61 exact, q64 LSH, q66 "
    "clusters): encode is row-local against one broadcast codebook "
    "row, and the only shuffle is a groupBy on the short code string, "
    "so cost is O(n) regardless of how many dups there are. The "
    "subspace count is the precision knob; 3 is the catalog setting "
    "that yields non-trivial groups on the synthetic corpus.",
)
def q129_pq_code_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    cb = e.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("entry_id"), "embedding"
    )
    return pq_code_groups(e, cb, m=3)


@register(
    "q148_sq8_reconstruction_error",
    oracle=f"""
WITH {_SQ8_CODES_SQL},
d AS (
  SELECT e.vec_id, e.label,
         list_transform(range(1, len(e.embedding) + 1),
           i -> CASE WHEN maxs[i] = mins[i] THEN 0.0
                ELSE CAST(e.embedding[i] AS DOUBLE)
                     - (mins[i] + (CAST(c.codes[i] AS DOUBLE) + 0.5)
                        * (maxs[i] - mins[i]) / 255.0) END) AS diffs
  FROM embeddings e JOIN codes c USING (vec_id), arrs
),
errs AS (
  SELECT vec_id, label,
         CAST(floor(list_reduce(list_transform(diffs, x -> x * x),
              (p, s) -> p + s) * 1000000000000.0) AS BIGINT) AS sse_fp
  FROM d
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(sse_fp) AS BIGINT) AS total_sse_fp,
       CAST(MAX(sse_fp) AS BIGINT) AS max_sse_fp
FROM errs GROUP BY label
""",
    doc="SQ8 quantization-quality report: per-vector squared "
    "reconstruction error of the q69 int8 codes (midpoint decode), "
    "rolled up per label — the measurement that says whether the 4x "
    "compression is safe for the search workload, and the drift alarm "
    "when new data leaves the calibrated min/max range. Per-vector "
    "error is a row-local array fold over the broadcast stats (same "
    "one-scan shape as encoding); the only shuffle is the label "
    "rollup. The double arithmetic is identically associated in both "
    "engines (array-ordered fold, 0-init addition is IEEE-exact), then "
    "floored to integer picounits BEFORE the distributed sum — so the "
    "cross-engine hash stays exact.",
)
def q148_sq8_reconstruction_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    codes = _sq8_codes(e)
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("val"))
    stats = ex.groupBy("pos").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    arrs = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("maxs"),
    )
    diffs = (
        "transform(sequence(1, size(embedding)), i ->"
        " CASE WHEN element_at(maxs, i) = element_at(mins, i) THEN 0.0D"
        " ELSE CAST(element_at(embedding, i) AS DOUBLE)"
        " - (element_at(mins, i) + (CAST(element_at(codes, i) AS DOUBLE)"
        " + 0.5D) * (element_at(maxs, i) - element_at(mins, i)) / 255.0D)"
        " END)"
    )
    sse = (
        f"CAST(floor(aggregate(transform({diffs}, x -> x * x), 0.0D,"
        " (p, s) -> p + s) * 1000000000000.0D) AS BIGINT)"
    )
    return (
        e.join(codes, "vec_id")
        .crossJoin(F.broadcast(arrs))
        .select("label", F.expr(sse).alias("sse_fp"))
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("sse_fp").cast("long").alias("total_sse_fp"),
            F.max("sse_fp").cast("long").alias("max_sse_fp"),
        )
    )



_OUTLIER_K = 5  # bottom-k per centroid


@register(
    "q244_embedding_outliers",
    oracle=f"""
WITH assign AS ({_ASSIGN_SQL}),
ranked AS (
  SELECT centroid_id, vec_id, cos_micros,
         ROW_NUMBER() OVER (PARTITION BY centroid_id
                            ORDER BY cos_micros, vec_id) AS rk
  FROM assign
)
SELECT centroid_id, vec_id, cos_micros, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {_OUTLIER_K}
""",
    doc=f"Embedding outlier audit: the {_OUTLIER_K} vectors FARTHEST "
    "from their own IVF centroid per cell (lowest assigned cosine, "
    "q62's assignment reused) — the scrub list a vector-quality pass "
    "reads: mis-embedded rows, corrupted inputs, and out-of-"
    "distribution content all land here first, and a cell whose "
    "outliers' cosines collapse flags a centroid that no longer "
    "covers its region (retrain trigger). Bottom-k instead of a "
    "fixed threshold so the report is non-degenerate at any "
    "distribution. Scale posture: q62's broadcast-centroid scan plus "
    "one per-centroid WindowGroupLimit (bounded heap, never a global "
    "sort) — no new shuffle family.",
)
def q244_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = q62_ivf_assign(spark, sf_dir)
    w = Window.partitionBy("centroid_id").orderBy("cos_micros", "vec_id")
    return (
        assign.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _OUTLIER_K)
        .select(
            "centroid_id",
            "vec_id",
            "cos_micros",
            F.col("rk").cast("int").alias("rk"),
        )
    )
