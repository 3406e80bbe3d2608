"""Iterative graph analytics over relation-derived graphs.

PageRank over the document near-duplicate similarity graph (the q51
Jaccard pairs): centrality inside duplicate neighborhoods ranks the
"hub" variants a curation pipeline should prefer as canonical docs, and
the operator itself is the catalog's iterative-graph-propagation
primitive (the same shuffle shape as label propagation, belief
propagation, or embedding-graph smoothing at 100 TB).

Extends the reference's dedup cluster-resolution capability
(/root/reference/src/data_processor.py:389-465 resolves duplicates
row-by-row on the driver; SURVEY §2.12): where q54/q125 label
components, PageRank orders nodes *within* them.

All arithmetic is integer micro-units with explicit integer division
(``div`` in Spark, ``//`` in DuckDB), so the trajectory is associative,
retry-stable, and bit-identical cross-engine — no float accumulation
order dependence.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.dedup import (
    _CLUSTERS_SQL,
    _JACCARD_PAIRS_SQL,
    fixpoint,
    jaccard_pairs_checkpointed,
)
from etl_pipeline_candy_store_spark.plans.catalog import load, register

#: damping in per-mille: pr' = (1-d) + d * sum(pr_u / deg_u), d = 0.85
_DAMP_PM = 850
_BASE_MICROS = 150_000  # (1000 - 850) per-mille of the 1_000_000 unit mass


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list.

    Returns (node, degree, pr_micros) for every node with at least one
    outgoing edge. Callers wanting undirected semantics symmetrize the
    edge list first (see :func:`q136_pagerank`); in a symmetrized graph
    every node also receives mass, so no dangling-mass redistribution
    step is needed.

    Scale shape (per iteration): ONE shuffle — the contribution
    aggregation on the destination key. The per-node contribution
    ``pr div deg`` is computed by joining ranks to the edge list on the
    source key; with ranks and degrees co-partitioned with edges on the
    node key (one ``repartition`` up front on a real cluster, or
    bucketed tables), that join is shuffle-free, leaving the dst-keyed
    map-side-combinable sum as the only data movement.

    Lineage: each superstep references the CHECKPOINTED edge/degree
    relations plus the previous rank relation once, so the plan grows
    linearly in ``n_iter``, not exponentially — a handful of iterations
    run as ONE job with no mid-loop materialization. Only every
    ``checkpoint_every``-th iteration cuts lineage with an eager
    ``localCheckpoint`` (reliable checkpointing on a cluster): the
    fixed cost of an extra job per superstep dominates small-graph /
    low-iteration runs, while deep runs still bound plan depth and
    recovery-recompute cost.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.localCheckpoint(eager=True)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    deg = deg.localCheckpoint(eager=True)
    pr = deg.select("node", F.lit(1_000_000).cast("long").alias("pr"))
    # Every superstep join is hinted shuffle_hash: rank rows arrive
    # from the previous superstep's dst-keyed aggregation with no
    # useful order, so sort-merge would pay a full sort per side per
    # iteration (the unhinted plan: 7 SMJ / 11 Sorts for 3 iterations).
    # Hash-building on the node-sized side keeps each superstep at the
    # dst aggregation's shuffle plus a sort-free probe of the edge
    # relation — the shape that survives deep iteration counts.
    for it in range(n_iter):
        contrib = (
            e.join(
                pr.join(deg.hint("shuffle_hash"), "node").select(
                    F.col("node").alias("src"),
                    F.expr("pr div deg").alias("c"),
                ).hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("mass"))
        )
        pr = contrib.select(
            "node",
            (
                F.lit(_BASE_MICROS)
                + F.expr(f"({_DAMP_PM} * mass) div 1000")
            )
            .cast("long")
            .alias("pr"),
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < n_iter:
            pr = pr.localCheckpoint(eager=True)
    return deg.join(pr.hint("shuffle_hash"), "node").select(
        "node",
        F.col("deg").cast("long").alias("degree"),
        F.col("pr").cast("long").alias("pr_micros"),
    )


def _pr_iter_sql(k: int) -> str:
    return f"""
pr{k} AS (
  SELECT e.dst AS node,
         {_BASE_MICROS} + ({_DAMP_PM} * SUM(p.pr // d.deg)) // 1000 AS pr
  FROM edges e
  JOIN pr{k - 1} p ON p.node = e.src
  JOIN deg d ON d.node = e.src
  GROUP BY e.dst
)"""


#: q136's full oracle — also composed by q142's canonical selection.
_PAGERANK_SQL = f"""
WITH pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM deg),
{_pr_iter_sql(1)},
{_pr_iter_sql(2)},
{_pr_iter_sql(3)}
SELECT d.node AS doc_id,
       CAST(d.deg AS BIGINT) AS degree,
       CAST(p.pr AS BIGINT) AS pr_micros
FROM deg d JOIN pr3 p ON p.node = d.node
"""


@register(
    "q136_pagerank",
    oracle=_PAGERANK_SQL,
    doc="Fixed-iteration (3) integer PageRank over the symmetrized q51 "
    "near-duplicate similarity graph: ranks documents by centrality "
    "within their duplicate neighborhoods — the 'pick the hub variant "
    "as canonical' signal, and the catalog's iterative graph-"
    "propagation primitive (same shuffle shape as label propagation). "
    "Per iteration exactly ONE shuffle (the dst-keyed contribution "
    "sum; the rank-to-edge join co-partitions on the node key), "
    "lineage cut per superstep via localCheckpoint. Integer micro-unit "
    "mass with explicit integer division makes the 3-step trajectory "
    "bit-identical across engines and cluster layouts.",
)
def q136_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_checkpointed(spark, sf_dir).select("doc_a", "doc_b")
    # symmetrize with a row-local explode, NOT a self-union: a union of
    # two selects would evaluate the (expensive) pair pipeline twice
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return pagerank(edges, n_iter=3).select(
        F.col("node").alias("doc_id"), "degree", "pr_micros"
    )


def pagerank_scores_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q136's PageRank scores memoized per (session, sf_dir) — the
    third relation on the shared derivation chain (pairs → clusters,
    pairs → pagerank): 3 supersteps of dst-keyed shuffles re-ran per
    consuming query for scores that only change when the pair graph
    does. q136 itself stays un-memoized as the algorithm benchmark;
    ``invalidate_jaccard_pairs`` /
    :func:`~etl_pipeline_candy_store_spark.operators.memo.invalidate_session_memos`
    clears this with the rest of the chain."""
    from etl_pipeline_candy_store_spark.operators.memo import session_memo

    return session_memo(
        "pagerank_scores", spark, sf_dir, lambda: q136_pagerank(spark, sf_dir)
    )


@register(
    "q142_canonical_by_pagerank",
    oracle=f"""
WITH clusters AS ({_CLUSTERS_SQL}),
pr AS ({_PAGERANK_SQL}),
m AS (
  SELECT c.cluster_id, c.doc_id, COALESCE(p.pr_micros, 0) AS pr
  FROM clusters c LEFT JOIN pr p USING (doc_id)
),
best AS (
  SELECT cluster_id, doc_id AS canonical_doc_id, pr AS canonical_pr_micros,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
             ORDER BY pr DESC, doc_id) AS rn
  FROM m
),
cnt AS (SELECT cluster_id, COUNT(*) AS n_members FROM m GROUP BY cluster_id)
SELECT b.cluster_id,
       CAST(b.canonical_doc_id AS BIGINT) AS canonical_doc_id,
       CAST(c.n_members AS BIGINT) AS n_members,
       CAST(b.canonical_pr_micros AS BIGINT) AS canonical_pr_micros
FROM best b JOIN cnt c USING (cluster_id)
WHERE b.rn = 1
""",
    doc="Centrality-aware canonical selection: within each dup "
    "cluster (q54/q125's shared contract; computed via the faster "
    "star-contraction source) keep the member with the highest q136 "
    "PageRank (min "
    "doc_id tiebreak) — the 'hub variant as canonical' policy q136 "
    "motivates, replacing q55's min-doc_id convention with a "
    "quality-bearing choice. Spark side needs NO window: one "
    "cluster-keyed `max_by(doc_id, (pr, -doc_id))` aggregate "
    "(combinable argmax; the oracle's ROW_NUMBER window expresses the "
    "same argmax relationally). Singletons carry pr 0 and canonicalize "
    "to themselves.",
)
def q142_canonical_by_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_candy_store_spark.operators.dedup import (
        dedup_clusters_checkpointed,
    )

    clusters = dedup_clusters_checkpointed(spark, sf_dir)
    pr = pagerank_scores_checkpointed(spark, sf_dir).select("doc_id", "pr_micros")
    # both sides are checkpointed node-keyed relations with no useful
    # order — shuffle_hash skips the per-side sorts a merge join pays
    m = clusters.join(pr.hint("shuffle_hash"), "doc_id", "left").select(
        "cluster_id",
        "doc_id",
        F.coalesce("pr_micros", F.lit(0)).alias("pr"),
    )
    return m.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(pr, -doc_id))")
        .cast("long")
        .alias("canonical_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("pr").cast("long").alias("canonical_pr_micros"),
    )


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """(doc_a < doc_b) pair relation → directed edge list with both
    orientations, via a row-local explode (NOT a self-union, which
    would evaluate the upstream pair pipeline twice)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


@register(
    "q188_khop_reachability",
    oracle=f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(node, nbr, depth) AS (
  SELECT src, dst, 1 FROM edges
  UNION
  SELECT w.node, e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.nbr
  WHERE w.depth < 3
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(COUNT(DISTINCT nbr) AS BIGINT) AS n_within3
FROM walk
WHERE nbr <> node
GROUP BY node
""",
    doc="Bounded transitive closure: for every node of the symmetrized "
    "q51 near-duplicate graph, the number of distinct OTHER documents "
    "reachable in at most 3 hops — the 'how big is my duplicate "
    "neighborhood really' signal that single-hop pair counts miss. "
    "Spark side is semi-naive BFS (the recursive-query evaluation "
    "strategy): per hop, join only the NEW frontier pairs to the edge "
    "list and anti-join out already-reached pairs, so per-hop work is "
    "proportional to newly discovered pairs, not the full closure — "
    "the property that keeps bounded reachability feasible on a "
    "100 TB edge relation. All three per-hop shuffles key on node ids "
    "(frontier-to-edge join, pair distinct, anti-join); the oracle is "
    "a DuckDB depth-bounded WITH RECURSIVE, and "
    "tests/test_recursive_sql.py proves Spark 4's native WITH "
    "RECURSIVE computes the identical closure.",
)
def q188_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_checkpointed(spark, sf_dir).select("doc_a", "doc_b")
    return khop_reachability(_symmetrize(pairs), k=3).select(
        F.col("node").alias("doc_id"),
        F.col("n_reached").alias("n_within3"),
    )


def khop_reachability(edges: DataFrame, k: int = 3) -> DataFrame:
    """Distinct nodes reachable in ≤ ``k`` hops from each node of a
    directed (src, dst) edge list, excluding the node itself:
    (node, n_reached). Semi-naive evaluation — per hop only the NEW
    frontier pairs join the edge list, already-reached pairs are
    anti-joined out — so per-hop cost tracks newly discovered pairs,
    not the closure size."""
    edges = edges.localCheckpoint(eager=True)
    # hop 1: the edge list itself (pairs are distinct and loop-free)
    reached = edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    frontier = reached
    for _ in range(k - 1):
        grown = (
            frontier.withColumnRenamed("nbr", "via")
            .join(
                edges.withColumnsRenamed({"src": "via", "dst": "nbr"}).hint(
                    "shuffle_hash"
                ),
                "via",
            )
            .select("node", "nbr")
            .distinct()
        )
        # semi-naive: only genuinely new pairs survive into the next
        # frontier, so hop k's join fans out on |new pairs|, not |closure|.
        # Only the frontier is checkpointed: reached stays a cheap union
        # of already-checkpointed hop outputs (re-materializing the
        # accumulated closure every hop would double the eager jobs).
        frontier = grown.join(
            reached, ["node", "nbr"], "left_anti"
        ).localCheckpoint(eager=True)
        reached = reached.unionByName(frontier)
    return (
        reached.filter(F.col("nbr") != F.col("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_reached"))
    )


@register(
    "q189_triangle_count",
    oracle=f"""
WITH pairs AS ({_JACCARD_PAIRS_SQL}),
e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS doc_id FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY doc_id
""",
    doc="Per-node triangle participation counts over the q51 "
    "near-duplicate graph — the local-clustering signal that separates "
    "'tight clique of mutual near-dups' from 'star around one hub "
    "template'. Spark side uses degree-ordered edge orientation "
    "(Cohen / Suri-Vassilvitskii MapReduce triangle counting): each "
    "undirected edge is directed from its lower-(degree, id) endpoint "
    "to the higher, so every wedge is enumerated exactly once AT its "
    "lowest-degree corner — the wedge join fans out quadratically in "
    "the ORIENTED out-degree, which the ordering bounds near sqrt(m) "
    "even when raw degrees are power-law skewed (the hub that breaks "
    "naive wedge counting at 100 TB). The triangle set is provably "
    "identical to the oracle's id-ordered enumeration; only the join "
    "fan-out differs.",
)
def q189_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_checkpointed(spark, sf_dir).select("doc_a", "doc_b")
    return triangle_counts(pairs).select(
        F.col("node").alias("doc_id"), "n_triangles"
    )


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation counts (node, n_triangles) over
    an undirected graph given as a deduplicated (doc_a < doc_b) pair
    relation, via degree-ordered orientation (see q189's doc)."""
    pairs = pairs.localCheckpoint(eager=True)
    deg = _symmetrize(pairs).groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # orient each undirected edge low-(deg, id) → high-(deg, id); the
    # per-edge total order makes wedge enumeration unique and bounds
    # oriented out-degree (hubs become SINKS, not wedge centers)
    oriented = (
        pairs.join(
            deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("deg_a")),
            "doc_a",
        )
        .join(
            deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("deg_b")),
            "doc_b",
        )
        .select(
            F.when(
                F.struct("deg_a", "doc_a") < F.struct("deg_b", "doc_b"),
                F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
            )
            .otherwise(
                F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
            )
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=True)
    )
    wedges = (
        oriented.withColumnsRenamed({"u": "w_u", "v": "via"})
        .join(
            oriented.withColumnsRenamed({"u": "via", "v": "w_w"}).hint(
                "shuffle_hash"
            ),
            "via",
        )
        .select(F.col("w_u").alias("u"), F.col("via").alias("v"), F.col("w_w").alias("w"))
    )
    # closing edge always runs low→high in the same total order, so a
    # plain semi-join on (u, w) — orientation-insensitive would need
    # both directions
    tri = wedges.join(
        oriented.withColumnsRenamed({"v": "w"}).hint("shuffle_hash"),
        ["u", "w"],
        "left_semi",
    )
    corners = tri.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


# --- k-core decomposition ----------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3


def kcore_round(edges: DataFrame, alive: DataFrame, k: int) -> DataFrame:
    """One peel round: induced degree over the ``alive`` subgraph, keep
    nodes with degree >= k. Two node-keyed semi-joins onto the edge
    list plus one src-keyed combinable count — the PageRank superstep's
    shuffle budget, with the same shuffle_hash discipline (peel-round
    node sets arrive unordered from the previous round's aggregation)."""
    e = edges.join(
        alive.select(F.col("node").alias("src")).hint("shuffle_hash"),
        "src",
        "left_semi",
    ).join(
        alive.select(F.col("node").alias("dst")).hint("shuffle_hash"),
        "dst",
        "left_semi",
    )
    return (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .filter(F.col("deg") >= k)
    )


def kcore(
    edges: DataFrame, k: int = _KCORE_K, n_rounds: int = _KCORE_ROUNDS
) -> DataFrame:
    """Bounded ``n_rounds``-round k-core peel of a symmetrized edge
    list: (node, deg) for nodes surviving every round, with their final
    induced degree. Fixed rounds keep the trajectory oracle-expressible
    (the q136/q204 bounded-iteration convention); run
    :func:`kcore_fixpoint` for the true core. Lineage grows linearly in
    rounds (each round references the checkpointed edges plus the
    previous alive set once), so a few rounds run as one job."""
    e = edges.localCheckpoint(eager=True)
    alive = e.select(F.col("src").alias("node")).distinct()
    out = None
    for _ in range(n_rounds):
        out = kcore_round(e, alive, k)
        alive = out.select("node")
    return out


def kcore_fixpoint(
    edges: DataFrame, k: int = _KCORE_K, max_rounds: int = 64
) -> DataFrame:
    """Peel until no node is removed (the true k-core). Each round's one
    action is its eager localCheckpoint, which observes the surviving
    node count; the loop stops when a round keeps as many nodes as the
    one before (:func:`~..dedup.fixpoint`) — never row data on the
    driver. Raises if the graph hasn't converged within ``max_rounds``
    (every real graph converges in <= |V| rounds; the near-dup graphs
    here take 1-3)."""
    e = edges.localCheckpoint(eager=True)
    return fixpoint(
        kcore_round(e, e.select(F.col("src").alias("node")).distinct(), k),
        lambda cur, _: kcore_round(e, cur.select("node"), k),
        [F.count(F.lit(1)).alias("n")],
        operator.eq,
        max_rounds,
        "k-core",
    )


def _kcore_round_sql(r: int, k: int) -> str:
    prev = "alive0" if r == 1 else f"core{r - 1}"
    return f"""core{r} AS MATERIALIZED (
  SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM edges e
  JOIN {prev} a ON a.node = e.src
  JOIN {prev} b ON b.node = e.dst
  GROUP BY e.src
  HAVING COUNT(*) >= {k}
)"""


@register(
    "q209_kcore",
    oracle=f"""
WITH pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
alive0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
{_kcore_round_sql(1, _KCORE_K)},
{_kcore_round_sql(2, _KCORE_K)},
{_kcore_round_sql(3, _KCORE_K)}
SELECT CAST(node AS BIGINT) AS doc_id, deg AS core_deg FROM core3
""",
    doc=f"Bounded {_KCORE_ROUNDS}-round {_KCORE_K}-core peel of the "
    "symmetrized q51 near-duplicate graph: iteratively drop nodes whose "
    "degree within the surviving subgraph falls below k, keeping the "
    "dense duplication cores (template farms, mirror clusters) that "
    "chain-shaped incidental overlap never reaches — the standard "
    "dense-subgraph screen a curation pipeline runs before deciding "
    "whole clusters are machine-generated. Per round: two node-keyed "
    "semi-joins + one combinable count (the PageRank superstep budget); "
    "per-round cost SHRINKS with the surviving subgraph. Fixed rounds "
    "keep the trajectory oracle-expressible (the bounded-iteration "
    "convention); kcore_fixpoint() runs to convergence and "
    "tests prove 3 rounds ARE the fixpoint on this corpus.",
)
def q209_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_checkpointed(spark, sf_dir).select("doc_a", "doc_b")
    return kcore(_symmetrize(pairs)).select(
        F.col("node").alias("doc_id"), F.col("deg").alias("core_deg")
    )


# --- label propagation (community detection) ---------------------------

_LPA_ROUNDS = 3


def label_propagation(edges: DataFrame, n_rounds: int = _LPA_ROUNDS) -> DataFrame:
    """Synchronous, deterministic label propagation over a symmetrized
    edge list: every node starts as its own label; each round it adopts
    the most frequent label among its neighbors (ties -> smallest
    label). Unlike the min-label flood of connected components (q54),
    frequency voting splits a component into densely-knit communities.
    Deterministic by construction — synchronous rounds plus a total
    tie order — so a fixed round count is a well-defined, hashable
    relation (classic async LPA is run-order dependent).

    Per round: one dst-keyed join of labels to edges, one (src, label)
    count, one src-keyed combinable argmax (``max_by(lbl, (cnt,
    -lbl))``). Label relations arrive unordered from the previous
    round's argmax, so joins are shuffle_hash-hinted (the q136 lesson:
    unhinted supersteps pay a sort-merge per side per round)."""
    e = edges.localCheckpoint(eager=True)
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(n_rounds):
        labels = (
            e.join(
                labels.select(F.col("node").alias("dst"), "lbl").hint(
                    "shuffle_hash"
                ),
                "dst",
            )
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.expr("max_by(lbl, struct(cnt, -lbl))").alias("lbl"))
        )
    return labels.select("node", F.col("lbl").cast("long").alias("label"))


def _lpa_round_sql(r: int) -> str:
    return f"""lbl{r} AS MATERIALIZED (
  SELECT src AS node, lbl FROM (
    SELECT e.src, l.lbl, COUNT(*) AS cnt,
           ROW_NUMBER() OVER (PARTITION BY e.src
               ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
    FROM edges e JOIN lbl{r - 1} l ON l.node = e.dst
    GROUP BY e.src, l.lbl
  ) WHERE rn = 1
)"""


@register(
    "q210_label_propagation",
    oracle=f"""
WITH pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
lbl0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM edges),
{_lpa_round_sql(1)},
{_lpa_round_sql(2)},
{_lpa_round_sql(3)}
SELECT CAST(node AS BIGINT) AS doc_id, CAST(lbl AS BIGINT) AS community
FROM lbl3
""",
    doc=f"Synchronous {_LPA_ROUNDS}-round label propagation over the "
    "symmetrized q51 near-duplicate graph: frequency-voted community "
    "labels (ties -> smallest label) that split a connected component "
    "into densely-knit sub-communities — where q54's min-label flood "
    "assigns one label per component, LPA separates two template "
    "families bridged by a single incidental near-dup pair, the "
    "granularity at which per-community canonical selection and "
    "license rollups actually want to operate. Deterministic by "
    "synchronous rounds + total tie order (async LPA is run-order "
    "dependent and unhashable). Per round: one dst-keyed label join, "
    "one (src,label) count, one src-keyed combinable argmax; "
    "shuffle_hash-hinted like the q136 supersteps.",
)
def q210_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_checkpointed(spark, sf_dir).select("doc_a", "doc_b")
    return label_propagation(_symmetrize(pairs)).select(
        F.col("node").alias("doc_id"), F.col("label").alias("community")
    )


@register(
    "q221_khop_recursive_native",
    oracle=f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(node, nbr, depth) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT w.node, e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.nbr
  WHERE w.depth < 3
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(COUNT(DISTINCT nbr) AS BIGINT) AS n_within3
FROM walk
WHERE nbr <> node
GROUP BY node
""",
    doc="q188's bounded transitive closure executed through Spark 4's "
    "NATIVE `WITH RECURSIVE` (spark.sql over a temp view of the "
    "symmetrized q51 pair relation) instead of the semi-naive "
    "DataFrame loop — the q156 raw-SQL discipline applied to the "
    "recursive feature, so every oracle sweep locks the native "
    "evaluation against both DuckDB and (via q188's shared oracle) "
    "the semi-naive operator. Crossover guidance (SCALE_NOTES): "
    "Spark's recursive CTE is UNION ALL-only, i.e. it enumerates "
    "WALKS — per-hop work grows with path counts, exponential in "
    "dense components — while the q188 operator tracks REACHED PAIRS "
    "(per-hop work = newly discovered pairs) and checkpoints each "
    "frontier. Use the native form for shallow bounds on sparse "
    "graphs where SQL-surface simplicity wins; use khop_reachability "
    "whenever components can be dense or the closure is the dominant "
    "cost — and never express an unbounded closure as UNION ALL "
    "recursion (a single cycle makes it non-terminating; the "
    "UNION-distinct form that fixes this is exactly what Spark 4.1 "
    "does not yet support, which is why q54's components stay on the "
    "semi-naive operator with no native alternate).",
)
def q221_khop_recursive_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs_checkpointed(spark, sf_dir).select("doc_a", "doc_b")
    _symmetrize(pairs).createOrReplaceTempView("q221_edges")
    return spark.sql(
        """
        WITH RECURSIVE walk(node, nbr, depth) AS (
          SELECT src, dst, 1 FROM q221_edges
          UNION ALL
          SELECT w.node, e.dst, w.depth + 1
          FROM walk w JOIN q221_edges e ON e.src = w.nbr
          WHERE w.depth < 3
        )
        SELECT CAST(node AS BIGINT) AS doc_id,
               COUNT(DISTINCT nbr) AS n_within3
        FROM walk
        WHERE nbr <> node
        GROUP BY node
        """
    )
