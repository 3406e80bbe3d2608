"""Connected-components operator: correctness on known graph shapes and
the catalog queries' transitivity property."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)

CC_FUNCTIONS = [connected_components, connected_components_star]

CHAIN = [(i, i + 1) for i in range(1, 10)]
#: jobs one call launches on CHAIN, measured on a 4-core local session
#: (before convergence was observed on each round's checkpoint, the two
#: launched 103 and 60)
CHAIN_MAX_JOBS = {connected_components: 48, connected_components_star: 44}


def _cc(spark, edges, fn=connected_components):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["label"] for r in fn(df, "src", "dst").collect()}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_diameter(spark):
    """A 9-hop chain exercises multi-round propagation (one hop per
    round) well past the trivial 1-2 round cases."""
    got = _cc(spark, [(i, i + 1) for i in range(1, 10)])
    assert set(got.values()) == {1} and len(got) == 10


def test_cycle_and_cross_edges(spark):
    got = _cc(spark, [(5, 6), (6, 7), (7, 5), (7, 2), (2, 9)])
    assert set(got.values()) == {2} and len(got) == 5


def test_min_label_is_component_min(spark):
    """Label must be the component MIN even when the min node sits at
    the far end from high-degree nodes."""
    got = _cc(spark, [(100, 50), (50, 75), (75, 1)])
    assert got == {100: 1, 50: 1, 75: 1, 1: 1}


try:
    from hypothesis import given, settings, strategies as st

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            min_size=1,
            max_size=40,
        )
    )
    @settings(max_examples=10, deadline=None)
    @pytest.mark.slow
    @pytest.mark.parametrize("fn", CC_FUNCTIONS, ids=lambda f: f.__name__)
    def test_cc_matches_union_find(spark, fn, edges):
        got = _cc(spark, [(a, b) for a, b in edges], fn)
        # driver-side union-find oracle
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp: dict = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        want = {n: min(mem) for mem in comp.values() for n in mem}
        assert got == want
except ImportError:  # pragma: no cover
    pass


@pytest.mark.parametrize("fn", CC_FUNCTIONS, ids=lambda f: f.__name__)
def test_chain_job_count(spark, fn):
    """Each round is one eager action: convergence is observed on the
    round's checkpoint, not read back by further jobs."""
    sc = spark.sparkContext
    df = spark.createDataFrame(CHAIN, "src long, dst long")
    group = f"test_chain_job_count_{fn.__name__}"
    sc.setJobGroup(group, group)
    try:
        labels = {r["node"]: r["label"] for r in fn(df).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert labels == {i: 1 for i in range(1, 11)}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= CHAIN_MAX_JOBS[fn]


@pytest.mark.parametrize(
    "fn, max_iters",
    [(connected_components, 5), (connected_components_star, 1)],
    ids=["connected_components", "connected_components_star"],
)
def test_raises_past_max_iters(spark, fn, max_iters):
    df = spark.createDataFrame(CHAIN, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in"):
        fn(df, max_iters=max_iters)


@pytest.mark.parametrize("fn", CC_FUNCTIONS, ids=lambda f: f.__name__)
def test_empty_edges(spark, fn):
    out = fn(spark.createDataFrame([], "src long, dst long"))
    assert out.columns == ["node", "label"] and out.collect() == []


def test_transitivity_of_cluster_query(spark):
    """q54 semantics: if (a,b) and (b,c) are near-dup pairs, all three
    share one cluster — the property raw pairs don't give you."""
    from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf_dir = "/root/testdata/sf0.001"
    pairs = REGISTRY["q51_ngram_jaccard_pairs"].builder(spark, sf_dir)
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["q54_dedup_clusters"].builder(spark, sf_dir).collect()
    }
    for r in pairs.collect():
        assert clusters[r["doc_a"]] == clusters[r["doc_b"]], (r["doc_a"], r["doc_b"])


def test_blocked_cosine_subset_of_exact(spark):
    # q98 (rare-token blocking + exact verify) must return a SUBSET of
    # q96 (exact all-shared-token join) with identical scores on the
    # pairs it keeps — blocking may lose recall, never precision
    from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    exact = {
        (r["doc_a"], r["doc_b"]): r["cos_micros"]
        for r in REGISTRY["q96_sparse_cosine_pairs"].builder(spark, sf).collect()
    }
    blocked = {
        (r["doc_a"], r["doc_b"]): r["cos_micros"]
        for r in REGISTRY["q98_blocked_cosine_pairs"].builder(spark, sf).collect()
    }
    assert blocked, "blocking pruned everything"
    for pair, score in blocked.items():
        assert pair in exact and exact[pair] == score
    # and on this corpus the rare-token blocks retain most of the pairs
    assert len(blocked) >= len(exact) // 2


class TestStarContraction:
    """connected_components_star must agree with min-label propagation
    everywhere min-label is feasible, and converge in O(log n) rounds
    where min-label cannot (long chains)."""

    def _labels(self, df):
        return {r["node"]: r["label"] for r in df.collect()}

    @pytest.mark.slow
    def test_matches_min_label_on_random_graph(self, spark):
        import random

        from etl_pipeline_candy_store_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        rng = random.Random(7)
        edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        assert self._labels(connected_components_star(df)) == self._labels(
            connected_components(df)
        )

    def test_matches_on_disjoint_cliques(self, spark):
        from etl_pipeline_candy_store_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        edges = []
        for base in (0, 100, 200):
            members = list(range(base, base + 8))
            edges += [(a, b) for a in members for b in members if a < b]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = self._labels(connected_components_star(df))
        assert got == self._labels(connected_components(df))
        assert set(got.values()) == {0, 100, 200}

    def test_long_chain_converges_logarithmically(self, spark):
        # a 400-link chain: min-label would need 400 rounds (its
        # max_iters=50 raises); star contraction stays within its
        # default 30-round budget and labels the whole chain 0
        from etl_pipeline_candy_store_spark.operators.dedup import (
            connected_components_star,
        )

        chain = [(i, i + 1) for i in range(400)]
        df = spark.createDataFrame(chain, "src long, dst long")
        labels = self._labels(connected_components_star(df))
        assert len(labels) == 401
        assert set(labels.values()) == {0}


def test_jaccard_pairs_checkpointed_memoized_and_consistent(spark):
    """The shared pair relation is computed once per (session, sf_dir)
    and returns the same materialized frame; its rows equal the direct
    q51 build."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        jaccard_pairs_checkpointed,
        q51_ngram_jaccard_pairs,
    )

    sf = "/root/testdata/sf0.001"
    a = jaccard_pairs_checkpointed(spark, sf)
    b = jaccard_pairs_checkpointed(spark, sf)
    assert a is b  # memo hit, no recompute
    direct = sorted(map(tuple, q51_ngram_jaccard_pairs(spark, sf).collect()))
    assert sorted(map(tuple, a.collect())) == direct
    # the checkpointed plan is lineage-free (scan of materialized RDD)
    assert "Scan ExistingRDD" in a._jdf.queryExecution().executedPlan().toString()


def test_pairs_memo_and_invalidate(spark):
    """jaccard_pairs_checkpointed: the memo returns the same frame per
    (session, sf_dir), builds launch jobs ONCE per dir (the documented
    eager-build exception — AQE materializes intermediate stages even
    for eager=False, so the checkpoint is explicitly eager), and
    invalidate drops the memo entry."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        invalidate_jaccard_pairs,
        jaccard_pairs_checkpointed,
    )

    sf = "/root/testdata/sf0.001"
    invalidate_jaccard_pairs(spark)  # isolate from earlier tests
    sc = spark.sparkContext
    a = jaccard_pairs_checkpointed(spark, sf)
    # memo hit: no further jobs for repeat builds of the same dir
    sc.setJobGroup("pairs-memo-check", "memo hit must not launch jobs")
    try:
        b = jaccard_pairs_checkpointed(spark, sf)
        assert sc.statusTracker().getJobIdsForGroup("pairs-memo-check") == []
    finally:
        sc.setJobGroup("", "")
    assert a is b
    assert a.count() > 0
    invalidate_jaccard_pairs(spark, sf)
    c = jaccard_pairs_checkpointed(spark, sf)
    assert c is not a  # invalidated -> rebuilt


@pytest.mark.slow
def test_clusters_memo_consistent_and_invalidated_with_pairs(spark):
    """dedup_clusters_checkpointed: same memo discipline one level up —
    one frame per (session, sf_dir), rows identical to the direct star
    contraction, and the PAIRS invalidate clears it too (labels derive
    from pairs, so a stale-cluster/fresh-pair split state must be
    impossible)."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_checkpointed,
        invalidate_jaccard_pairs,
    )

    sf = "/root/testdata/sf0.001"
    invalidate_jaccard_pairs(spark)  # isolate from earlier tests
    a = dedup_clusters_checkpointed(spark, sf)
    assert dedup_clusters_checkpointed(spark, sf) is a  # memo hit
    direct = sorted(map(tuple, dedup_clusters(spark, sf).collect()))
    assert sorted(map(tuple, a.collect())) == direct
    assert "Scan ExistingRDD" in a._jdf.queryExecution().executedPlan().toString()
    invalidate_jaccard_pairs(spark, sf)
    assert dedup_clusters_checkpointed(spark, sf) is not a  # rebuilt


def test_memo_is_per_session(spark):
    """Memo isolation: a sibling session (same SparkContext, separate
    SQL conf/catalog) must get its OWN materialization, never another
    session's frame — the weak-key contract that keeps a torn-down
    session from serving stale block references to a new one."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        invalidate_jaccard_pairs,
        jaccard_pairs_checkpointed,
    )

    sf = "/root/testdata/sf0.001"
    s2 = spark.newSession()
    try:
        a = jaccard_pairs_checkpointed(spark, sf)
        b = jaccard_pairs_checkpointed(s2, sf)
        assert a is not b
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        # invalidating one session leaves the other's memo intact
        invalidate_jaccard_pairs(s2)
        assert jaccard_pairs_checkpointed(spark, sf) is a
    finally:
        invalidate_jaccard_pairs(s2)
