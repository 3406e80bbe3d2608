"""k-core (q209) and label propagation (q210): Spark results must equal
independent pure-Python references on the real near-dup graph, the
bounded peel must reach the true fixpoint on this corpus, and the
fixpoint helper must agree with the Python core on a constructed chain
case where one round provably != fixpoint."""

from __future__ import annotations

from collections import Counter, defaultdict

import pyspark.sql.functions as F
import pytest

from etl_pipeline_candy_store_spark.operators.dedup import (
    jaccard_pairs_checkpointed,
)
from etl_pipeline_candy_store_spark.operators.graph import (
    _KCORE_K,
    _LPA_ROUNDS,
    _symmetrize,
    kcore,
    kcore_fixpoint,
    label_propagation,
    q209_kcore,
    q210_label_propagation,
)

SF = "/root/testdata/sf0.001"


def _edges(spark):
    pairs = jaccard_pairs_checkpointed(spark, SF).select("doc_a", "doc_b")
    return [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]


def _py_kcore(pairs: list[tuple[int, int]], k: int) -> dict[int, int]:
    """True k-core by repeated peel; returns node -> induced degree."""
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    alive = set(adj)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < k}
        if not drop:
            return {v: len(adj[v] & alive) for v in alive}
        alive -= drop


def _py_lpa(pairs: list[tuple[int, int]], rounds: int) -> dict[int, int]:
    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v in adj:
            votes = Counter(lbl[u] for u in adj[v])
            top = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = top[0]
        lbl = nxt
    return lbl


def test_kcore_matches_python_and_bounded_is_fixpoint(spark):
    pairs = _edges(spark)
    want = _py_kcore(pairs, _KCORE_K)
    got = {
        r["doc_id"]: r["core_deg"] for r in q209_kcore(spark, SF).collect()
    }
    assert got == want
    assert got, "fixture graph must have a non-empty 2-core"
    # the registered bounded 3-round peel IS the fixpoint on this corpus
    e = _symmetrize(
        jaccard_pairs_checkpointed(spark, SF).select("doc_a", "doc_b")
    )
    fx = {r["node"]: r["deg"] for r in kcore_fixpoint(e, _KCORE_K).collect()}
    assert fx == want


def test_kcore_fixpoint_on_chain_where_one_round_is_not_enough(spark):
    # path a-b-c-d-e plus triangle x-y-z: peeling the path takes several
    # rounds (endpoints first, then the newly exposed ends), the
    # triangle is the only 2-core
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    one_round = kcore(_symmetrize(df), k=2, n_rounds=1)
    assert one_round.count() > 3, "one round must NOT reach the fixpoint here"
    fx = {r["node"]: r["deg"] for r in kcore_fixpoint(_symmetrize(df), 2).collect()}
    assert fx == _py_kcore(pairs, 2) == {10: 2, 11: 2, 12: 2}
    # the path peels over three rounds after the first: two are too few
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        kcore_fixpoint(_symmetrize(df), 2, max_rounds=2)


def test_kcore_fixpoint_empty_edges(spark):
    out = kcore_fixpoint(spark.createDataFrame([], "src long, dst long"))
    assert out.columns == ["node", "deg"] and out.collect() == []


def test_lpa_matches_python(spark):
    pairs = _edges(spark)
    want = _py_lpa(pairs, _LPA_ROUNDS)
    got = {
        r["doc_id"]: r["community"]
        for r in q210_label_propagation(spark, SF).collect()
    }
    assert got == want
    # LPA must be strictly finer than trivial: more than one community
    assert len(set(got.values())) > 1


def test_lpa_splits_bridged_communities(spark):
    # two triangles bridged by one edge: components would merge them,
    # frequency voting keeps them apart
    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    got = {
        r["node"]: r["label"]
        for r in label_propagation(_symmetrize(df), n_rounds=3).collect()
    }
    assert got == _py_lpa(pairs, 3)
    assert len({got[1], got[2]}) == 1 and len({got[5], got[6]}) == 1
    assert got[1] != got[5], "bridge must not merge the two triangles"
