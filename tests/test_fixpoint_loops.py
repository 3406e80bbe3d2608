"""Iterative operators: every convergence loop runs on the one
``dedup.fixpoint`` driver (one eager action per round), and the
builders that iterate launch no more jobs than their pinned bounds."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from etl_pipeline_candy_store_spark.operators.dedup import dup_span_scrub_fixpoint
from etl_pipeline_candy_store_spark.plans import catalog

PKG = Path(__file__).resolve().parents[1] / "etl_pipeline_candy_store_spark"
SF = "/root/testdata/sf0.001"

#: a call that runs a job and brings rows or a number back to the driver
#: (``F.count(col)`` takes an argument and builds a column instead)
_ACTIONS = ("collect", "first")


def _is_action(node: ast.AST) -> bool:
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    if node.func.attr in _ACTIONS:
        return True
    return node.func.attr == "count" and not node.args and not node.keywords


def _calls(node: ast.AST, attr: str) -> bool:
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
        for n in ast.walk(node)
    )


def _probing_loops(tree: ast.AST) -> list[tuple[str, int]]:
    """(function, line) of every loop outside ``fixpoint`` that both
    checkpoints and runs a driver-side action: a convergence probe
    written beside the loop instead of observed on its checkpoint."""
    hits = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if fn.name == "fixpoint":
            continue
        for loop in ast.walk(fn):
            if not isinstance(loop, (ast.For, ast.While, ast.AsyncFor)):
                continue
            if _calls(loop, "localCheckpoint") and any(
                _is_action(n) for n in ast.walk(loop)
            ):
                hits.append((fn.name, loop.lineno))
    return hits


def test_no_checkpoint_loop_probes_with_an_action():
    """No loop in the engine, except the ``fixpoint`` driver itself,
    pairs a ``localCheckpoint`` with a ``count()`` / ``collect()`` /
    ``first()``: a loop that needs a per-round value observes it on the
    round's checkpoint (``fixpoint``'s ``metrics``)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for name, line in _probing_loops(ast.parse(path.read_text())):
            offenders.append(f"{path.relative_to(PKG)}:{line} {name}")
    assert offenders == []


def test_probe_scan_flags_a_counting_loop():
    """The scan is not vacuous: it flags the shape it forbids, and
    leaves ``F.count(col)`` and a checkpoint-free loop alone."""
    flagged = ast.parse(
        "def f(s):\n"
        "    for _ in range(3):\n"
        "        s = s.localCheckpoint(eager=True)\n"
        "        if s.count() == 0:\n"
        "            break\n"
    )
    clean = ast.parse(
        "def g(s):\n"
        "    for _ in range(3):\n"
        "        s = s.agg(F.count('x')).localCheckpoint(eager=True)\n"
        "    while s.collect():\n"
        "        s = s.limit(0)\n"
    )
    assert _probing_loops(flagged) == [("f", 2)]
    assert _probing_loops(clean) == []


#: jobs each builder launches while BUILDING its frame on sf0.001,
#: measured on a 4-core local session (before the iterative loops ran on
#: ``fixpoint`` and one BPE merge loop: q132 15, q133 15, q219 46, and
#: dup_span_scrub_fixpoint 69 plus 10 more at collect)
BUILD_MAX_JOBS = {
    "q131_bpe_train3": 13,
    "q132_bpe_vocab": 13,
    "q133_bpe_encode": 13,
    "q204_dup_span_scrub_3pass": 19,
    "q219_unigram_train_trajectory": 35,
    "dup_span_scrub_fixpoint": 55,
}


def _build(spark, name):
    if name == "dup_span_scrub_fixpoint":
        return dup_span_scrub_fixpoint(catalog.load(spark, SF, "documents"))
    return catalog.REGISTRY[name].builder(spark, SF)


@pytest.mark.parametrize("name", list(BUILD_MAX_JOBS))
def test_iterative_builder_job_count(spark, name):
    catalog._ensure_loaded()
    sc = spark.sparkContext
    group = f"test_iterative_builder_job_count_{name}"
    sc.setJobGroup(group, group)
    try:
        df = _build(spark, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= BUILD_MAX_JOBS[name]
    assert df.count() > 0
