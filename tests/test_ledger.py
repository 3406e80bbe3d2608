"""Shared ledger protocol (operators/ledger.py): the crash windows all
five state families rely on, tested once against the module they now
share — commit-visibility-last, atomic applied cutover + repair,
replay-safe batch reads, staged compaction commit/discard, the
swapped-target rewrite and the in-target max-applied commit."""

from __future__ import annotations

import ast
import importlib
import os
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import (
    LEDGER_NAME,
    _hadoop_fs,
    commit_applied,
    commit_run,
    committed_runs,
    read_batch_state,
    read_max_applied,
    read_run_state,
    repair_applied,
    repair_staged_compaction,
    rewrite_target,
    staged_compact,
    swap_applied,
)

_SCHEMA = "k bigint, v string"


def _frame(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_crash_before_ledger_leaves_run_invisible(spark, tmp_path):
    state = str(tmp_path / "state")
    # simulate a crash mid-commit: data partition written, applied NOT
    _frame(spark, [(1, "a")]).write.mode("overwrite").parquet(
        f"{state}/kind_a/run=0"
    )
    assert committed_runs(spark, state) == []
    got = read_run_state(spark, state, "kind_a", _SCHEMA, [])
    assert got.count() == 0
    # the next run's commit overwrites the orphan and becomes visible
    commit_run(spark, state, 0, {"kind_a": _frame(spark, [(2, "b")])})
    assert committed_runs(spark, state) == [0]
    rows = read_run_state(spark, state, "kind_a", _SCHEMA, [0]).collect()
    assert [(r["k"], r["v"]) for r in rows] == [(2, "b")]


def test_read_run_state_prunes_uncommitted_partitions(spark, tmp_path):
    state = str(tmp_path / "state")
    commit_run(spark, state, 0, {"kind_a": _frame(spark, [(1, "a")])})
    # orphan run=1 (crashed before its ledger write)
    _frame(spark, [(9, "z")]).write.mode("overwrite").parquet(
        f"{state}/kind_a/run=1"
    )
    runs = committed_runs(spark, state)
    assert runs == [0]
    got = read_run_state(spark, state, "kind_a", _SCHEMA, runs).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, "a")]


def test_swap_applied_cutover_and_repair(spark, tmp_path):
    state = str(tmp_path / "state")
    commit_run(spark, state, 0, {"kind_a": _frame(spark, [(1, "a")])})
    commit_run(spark, state, 1, {"kind_a": _frame(spark, [(2, "b")])})
    # compaction writes run=2 then cuts over
    _frame(spark, [(1, "a"), (2, "b")]).write.mode("overwrite").parquet(
        f"{state}/kind_a/run=2"
    )
    swap_applied(spark, state, 2, [0, 1], ["kind_a"])
    assert committed_runs(spark, state) == [2]
    # physical delete of superseded partitions
    left = [
        d for d in os.listdir(f"{state}/kind_a") if d.startswith("run=")
    ]
    assert left == ["run=2"], left
    got = read_run_state(spark, state, "kind_a", _SCHEMA, [2])
    assert got.count() == 2

    # crash WINDOW: applied deleted, applied.next not yet renamed —
    # simulate by recreating the window by hand, then repair
    jvm, fs = _hadoop_fs(spark, state)
    P = jvm.org.apache.hadoop.fs.Path
    fs.rename(P(f"{state}/applied"), P(f"{state}/applied.next"))
    assert not fs.exists(P(f"{state}/applied"))
    repair_applied(spark, state)
    assert committed_runs(spark, state) == [2]


def test_read_batch_state_excludes_replaying_batch(spark, tmp_path):
    path = str(tmp_path / "bstate")
    _frame(spark, [(1, "a")]).write.mode("overwrite").parquet(
        f"{path}/batch=0"
    )
    _frame(spark, [(2, "b")]).write.mode("overwrite").parquet(
        f"{path}/batch=1"
    )
    # a replay of batch 1 must see only earlier partitions
    seen = read_batch_state(spark, path, _SCHEMA, before_batch=1)
    assert [(r["k"], r["v"]) for r in seen.collect()] == [(1, "a")]
    # and an unfiltered read sees both
    assert read_batch_state(spark, path, _SCHEMA).count() == 2
    # empty dir -> typed empty frame, not an error
    assert (
        read_batch_state(spark, str(tmp_path / "absent"), _SCHEMA).count()
        == 0
    )


def test_staged_compact_commit_and_crash_windows(spark, tmp_path):
    root = str(tmp_path / "cstate")
    for b in range(3):
        _frame(spark, [(b, f"v{b}")]).write.mode("overwrite").parquet(
            f"{root}/batch={b}"
        )
    n = staged_compact(spark, root, upto=2)
    assert n == 3
    parts = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert parts == ["batch=2"]
    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(root).collect()
    )
    assert got == [(0, "v0"), (1, "v1"), (2, "v2")]

    # crash BEFORE the marker: stage dir exists, no _UPTO -> discarded
    os.makedirs(f"{root}/.compact_stage", exist_ok=True)
    with open(f"{root}/.compact_stage/garbage", "w") as fh:
        fh.write("x")
    repair_staged_compaction(root)
    assert not os.path.isdir(f"{root}/.compact_stage")
    assert sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(root).collect()
    ) == got

    # crash AFTER the marker: stage complete, old partitions not yet
    # deleted -> repair finishes the consolidation
    _frame(spark, [(7, "v7")]).write.mode("overwrite").parquet(
        f"{root}/batch=7"
    )
    spark.read.parquet(root).write.mode("overwrite").parquet(
        f"{root}/.compact_stage"
    )
    with open(f"{root}/.compact_stage/_UPTO", "w") as fh:
        fh.write("7\n")
    repair_staged_compaction(root)
    parts = sorted(d for d in os.listdir(root) if d.startswith("batch="))
    assert parts == ["batch=7"]
    assert spark.read.parquet(root).count() == 4


def _ledger(spark, target, ids):
    spark.createDataFrame([(i,) for i in ids], "batch_id long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{target}/{LEDGER_NAME}")


def test_max_applied_stamp_survives_swap_and_recovers(spark, tmp_path):
    target = str(tmp_path / "rollup")
    # absent target / absent ledger -> -1 (externally-seeded target)
    assert read_max_applied(spark, target) == -1
    _frame(spark, [(1, "a")]).write.mode("overwrite").parquet(target)
    assert read_max_applied(spark, target) == -1
    # a legacy multi-row ledger reads as the max of its rows
    _ledger(spark, target, [3, 5, 4])
    assert read_max_applied(spark, target) == 5
    # the ledger is invisible to parquet readers of the target
    assert spark.read.parquet(target).columns == ["k", "v"]
    # zero-row ledger (crash between swap steps) -> -1, not a wedge
    _ledger(spark, target, [])
    assert read_max_applied(spark, target) == -1


def _tree(root):
    """Every file under ``root`` with its bytes: byte-identity check."""
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(Path(root).rglob("*"))
        if p.is_file()
    }


def _rows(spark, path):
    return sorted((r["k"], r["v"]) for r in spark.read.parquet(path).collect())


def test_commit_applied_crash_windows(spark, tmp_path):
    target = str(tmp_path / "t")
    seen = []

    def add(rows):
        def merge(current):
            seen.append(None if current is None else _rows(spark, target))
            new = _frame(spark, rows)
            return new if current is None else current.unionByName(new)

        return merge

    assert commit_applied(spark, target, 0, add([(1, "a")]))
    assert read_max_applied(spark, target) == 0
    # a side relation no merge returns (tombstones) survives every swap
    _frame(spark, [(9, "t")]).write.parquet(f"{target}/_purged_docs")

    # crash between the two renames: only <target>._old is left; the
    # next commit restores it BEFORE its merge reads the current version
    shutil.move(target, target + "._old")
    assert commit_applied(spark, target, 1, add([(2, "b")]))
    assert seen[-1] == [(1, "a")]
    assert not os.path.exists(target + "._old")
    assert _rows(spark, target) == [(1, "a"), (2, "b")]
    assert read_max_applied(spark, target) == 1
    assert _rows(spark, f"{target}/_purged_docs") == [(9, "t")]

    # a replayed batch id is skipped: no merge, target byte-identical
    before, n_merges = _tree(target), len(seen)
    for replay in (0, 1):
        assert not commit_applied(spark, target, replay, add([(3, "c")]))
    assert len(seen) == n_merges
    assert _tree(target) == before

    # a purge-style rewrite (no ledger stamp) keeps the applied max and
    # every side relation it does not replace
    rewrite_target(
        spark,
        target,
        "purge",
        _frame(spark, [(2, "b")]),
        {"_purged_docs": _frame(spark, [(1, "a"), (9, "t")])},
    )
    assert _rows(spark, target) == [(2, "b")]
    assert read_max_applied(spark, target) == 1
    assert _rows(spark, f"{target}/_purged_docs") == [(1, "a"), (9, "t")]
    assert not [d for d in os.listdir(tmp_path) if d != "t"]


# the swap protocol's names: only operators/ledger.py may use them
_SWAP_NAMES = re.compile(r"_fs_swap|_fs_recover|write_applied_into|\._old\b")


def test_swap_protocol_lives_only_in_ledger():
    """No engine module other than operators/ledger.py renames a Hadoop
    path, names the swap primitives or their ``._old`` suffix, or reads
    the ``_applied`` ledger itself: one copy of the protocol."""
    pkg = Path(__file__).resolve().parents[1] / "etl_pipeline_candy_store_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "operators/ledger.py":
            continue
        src = path.read_text()
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "rename"
                and not (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"
                )
            ):
                offenders.append(f"{path.name}:{node.lineno} .rename(")
            if isinstance(node, ast.Constant) and node.value in (
                LEDGER_NAME,
                "/" + LEDGER_NAME,
            ):
                offenders.append(f"{path.name}:{node.lineno} {node.value!r}")
        for n, line in enumerate(src.splitlines(), 1):
            if _SWAP_NAMES.search(line):
                offenders.append(f"{path.name}:{n} {line.strip()}")
    assert offenders == []


# (twin module, its per-batch state builder, reader, reader takes docs)
_SWAPPED_READERS = [
    ("drift_stream", "_batch_counts", "read_divergence", False),
    ("winnow_stream", "_batch_fpcounts", "read_winnow_pairs", True),
    ("simhash_stream", "_batch_signatures", "read_simhash_pairs", False),
    ("containment_stream", "_batch_shingles", "read_containment_pairs", False),
    ("boilerplate_stream", "_batch_segcounts", "read_scrubbed", True),
    ("quality_gate_stream", "_batch_counts", "read_gated", True),
]


@pytest.mark.parametrize(
    "module,build,reader,takes_docs",
    _SWAPPED_READERS,
    ids=[r[2] for r in _SWAPPED_READERS],
)
def test_reader_repairs_interrupted_swap(
    spark, tmp_path, module, build, reader, takes_docs
):
    """A crash between a swap's two renames leaves only
    ``<target>._old``; every reader of a swapped target restores it and
    reads the same rows, instead of failing with PATH_NOT_FOUND until
    the next micro-batch repairs it."""
    mod = importlib.import_module(f"etl_pipeline_candy_store_spark.streaming.{module}")
    # 24 docs: one shared 8-token header segment (boilerplate), then a
    # body each doc shares with exactly one other (near-dup pairs)
    bodies = [[f"t{i}x{k}" for k in range(32)] for i in range(12)]
    texts = [" ".join(["hdr"] * 8 + body) for body in bodies]
    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", texts[i % 12]) for i in range(24)],
        "doc_id long, source string, text string",
    )
    target = str(tmp_path / "target")
    getattr(mod, build)(docs).write.parquet(target)

    def read():
        args = (spark, target, docs) if takes_docs else (spark, target)
        return sorted(map(str, getattr(mod, reader)(*args).collect()))

    want = read()
    os.rename(target, target + "._old")
    assert read() == want
    assert os.path.isdir(target) and not os.path.exists(target + "._old")
