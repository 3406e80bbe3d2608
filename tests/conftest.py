from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SLOW_SKIP_REASON = (
    "slow tier — run with SPARK_GRAFT_FULL_TESTS=1 (tools/round_gates.sh does)"
)


def _full_tier() -> bool:
    return os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (r16, VERDICT r15 #8): the full run (566 tests)
    outgrew the external driver's verify window (~36 min on this host;
    the driver's r15 run was truncated at ~88% and reported
    inconclusive). Tests carrying the ``slow`` marker — the
    stream-vs-batch equality scenarios, state-store micro-batch
    choreography, and full-catalog canaries, all multi-second by
    nature — are skipped unless SPARK_GRAFT_FULL_TESTS=1, leaving a
    quick tier that completes well inside the window. The round gate
    (tools/round_gates.sh) always sets the flag, so the committed
    per-round evidence is still the FULL suite."""
    if _full_tier():
        return
    skip = pytest.mark.skip(reason=SLOW_SKIP_REASON)
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Name the tier that ran and, for the quick tier, how many slow
    tests it skipped, so a run's log shows what it left out."""
    if _full_tier():
        terminalreporter.write_line("test tier: full (slow tests included)")
        return
    skipped = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and SLOW_SKIP_REASON in rep.longrepr[2]
    )
    terminalreporter.write_line(
        f"test tier: quick, {skipped} slow tests skipped "
        "(SPARK_GRAFT_FULL_TESTS=1 runs them)"
    )


@pytest.fixture(scope="session")
def spark():
    from etl_pipeline_candy_store_spark.session import (
        get_spark,
        rocksdb_state_conf,
    )

    conf = {"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"}
    # SPARK_GRAFT_STATESTORE=rocksdb runs the WHOLE suite (notably every
    # stream≡batch equality) under the RocksDB state store provider — the
    # provider a 100 TB deployment actually uses. Default runs keep the
    # HDFS-backed provider; tests/test_rocksdb_state_store.py always
    # exercises RocksDB regardless of this switch.
    if os.environ.get("SPARK_GRAFT_STATESTORE", "").lower() == "rocksdb":
        conf.update(rocksdb_state_conf())
    spark = get_spark("tests", master="local[4]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
