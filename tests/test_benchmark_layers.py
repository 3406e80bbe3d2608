"""Every span the benchmark traces is declared in ``BENCHMARK.json``:
``perfbench/run.py`` raises a KeyError for an undeclared per-layer
metric, and that would otherwise show only at the end of a benchmark
run. Reads ``BENCHMARK.json`` and ``perfbench/workloads.py`` only."""

from __future__ import annotations

import importlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared_layer_metrics() -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)["per_layer"]}


def _workloads():
    # perfbench's modules import each other by bare name
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        return importlib.import_module("workloads")
    finally:
        sys.path.remove(os.path.join(ROOT, "perfbench"))


def test_core_query_layers_declared():
    from etl_pipeline_candy_store_spark.plans import catalog

    catalog._ensure_loaded()
    workloads = _workloads()
    layers = {
        workloads.layer_of(catalog.REGISTRY[q].builder) for q in workloads.CORE_QUERIES
    }
    wanted = {f"{layer}.{k}" for layer in layers for k in workloads.CORE_COUNTERS}
    assert wanted - declared_layer_metrics() == set()
