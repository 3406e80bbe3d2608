"""Driver-contract tests for __spark_entry__.py: the exact surface the
verify harness consumes."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_runs_and_schema_stable(spark):
    df = entrymod.entry(spark)
    assert df.schema.simpleString() == (
        "struct<business_date:date,num_orders:bigint,total_sales:double>"
    )
    assert df.count() > 0
    # re-entrant
    assert entrymod.entry(spark).count() == df.count()


def test_catalog_contract(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    # every oracle key is a query; every query is callable
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name
    # names are unique and stable-format
    assert all(n.startswith("q") for n in qs)


def test_sampled_queries_return_dataframes(spark):
    qs = entrymod.queries()
    for name in ["q01_pricing_summary", "q30_allocation_sequential", "q50_dedup_exact"]:
        df = qs[name](spark, "/root/testdata/sf0.001")
        assert df.columns, name
        assert df.limit(1).count() >= 0
