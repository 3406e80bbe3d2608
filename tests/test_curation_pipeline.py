"""End-to-end curation funnel: stage invariants on real test data."""

from __future__ import annotations

import json
import os

import pytest

pytestmark = pytest.mark.slow  # stream/state tier: quick runs skip (see conftest)

from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.curation import _EVAL_MAX_DOC
from etl_pipeline_candy_store_spark.plans.curation_pipeline import curate



SF = "/root/testdata/sf0.001"
BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)


def test_curate_funnel_and_export(spark, tmp_path):
    out = str(tmp_path / "curated")
    stages: dict = {}
    report = curate(spark, SF, out, n_shards=2, stage_seconds=stages)
    # perfbench traces each recorded stage as a layer; an undeclared
    # one is a KeyError in perfbench/run.py
    with open(BENCHMARK_JSON) as fh:
        declared = {m["name"] for m in json.load(fh)["per_layer"]}
    assert stages
    assert {f"plans.curation_pipeline.{s}.busy_s" for s in stages} <= declared

    f = report["funnel"]
    # the funnel only ever shrinks
    assert (
        f["input"]
        >= f["after_exact_dedup"]
        >= f["after_near_dedup"]
        >= f["after_quality_gate"]
        >= f["after_repetition_gate"]
        >= f["after_decontamination"]
        > 0
    )
    # the synthetic corpus has no exact dups but does have near-dups ->
    # the near-dedup stage must actually drop cluster members
    assert f["after_near_dedup"] < f["after_exact_dedup"]

    # exported docs = decontaminated survivors, partitioned by split
    exported = sum(s["n_docs"] for s in report["splits"].values())
    assert exported == f["after_decontamination"]

    back = spark.read.parquet(out + "/split=train")
    # no exact duplicates survive in the export
    n = back.count()
    assert back.select(F.md5(F.col("text").cast("binary"))).distinct().count() == n
    # eval docs never leak into training output
    assert back.filter(F.col("doc_id") < _EVAL_MAX_DOC).count() == 0


def test_curate_is_deterministic(spark, tmp_path):
    r1 = curate(spark, SF, str(tmp_path / "a"), n_shards=2)
    r2 = curate(spark, SF, str(tmp_path / "b"), n_shards=2)
    assert r1["funnel"] == r2["funnel"]
    assert {k: v["n_docs"] for k, v in r1["splits"].items()} == {
        k: v["n_docs"] for k, v in r2["splits"].items()
    }


def test_drop_repetitive_passes_signal_less_docs(spark):
    """A doc whose text yields no gram rows (NULL/empty) emits no
    repetition signals; the gate must pass it through unchanged, not
    silently drop it (it gates repetition, nothing else)."""
    from etl_pipeline_candy_store_spark.plans.curation_pipeline import (
        drop_repetitive,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b " * 50),          # top bigram share ~1.0 -> dropped
            (2, "the quick brown fox jumps over the lazy dog and then "
                "runs far away into green hills beyond the old river"),
            (3, None),                  # no grams -> no signal row
            (4, ""),                    # no grams -> no signal row
        ],
        "doc_id INT, text STRING",
    )
    kept = sorted(
        r.doc_id for r in drop_repetitive(docs).select("doc_id").collect()
    )
    assert kept == [2, 3, 4]


def test_curate_governance_report(spark, tmp_path):
    """Stage 6: license totals partition the survivor set; blocked
    survivors really have a restricted cluster-mate among the ORIGINAL
    post-exact-dedup docs; mixture weights form a distribution over the
    surviving sources."""
    report = curate(spark, SF, str(tmp_path / "gov"), n_shards=2)
    lic = report["governance"]["license"]
    survivors = report["funnel"]["after_decontamination"]
    assert sum(s["n_docs"] for s in lic.values()) == survivors
    for src, s in lic.items():
        assert (
            s["n_restricted_own"] + s["n_blocked_by_copy"] + s["n_cleared"]
            == s["n_docs"]
        ), src
        rank = int(src[3:]) % 3
        if rank == 2:  # a restricted source's own docs are never "own-clear"
            assert s["n_restricted_own"] == s["n_docs"]
            assert s["n_blocked_by_copy"] == 0

    mix = report["governance"]["mixture"]
    assert set(mix) <= set(lic)
    total_w = sum(s["weight_ppm"] for s in mix.values())
    assert 1000000 - len(mix) <= total_w <= 1000000
    # alpha=0.5 up-samples at least one tail source on this corpus
    assert any(s["boost_ppm"] > 1000000 for s in mix.values())


def test_governance_folds_exact_dup_licenses(spark):
    """A restricted exact copy dropped at the exact-dedup stage must
    still block its permissively-sourced keeper: the effective rank
    folds the strictest license of the doc's content-digest group over
    the ORIGINAL corpus, so the audit covers exact+near closure even
    though jaccard runs on post-exact-dedup survivors only."""
    from etl_pipeline_candy_store_spark.plans.curation_pipeline import (
        dedup_exact,
        governance_report,
        near_dup_labels,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "src0"),  # permissive keeper
            (4, "alpha beta gamma delta epsilon", "src2"),  # restricted copy
            (2, "totally different unique words here", "src0"),  # clean
        ],
        "doc_id long, text string, source string",
    )
    d1 = dedup_exact(docs)
    assert d1.count() == 2  # the restricted copy was dropped at stage 1
    cc = near_dup_labels(d1)
    gov = governance_report(docs, d1, cc, d1)
    lic = gov["license"]
    assert lic["src0"]["n_blocked_by_copy"] == 1  # doc 1, poisoned by doc 4
    assert lic["src0"]["n_cleared"] == 1  # doc 2
    assert lic["src0"]["n_restricted_own"] == 0
    assert "src2" not in lic  # its only doc never reached the survivor set


def test_scrub_boilerplate_rewrite_semantics(spark):
    """The scrub stage removes corpus-frequent segments, preserves
    segment order in the rebuilt text, refreshes n_chars, and drops
    pure-boilerplate docs entirely."""
    from etl_pipeline_candy_store_spark.plans.curation_pipeline import (
        scrub_boilerplate,
    )

    boiler = "a b c d e f g h"  # shared by 3 docs -> boilerplate
    rows = [
        (1, boiler + " u1 u2 u3 u4 u5 u6 u7 u8", "en", "s0", 0),
        (2, boiler + " v1 v2 v3 v4 v5 v6 v7 v8", "en", "s1", 0),
        # boiler is this doc's SECOND segment: order must be preserved
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 " + boiler + " x1 x2 x3 x4 x5 x6 x7 x8",
         "en", "s2", 0),
        (4, boiler, "en", "s3", 0),  # pure boilerplate -> dropped
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in scrub_boilerplate(d).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["text"] == "u1 u2 u3 u4 u5 u6 u7 u8"
    assert out[3]["text"] == "w1 w2 w3 w4 w5 w6 w7 w8 x1 x2 x3 x4 x5 x6 x7 x8"
    for r in out.values():
        assert boiler not in r["text"]
        assert r["n_chars"] == len(r["text"])
    # schema is unchanged (column order included)
    assert scrub_boilerplate(d).columns == d.columns


def test_curate_with_boilerplate_scrub(spark, tmp_path):
    """Opt-in scrub runs before exact dedup: per-site templating can't
    mask identical bodies. Two docs identical except for distinct
    boilerplate headers dedup to ONE survivor only when the scrub
    stage is on."""
    import pyspark.sql.functions as F

    # the masked pair's shared body must stay BELOW the boilerplate
    # doc-frequency threshold (df=2 < 3) or the scrub removes the body
    # itself and drops both docs as pure boilerplate
    body = " ".join(f"b{i}" for i in range(16))
    hdr_a = "ha1 ha2 ha3 ha4 ha5 ha6 ha7 ha8"
    hdr_b = "hb1 hb2 hb3 hb4 hb5 hb6 hb7 hb8"
    rows = []
    # headers are boilerplate (each in 3 docs); filler bodies unique
    for i in range(2):
        rows.append((100 + i, hdr_a + " " + " ".join(f"fa{i}x{j}" for j in range(16)), "en", "src0", 0))
        rows.append((200 + i, hdr_b + " " + " ".join(f"fb{i}x{j}" for j in range(16)), "en", "src1", 0))
    # one masked pair: same body, different boilerplate header
    rows.append((300, hdr_a + " " + body, "en", "src0", 0))
    rows.append((301, hdr_b + " " + body, "en", "src1", 0))
    sf_dir = str(tmp_path / "sf")
    import os

    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).withColumn("n_chars", F.length("text").cast("long")).coalesce(
        1
    ).write.parquet(sf_dir + "/documents.parquet")

    r_off = curate(spark, sf_dir, str(tmp_path / "off"), n_shards=1)
    r_on = curate(
        spark,
        sf_dir,
        str(tmp_path / "on"),
        n_shards=1,
        scrub_boilerplate_first=True,
    )
    assert "after_boilerplate_scrub" not in r_off["funnel"]
    assert r_on["funnel"]["after_boilerplate_scrub"] == 6  # none fully boiler
    # scrub off: 300/301 differ byte-wise -> both survive exact dedup;
    # scrub on: headers removed -> identical bodies -> one survives
    assert r_off["funnel"]["after_exact_dedup"] == 6
    assert r_on["funnel"]["after_exact_dedup"] == 5
    # exported text carries no boilerplate header tokens
    for split, info in r_on["splits"].items():
        if info["n_docs"] == 0:
            continue  # empty split dir -> nothing exported to read
        p = str(tmp_path / "on" / f"split={split}")
        for row in spark.read.parquet(p).collect():
            assert "ha1" not in row["text"] and "hb1" not in row["text"]
