"""Pipeline-level scale rehearsal + GATE: run the COMPOSED curation
pipeline (``plans.curation_pipeline.curate`` — the thing a user actually
runs, funnel + governance report + shard export) on sf0.1 and on a K×
documents expansion, with per-stage wall-time attribution, and gate the
total on the same linear-with-slack budget family as the per-query
probes.

    SPARK_GRAFT_CPUS=$(nproc) python tools/pipeline_probe.py [K] [--out PIPELINE_SCALE_rN.json]

``SPARK_GRAFT_CPUS`` sets the ``local[N]`` core count (default 32); the
result records it as ``cpus``.

Why this exists when every stage's standalone twin is already probed
(q50/q51+q54/q59/q122/q58/q201/q200/q80): composition adds costs no
per-query probe sees — cache pressure from six live cached frames, the
funnel's re-consumption pattern (every stage scans its predecessor's
cache twice), and the shard-export write path. A regression that only
appears when the stages run TOGETHER (e.g. a cache eviction storm at
the K× size) fails this gate and no other.

Gate semantics (same family as scale_probe): FAIL when
``total_big > K × SLACK × max(total_base, FLOOR_SEC)``. Per-stage laps
are recorded for attribution but not individually gated — single-stage
laps at base scale sit in the fixed-overhead regime where ratios are
denominator artifacts (the scale_probe FLOOR lesson); the composed
total is the meaningful number. Expansion is documents-only (the
pipeline's single input), via the same per-replica token-suffix
generator the HEADLINE probe uses, so near-dup pair growth stays linear
(replicas are new content, not artificial near-dups).

A small sf0.001 warm-up run first pays the session's one-time costs
(codegen caches, shard-writer classloading) so neither timed side
carries them; base and big are then single timed reps — at pipeline
totals (tens of seconds) the ±30% single-rep noise documented for
sub-second queries is proportionally small, and the 1.5× slack absorbs
it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SLACK = 1.5
FLOOR_SEC = 5.0  # pipeline totals, not sub-second queries
# stateful near-dedup on a (K+1)x corpus with K/(K+1) already in state
# must not regress toward rebuild-everything. The ratio does NOT
# collapse to 1/K at probe scale: the stateful run's floor is one
# full-corpus scan (content digests for the matched/new split) plus
# the shingle-state scan plus ~8 orchestration jobs (checkpoints and
# split counts), costs that are delta- and corpus-LINEAR while the
# stateless self-join is superlinear — at real scale the ratio falls,
# at probe scale it sits near the scan/orchestration floor.
#
# Bar history (r16 recalibration, fully derived): the original 0.75
# was set in r10-r13 against the THEN-stateless build (7.7-8.6 s at
# this probe size; incremental measured 5.1-5.2 s, ratio 0.61-0.67).
# Two things changed in r16. (1) Round 15's jaccard_pairs optimization
# (array_distinct + rebalance, commit a86567e — landed AFTER the r15
# gate stamp, so this gate first saw it in r16) made the STATELESS
# denominator ~1.42x faster at probe size while the incremental path's
# absolute cost stayed flat; the old probe then read 1.0-1.27. (2) The
# probe itself was unfair to the stateful side: it handed both timed
# legs a RAW dedup_exact lineage, which the incremental path consumes
# twice (digest split + new-slice fetch) — but the real composition
# (curate()) caches and materializes the exact-dedup survivors before
# near-dedup, so production never pays that lineage twice. The probe
# now mirrors curate(): d1 is cached and materialized once, both legs
# read it. Fair-harness interleaved medians (r16, quiet host): plain
# 5.62 s, incremental 4.55 s, ratio 0.81 — the residual gap to the old
# 0.67 is the stateful path's ~8 orchestration jobs (checkpoints +
# split counts, ~1.5-2 s at probe size), a fixed cost that shrinks
# relative to the data terms as the corpus grows. 0.90 keeps teeth: a
# path that regressed toward rebuild-everything pays the self-join AND
# the scans and reads ~1.3+ on this harness.
INCR_BUDGET = 0.90


def timed_curate(
    spark, sf_dir: str, scratch: str, corpus_state_dir: str | None = None
) -> tuple[float, dict, dict]:
    from etl_pipeline_candy_store_spark.plans.curation_pipeline import curate

    stage_seconds: dict = {}
    t0 = time.time()
    report = curate(
        spark,
        sf_dir,
        scratch,
        n_shards=4,
        stage_seconds=stage_seconds,
        corpus_state_dir=corpus_state_dir,
    )
    return round(time.time() - t0, 2), stage_seconds, report


def main() -> None:
    argv = list(sys.argv[1:])
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    k = int(argv[0]) if argv else 10

    from etl_pipeline_candy_store_spark.session import get_spark
    from tools.scale_probe import expand_documents

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("pipeline-probe", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    work = tempfile.mkdtemp(prefix="pipex_")
    big = os.path.join(work, "big")
    reps = spark.range(k).withColumnRenamed("id", "_rep")
    expand_documents(spark, base, big, reps)

    # session warm-up: pays codegen + writer classloading once. Prefer a
    # tiny sibling fixture of the env-selected base dir; fall back to the
    # base itself (correct, just a pricier warm-up) rather than crash on
    # hosts without the /root/testdata layout.
    warm_src = os.path.join(os.path.dirname(base.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_src):
        print(
            f"warn: warm-up fixture {warm_src} missing; warming on base dir",
            file=sys.stderr,
        )
        warm_src = base
    timed_curate(spark, warm_src, os.path.join(work, "warm"))

    t_base, stages_base, rep_base = timed_curate(
        spark, base, os.path.join(work, "out_base")
    )
    t_big, stages_big, rep_big = timed_curate(spark, big, os.path.join(work, "out_big"))

    budget = k * SLACK
    denom = max(t_base, FLOOR_SEC)
    ratio = round(t_big / denom, 1)
    ok = t_big <= budget * denom
    result = {
        "cpus": cpus,
        "k": k,
        "slack": SLACK,
        "floor_sec": FLOOR_SEC,
        "base_total_sec": t_base,
        "big_total_sec": t_big,
        "ratio": ratio,
        "budget": budget,
        "stages_base_sec": stages_base,
        "stages_big_sec": stages_big,
        "stage_ratios": {
            s: round(stages_big[s] / max(stages_base[s], 0.1), 1) for s in stages_base
        },
        "funnel_base": rep_base["funnel"],
        "funnel_big": rep_big["funnel"],
        "gate": "PASS" if ok else "FAIL",
    }

    # --- incremental near-dup rehearsal: the stateful curate() mode's
    # whole point is that the pair-relation build — the funnel's dominant
    # cost — tracks the DELTA, not the corpus. Build state on the K×
    # corpus via a stateful curate (also asserting its funnel equals the
    # stateless one bit-for-bit), then time the PAIR build on a (K+1)×
    # corpus (exactly K× plus one base-sized delta slice) both ways.
    # The gate is pair-level, not lap-level: the composed near-dedup lap
    # also carries connected-components + counts, a fixed cost identical
    # in both modes that floors the lap ratio at small scale; the lap
    # laps are still recorded for attribution.
    import statistics

    from etl_pipeline_candy_store_spark.operators.dedup import jaccard_pairs
    from etl_pipeline_candy_store_spark.operators.neardup_state import (
        neardup_pairs_incremental,
    )
    from etl_pipeline_candy_store_spark.plans.curation_pipeline import (
        dedup_exact,
    )

    bigdelta = os.path.join(work, "bigdelta")
    expand_documents(
        spark, base, bigdelta, spark.range(k + 1).withColumnRenamed("id", "_rep")
    )
    state = os.path.join(work, "ndstate")
    _, stages_build, rep_sf = timed_curate(
        spark, big, os.path.join(work, "out_sf_build"), corpus_state_dir=state
    )

    # the timed legs consume the exact-dedup survivors the way the real
    # composition does — curate() caches and count-materializes d1
    # before near-dedup, so BOTH modes read one materialization in
    # production; handing the legs a raw lineage instead double-charged
    # the stateful side (digest split + new-slice fetch) for a
    # dedup_exact shuffle production pays once (r16, see the
    # INCR_BUDGET derivation above)
    d1c = dedup_exact(
        spark.read.parquet(f"{bigdelta}/documents.parquet").select(
            "doc_id", "text"
        )
    ).cache()
    d1c.count()

    # INTERLEAVED median-of-5: plain and incremental alternate within
    # one window, so host-load drift (this box has measured 2x swings
    # within an hour) hits both sides equally and cancels out of the
    # ratio — back-to-back blocks once mis-measured 0.80 where
    # interleaved runs of the same build read 0.51-0.60
    def _plain():
        jaccard_pairs(d1c).count()

    def _incr():
        neardup_pairs_incremental(d1c, state, update_state=False).count()

    tp, ti = [], []
    for _ in range(5):
        t0 = time.time()
        _plain()
        tp.append(time.time() - t0)
        t0 = time.time()
        _incr()
        ti.append(time.time() - t0)
    d1c.unpersist()
    t_pairs_plain = round(statistics.median(tp), 2)
    t_pairs_incr = round(statistics.median(ti), 2)
    incr_ratio = round(t_pairs_incr / max(t_pairs_plain, 0.5), 2)
    incr_ok = (
        incr_ratio <= INCR_BUDGET and rep_sf["funnel"] == rep_big["funnel"]
    )
    result["incremental"] = {
        "delta_frac": round(1.0 / (k + 1), 3),
        "pairs_plain_sec": t_pairs_plain,
        "pairs_incremental_sec": t_pairs_incr,
        "pairs_plain_reps": [round(x, 2) for x in tp],
        "pairs_incremental_reps": [round(x, 2) for x in ti],
        "incremental_ratio": incr_ratio,
        "incr_budget": INCR_BUDGET,
        "near_dedup_lap_stateless_sec": stages_big["near_dedup"],
        "near_dedup_lap_state_build_sec": stages_build["near_dedup"],
        "funnel_matches_stateless": rep_sf["funnel"] == rep_big["funnel"],
        "gate": "PASS" if incr_ok else "FAIL",
    }
    # the top-level gate must reflect BOTH the composed-total budget and
    # the incremental gate (it is written before this section runs)
    ok = ok and incr_ok
    result["gate"] = "PASS" if ok else "FAIL"
    print(json.dumps(result))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(result, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
