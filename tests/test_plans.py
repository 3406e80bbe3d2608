"""Physical-plan regression tests: lock the optimizer contracts the
engine is designed around (pushdown, pruning, broadcast, top-k). If a
refactor silently loses one of these, correctness tests stay green but
the 100 TB posture is gone — so they are asserted here."""

from __future__ import annotations

import io
import contextlib

import pytest

from etl_pipeline_candy_store_spark.plans import catalog

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    catalog._ensure_loaded()
    df = catalog.REGISTRY[name].builder(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # 6 of 11 lineitem columns; pruned scan must not read the rest
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dimension_join_broadcasts(spark):
    plan = _plan(spark, "q03_broadcast_join_agg")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_never_full_sorts(spark):
    plan = _plan(spark, "q08_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_present(spark):
    # HashAggregate appears twice: partial (map-side) + final
    plan = _plan(spark, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_no_cartesian_in_multi_join(spark):
    plan = _plan(spark, "q04_multi_join_region")
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_pure_scan(spark):
    """q56 must stay a scan+filter+project: no Exchange means the sample
    runs map-side at any scale with zero shuffle bytes."""
    plan = _plan(spark, "q56_stratified_sample")
    assert "Exchange" not in plan
    assert "codegen id" in plan  # whole-stage codegen spans the filter


def test_decontamination_broadcasts_eval_side(spark):
    """q58: the eval shingle set must broadcast — a shuffle join here
    would repartition the full corpus against a tiny benchmark set."""
    plan = _plan(spark, "q58_decontamination")
    assert "BroadcastHashJoin" in plan


def test_exact_dedup_single_shuffle(spark):
    """q50: one Exchange (the digest groupBy) and nothing else — the
    canonical 100 TB dedup plan."""
    import re

    plan = _plan(spark, "q50_dedup_exact")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_quality_filter_no_shuffle(spark):
    plan = _plan(spark, "q59_quality_filter")
    assert "Exchange" not in plan


def test_chunking_no_shuffle(spark):
    """q49: chunking is a row-local explode+slice — zero Exchange at any
    scale (chunking 100 TB must stay embarrassingly parallel)."""
    plan = _plan(spark, "q49_token_chunking")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode fan-out


def test_sq8_search_broadcasts_both_small_sides(spark):
    """q69: the 64-row quantization stats AND the 5-row query-code set
    must broadcast; a shuffle join on either would repartition the full
    embedding corpus against tiny build sides."""
    plan = _plan(spark, "q69_sq8_search")
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 2
    assert "SortMergeJoin" not in plan


def test_simhash_neardup_no_pair_scan(spark):
    """q68: candidates come from the band equi-join (shuffle hash or
    sort-merge on band keys is fine) — never a cartesian pair scan."""
    plan = _plan(spark, "q68_simhash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_single_perdoc_aggregation(spark):
    """q52 rewrite contract: the shingle relation is aggregated ONCE
    (signature+cardinality+set in one groupBy); the plan must not
    contain a shingle-level pair join (join keyed on the shingle
    string), only the band-key candidate join."""
    plan = _plan(spark, "q52_minhash_lsh_pairs")
    assert "array_intersect" in plan
    assert "CartesianProduct" not in plan


def test_gap_fill_no_cartesian(spark):
    # spine generation is sequence-explode per key, densify is ONE
    # equi-join on (user_id, day) — never a calendar cross product
    plan = _plan(spark, "q84_gap_fill")
    assert "CartesianProduct" not in plan
    assert "Generate" in plan


def test_count_min_sketch_broadcasts(spark):
    # the <=2048-row sketch must come back via broadcast joins, and the
    # build must partial-aggregate map-side
    plan = _plan(spark, "q86_count_min_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan


def test_histogram_quantile_broadcasts_stats(spark):
    # stats row and percentile spine are broadcast; the single wide-data
    # operation is one map-side-combinable groupBy — no full sort of the
    # fact table (the only Sort allowed is the 256-row histogram window)
    plan = _plan(spark, "q88_histogram_quantile")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_multiprobe_prunes_to_cells(spark):
    # candidate scoring joins probe cells to members on centroid_id —
    # an equi-join, never an all-pairs nested loop over the corpus
    plan = _plan(spark, "q87_ivf_multiprobe")
    assert "CartesianProduct" not in plan


def test_dup_shingle_fraction_equi_join_only(spark):
    # shingle-frequency join must be an equi-join on the shingle key;
    # the pair space must never materialize
    plan = _plan(spark, "q91_dup_shingle_fraction")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_epoch_shuffle_single_exchange(spark):
    # one hashpartitioning exchange on shard, then an in-partition sort —
    # never a global (range) sort of the corpus
    plan = _plan(spark, "q93_epoch_shuffle")
    assert plan.count("+- Exchange") == 1
    assert "rangepartitioning" not in plan.lower()


def test_cluster_source_mix_broadcasts_centroids(spark):
    # centroid assignment must keep q62's broadcast shape when composed
    plan = _plan(spark, "q94_cluster_source_mix")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_sparse_cosine_equi_join_only(spark):
    # pairwise dots come from ONE equi-join on the token key (plus a
    # 1-row broadcast for the corpus count); never a cartesian pair scan
    plan = _plan(spark, "q96_sparse_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_context_pairs_no_join(spark):
    # pair extraction is a row-local explode into one aggregate — the
    # whole plan must be join-free with a top-k tail
    plan = _plan(spark, "q97_context_pairs")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_blocked_cosine_no_pair_scan(spark):
    # candidate generation joins on the rare-token key; verification
    # joins candidates to per-doc weights — never a cartesian pair scan
    plan = _plan(spark, "q98_blocked_cosine_pairs")
    assert "CartesianProduct" not in plan


def test_length_deciles_no_corpus_sort(spark):
    # the only Sort permitted is over the <=256-row histogram (single
    # partition); the corpus itself is never range-partitioned/sorted
    plan = _plan(spark, "q99_length_deciles")
    assert "rangepartitioning" not in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_weighted_interleave_partitions_by_source(spark):
    # one hash exchange on source; never a global ordering of the corpus
    plan = _plan(spark, "q100_weighted_interleave")
    assert plan.count("+- Exchange") == 1
    assert "rangepartitioning" not in plan.lower()


def test_token_dropout_is_map_only(spark):
    # q111 is a pure map over the corpus: any Exchange in the plan means
    # the row-local array filter silently grew a shuffle
    plan = _plan(spark, "q111_token_dropout")
    assert "Exchange" not in plan, plan


def test_rolling_actives_broadcasts_day_spine(spark):
    # q108's non-equi day-spine join must be a broadcast nested-loop
    # (tiny spine side), never a cartesian over the corpus
    plan = _plan(spark, "q108_rolling_active_users")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_covariance_no_join_before_agg(spark):
    # q110's cross-products fan out row-locally; the only joins in the
    # plan are the tiny broadcast per-dim sums AFTER the aggregate
    plan = _plan(spark, "q110_feature_covariance")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bigram_lm_single_corpus_aggregate(spark):
    # q107: histories fold from bigram counts — exactly one exchange
    # keyed on the bigram pair should touch corpus-sized data; the
    # history re-agg happens on the already-tiny pair table
    plan = _plan(spark, "q107_bigram_lm")
    assert "CartesianProduct" not in plan
    assert plan.count("Generate explode") <= 2  # bigrams + vocab, no extra fan-outs


def test_rolling_hll_merges_registers_not_events(spark):
    # q113: the day-spine join must see the tiny register table (<=256
    # rows/day) through a broadcast nested-loop — raw events must never
    # reach a non-equi join
    plan = _plan(spark, "q113_rolling_hll_actives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_bpe_pairs_fan_out_from_word_table(spark):
    # q116: exactly one corpus-sized explode (tokenize); the pair
    # explode runs over the already-aggregated word table
    plan = _plan(spark, "q116_bpe_merge_pairs")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20 must not global-sort


def test_vocab_growth_no_corpus_global_window(spark):
    # q119: the corpus-sized prefix sum must be partitioned by the
    # doc_id range bucket; an unpartitioned window ordered directly by
    # doc_id would serialize the whole corpus through one task. The
    # only unpartitioned window allowed runs over the tiny per-bucket
    # totals (spec starts with bkt, not doc_id).
    plan = _plan(spark, "q119_vocab_growth")
    assert "windowspecdefinition(doc_id" not in plan, plan
    assert "windowspecdefinition(bkt" in plan


def test_repetition_signals_pure_map(spark):
    # q122: every signal is within-document, so the plan is a pure map
    # over the scan — gram arrays and their counts are row-local array
    # expressions: no explode, no shuffle, no join
    plan = _plan(spark, "q122_repetition_signals")
    assert plan.count("Generate") == 0
    assert plan.count("Exchange") == 0
    assert "Join" not in plan


def test_no_lambda_indexes_an_array(spark):
    # every gram / neighbour-pair builder zips shifted slices
    # (functions/ngrams.py). A filter on its output is pushed through
    # the projection, substituting split(text, ' ') for the token array;
    # a lambda indexing that array (toks[i + 1], element_at(syms, i + 1))
    # would then re-split the text per element. The optimized plan of
    # each builder must hold no such index.
    from pyspark.sql import functions as F

    from etl_pipeline_candy_store_spark.operators.dedup import (
        _shingles,
        positional_shingles,
    )
    from etl_pipeline_candy_store_spark.operators.text import (
        _bpe_top_pair,
        _bpe_word_table,
        _doc_bigrams,
        repetition_signals,
    )
    from etl_pipeline_candy_store_spark.plans.curation_pipeline import (
        drop_repetitive,
    )
    from tools.plan_audit import plan_facts

    catalog._ensure_loaded()
    d = spark.createDataFrame(
        [(1, "a b c a b c d"), (2, None), (3, "x")], "doc_id long, text string"
    )
    built = {
        "_shingles": _shingles(d).filter(F.col("shingle") != "a b c"),
        "positional_shingles": positional_shingles(d).filter(F.col("pos") > 1),
        "_doc_bigrams": _doc_bigrams(d).filter(F.col("w1") != "a"),
        "repetition_signals": repetition_signals(d).filter(
            F.col("top_bigram_frac_micros") > 0
        ),
        "_bpe_top_pair": _bpe_top_pair(_bpe_word_table(d)).filter(
            F.col("n_pair") > 1
        ),
        "drop_repetitive": drop_repetitive(d),
        "q97_context_pairs": catalog.REGISTRY["q97_context_pairs"]
        .builder(spark, SF)
        .filter(F.col("n_cooccur") > 1),
        "q140_dup_span_profile": catalog.REGISTRY["q140_dup_span_profile"]
        .builder(spark, SF)
        .filter(F.col("long_dup")),
    }

    def lambda_index(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan_facts(plan)["lambda_index"]

    # the lint sees both hand-written forms it forbids
    t = d.select(F.split("text", " ").alias("t"))
    for form in ("t[i + 1]", "element_at(t, i + 1)"):
        old = t.select(
            F.expr(f"transform(sequence(0, size(t) - 2), i -> {form})").alias("g")
        )
        assert lambda_index(old.filter(F.size("g") > 1)) > 0, form
    found = {name: lambda_index(df) for name, df in built.items()}
    assert found == dict.fromkeys(built, 0)


def test_cross_source_matrix_no_pair_scan(spark):
    # q123: sources attach to the already-thresholded pair relation via
    # doc-keyed joins; never a cartesian/nested-loop over the corpus
    plan = _plan(spark, "q123_cross_source_dup_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_coverage_topk_before_window(spark):
    # q89: the full vocabulary must be reduced by a parallel partial
    # top-k (TakeOrderedAndProject from orderBy().limit(32)) BEFORE any
    # window runs — a vocabulary-sized unpartitioned window would
    # serialize 10^8 types through one task at 100 TB. The window may
    # only see the 32 surviving rows, i.e. it must sit above the
    # TakeOrderedAndProject in the plan.
    plan = _plan(spark, "q89_vocab_coverage")
    assert "TakeOrderedAndProject" in plan, plan
    # the window exists (rank/cumsum over the 32 rows) but the relation
    # feeding it is the limited one: TakeOrderedAndProject appears as a
    # descendant of the Window node in the formatted tree
    tree = plan.split("==")[2] if "==" in plan else plan
    assert tree.index("Window") < tree.index("TakeOrderedAndProject"), plan


def test_pq_adc_broadcast_only(spark):
    # q126: codebook (1 row) and query LUTs (5 rows) must broadcast onto
    # the corpus — the corpus itself is never shuffled before the
    # per-query top-k. A SortMergeJoin or CartesianProduct here would
    # mean the encode/score stages stopped being row-local projections.
    plan = _plan(spark, "q126_pq_adc_search")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan


def test_flagship_aggregates_run_in_whole_stage_codegen(spark):
    # q01/q23: the scan->filter->project->partial-agg pipeline must fuse
    # into WholeStageCodegen (the '*(n)' spans in the executed plan) —
    # JVM-side generated code, no interpreted row processing in the hot
    # path. AQE finalizes the plan only after an action, so execute
    # first and then read the final plan.
    catalog._ensure_loaded()
    for name in ("q01_pricing_summary", "q23_daily_summary"):
        df = catalog.REGISTRY[name].builder(spark, SF)
        df.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        p = buf.getvalue()
        assert "isFinalPlan=true" in p, (name, p)
        assert "*(" in p, (name, p)  # at least one fused codegen span
        # both the partial and final aggregates fuse
        starred_aggs = [
            ln for ln in p.splitlines() if "*(" in ln and "HashAggregate" in ln
        ]
        assert len(starred_aggs) >= 2, (name, p)


def test_sampled_recall_broadcasts_sample_no_self_shuffle(spark):
    # q128: the corpus side must stream through a broadcast join with the
    # fixed-size query sample — a SortMergeJoin here would shuffle the
    # whole corpus, which is exactly what the sampled estimator avoids.
    plan = _plan(spark, "q128_sampled_ann_recall")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_code_dedup_zero_join_one_shuffle(spark):
    # q129: encode is row-local against one broadcast codebook row; the
    # corpus never joins itself (no SortMergeJoin) and the code-key
    # groupBy is map-side combinable (partial + final HashAggregate).
    # The codebook's own collect_list agg shuffles 16 rows — irrelevant.
    plan = _plan(spark, "q129_pq_code_dedup")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_feature_hashing_map_side_combine(spark):
    # q130: explode + ONE keyed aggregation with a partial (map-side)
    # phase; no joins anywhere.
    plan = _plan(spark, "q130_feature_hashing")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_bpe_train_argmax_is_topk_not_full_sort(spark):
    # q131's per-iteration building block (the trained loop checkpoints
    # each step, so the composed plan is opaque): the winning pair must
    # come from TakeOrderedAndProject over the pair counts — never a
    # full sort — and the pair agg must be map-side combinable.
    import io
    import contextlib

    from etl_pipeline_candy_store_spark.operators.text import (
        _bpe_top_pair,
        _bpe_word_table,
    )

    docs = catalog.load(spark, SF, "documents")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _bpe_top_pair(_bpe_word_table(docs)).explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_bpe_encode_broadcasts_segmentation_map(spark):
    # q133: the corpus side must join the word->segmentation map via
    # broadcast — shuffling the exploded corpus against a vocabulary-
    # sized table would be the wrong plan at any scale.
    plan = _plan(spark, "q131_bpe_train3")  # warm registry
    plan = _plan(spark, "q133_bpe_encode")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_linear_probe_broadcasts_weights(spark):
    # q134: the 16-dim weight vector must broadcast onto the scoring
    # scan (shuffling the exploded corpus against 16 rows would be the
    # wrong plan), and both keyed aggs must be map-side combinable.
    plan = _plan(spark, "q134_linear_probe_langid")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4


def test_key_skew_profile_topk_single_scan(spark):
    # q135: combinable per-key count + TakeOrderedAndProject + 1-row
    # broadcast — never a full sort of the key counts, never a second
    # shuffle of the fact table.
    plan = _plan(spark, "q135_key_skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_market_share_broadcasts_all_dimensions(spark):
    # q146: 7-relation tree — every dimension join must be a broadcast;
    # the only sort-merge/shuffle join allowed is orders<->lineitem
    plan = _plan(spark, "q146_market_share")
    assert plan.count("BroadcastHashJoin") >= 6, plan
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_small_qty_threshold_is_broadcast_join(spark):
    # q147: the decorrelated per-part average must come back as a
    # broadcast join, not a shuffle or per-row subquery
    plan = _plan(spark, "q147_small_qty_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_conversion_paths_windows_session_partitioned(spark):
    # q151: every window is partitioned by user (sessionize) or
    # (user, session); no global event-timeline window
    plan = _plan(spark, "q151_conversion_paths")
    assert "windowspecdefinition(user_id" in plan
    assert "windowspecdefinition(ts" not in plan


def test_gate_calibration_no_pair_scan(spark):
    # q149/q154: calibration joins two already-thresholded pair
    # relations — never a cartesian over the corpus
    for name in ("q149_simhash_gate_calibration", "q154_minhash_estimator_error"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_disjunctive_predicate_splits_to_both_scans(spark):
    # q157: the OR-of-ANDs must factor per side — the quantity-only
    # disjunction reaches the lineitem scan, brand/size the part scan
    plan = _plan(spark, "q157_disjunctive_revenue")
    assert "PushedFilters" in plan
    import re
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    joined = " | ".join(pushed)
    assert "l_quantity" in joined, joined   # lineitem-side OR pushed
    assert "p_brand" in joined or "p_size" in joined, joined  # part-side


def test_sole_supplier_single_fact_shuffle(spark):
    # q158: decorrelated to one order-keyed agg + broadcast join
    plan = _plan(spark, "q158_sole_supplier_orders")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_series_recursions_fold_not_window(spark):
    # q162/q163: the recursion runs as a row-local array fold after one
    # series-key aggregation — no window, no Python operator
    for name in ("q162_ewma_daily_orders", "q163_cusum_alarm"):
        plan = _plan(spark, name)
        assert "windowspecdefinition" not in plan, name
        assert "Generate" in plan, name          # the trajectory explode
        assert "mapInPandas" not in plan.lower(), name


def test_incremental_rollup_merges_partials_without_join(spark):
    # q164: partial-merge maintenance is union + re-aggregate — no join
    # of any kind, no sort, and the merge agg sits above the partials
    plan = _plan(spark, "q164_incremental_rollup")
    assert "Join" not in plan, plan
    assert "Sort " not in plan
    assert plan.count("HashAggregate") >= 4  # 2 partials + merge (x2 phases)


def test_robust_outliers_broadcast_constants_no_window(spark):
    # q165: per-group median/MAD constants come back as broadcast
    # joins; the fact is never sorted or windowed
    plan = _plan(spark, "q165_robust_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition" not in plan


def test_revenue_gini_rank_is_bucketed_not_global(spark):
    # q172: the global rank must run as the two-level bucketed prefix
    # sum — within-bucket windows partitioned by bkt, and the only
    # unpartitioned window over the 32 bucket-total rows. A window
    # ordered directly by (cents, o_custkey) with no partition would
    # serialize every customer through one task.
    plan = _plan(spark, "q172_revenue_gini")
    assert "windowspecdefinition(cents" not in plan, plan
    assert "windowspecdefinition(bkt" in plan


def test_trailing_median_window_is_bounded_and_partitioned(spark):
    # q171: the collect_list percentile runs over a 3-row frame
    # partitioned by priority — never an unpartitioned or unbounded
    # frame over the monthly series
    plan = _plan(spark, "q171_trailing_median_value")
    assert "windowspecdefinition(pri" in plan
    assert "unboundedpreceding" not in plan.lower(), plan


# --- round 6: canonical TPC-H shapes (plans/tpch_shapes.py) ----------------


def test_q173_regional_cycle_broadcasts_dims_no_cartesian(spark):
    plan = _plan(spark, "q173_regional_revenue_cycle")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # orders date window pushed to the scan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan


def test_q174_nation_roles_both_broadcast(spark):
    plan = _plan(spark, "q174_nation_trade_volume")
    # two nation roles + shipdate window pushed down
    assert plan.count("BroadcastHashJoin") >= 2
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_q175_part_filter_prunes_before_broadcast(spark):
    plan = _plan(spark, "q175_profit_by_nation_year")
    # the LIKE lands on the part scan (as StringContains), so only the
    # widget family broadcasts
    assert "StringContains(p_name,widget)" in plan.replace(" ", "")
    assert "BroadcastHashJoin" in plan


def test_q176_returns_topk_not_full_sort(spark):
    plan = _plan(spark, "q176_returns_ranking")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan.replace(" ", "")


def test_q177_bands_partial_agg(spark):
    plan = _plan(spark, "q177_ship_delay_bands")
    assert plan.count("HashAggregate") >= 2  # map-side combine
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_q178_promo_month_pruned_scan(spark):
    plan = _plan(spark, "q178_promo_share")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan


def test_q179_max_is_broadcast_one_row_join(spark):
    plan = _plan(spark, "q179_top_supplier")
    assert "BroadcastHashJoin" in plan
    # never a whole-relation window for the max
    assert "Window" not in plan


def test_q180_large_orders_topk_and_broadcast_customer(spark):
    plan = _plan(spark, "q180_large_orders")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q181_semi_join_chain_ends_left_semi(spark):
    plan = _plan(spark, "q181_dominant_part_suppliers")
    assert "LeftSemi" in plan
    assert "StringContains(p_name,bolt)" in plan.replace(" ", "")


def test_q182_anti_join_and_broadcast_threshold(spark):
    plan = _plan(spark, "q182_idle_rich_customers")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the anti side's date prune reaches its scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q183_decorrelated_min_broadcasts_dims(spark):
    plan = _plan(spark, "q183_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(p_size,10)" in plan.replace(" ", "")


def test_q184_exists_is_left_semi(spark):
    plan = _plan(spark, "q184_priority_order_check")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q185_all_predicates_pushed(spark):
    plan = _plan(spark, "q185_forecast_revenue_change")
    flat = plan.replace(" ", "")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in flat
    assert "LessThan(l_quantity,24.0)" in flat or "LessThan(l_quantity,24" in flat
    assert plan.count("HashAggregate") >= 2


def test_q186_global_scalar_broadcast(spark):
    plan = _plan(spark, "q186_important_part_value")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "EqualTo(n_name,NATION_3)" in plan.replace(" ", "")


def test_funnel_single_exchange(spark):
    # the strict-order funnel is three stacked window mins over ONE
    # hashpartitioning(user_id) — the per-user collapse reuses it, so
    # the whole plan carries exactly one Exchange and zero joins
    # (round 8 shipped 12 exchanges / 6 joins for the same hashes)
    plan = _plan(spark, "q103_event_funnel")
    assert plan.count("+- Exchange") == 1, plan
    assert "Join" not in plan
    assert plan.count("+- Window") == 3


def test_retention_cohorts_no_self_join(spark):
    # cohort week is a window min over the same user_id partitioning
    # the (user, week) distinct reuses; the only second exchange is
    # over the cohort-cell-sized frame, and the firsts/active
    # self-join is gone
    plan = _plan(spark, "q104_retention_cohorts")
    assert plan.count("+- Exchange") <= 2, plan
    assert "Join" not in plan


def test_funnel_ttc_single_fact_exchange(spark):
    # both stage-pair gaps fold in one global aggregate over the
    # single-shuffle per-user frame; the second Exchange is the
    # 1-row global-agg gather, not a fact-side shuffle
    plan = _plan(spark, "q115_funnel_time_to_convert")
    assert plan.count("+- Exchange") <= 2, plan
    assert "Join" not in plan
    assert "SinglePartition" in plan


def test_pagerank_supersteps_sort_free(spark):
    # superstep ranks arrive unordered from the dst-keyed aggregation,
    # so every iteration join is hinted shuffle_hash: no SortMergeJoin
    # and no per-superstep Sort anywhere in the executed plan (the
    # unhinted plan paid 7 SMJ / 11 Sorts for 3 iterations)
    plan = _plan(spark, "q136_pagerank")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("+- ShuffledHashJoin") >= 1
    assert "+- Sort" not in plan, plan


def test_triangle_wedges_stay_hash_joined(spark):
    # wedge enumeration + closing semi-join on the checkpointed
    # oriented edges: shuffle_hash-hinted, no per-superstep sorts,
    # and nothing cartesian
    plan = _plan(spark, "q189_triangle_count")
    assert "SortMergeJoin" not in plan, plan
    assert "NestedLoop" not in plan, plan


def test_sweepline_windows_calendar_relation_only(spark):
    # the running sum must sit ABOVE the per-day aggregation (window
    # input is the calendar-bounded delta relation, never the fact
    # rows): exactly ONE Window node, and in the tree rendering the
    # per-day HashAggregate appears BELOW it (deeper in the same
    # branch), proving the window consumes aggregated deltas
    plan = _plan(spark, "q190_peak_concurrency")
    # first block of explain('formatted') is the indented plan tree,
    # rendered as "+- NodeName (id)"
    tree = plan.split("\n\n")[0].splitlines()
    win_rows = [i for i, ln in enumerate(tree) if "Window (" in ln]
    assert len(win_rows) == 1, plan
    assert any("HashAggregate (" in ln for ln in tree[win_rows[0] + 1 :]), plan


def test_skyline_no_dominance_self_join(spark):
    # the operator's whole point: NO quadratic dominance join — after
    # the per-x relation materializes once, the final plan holds no
    # nested-loop join and at most the documented exchanges (per-x
    # agg is inside the checkpoint; here: bucket agg, bucket window,
    # frontier join back)
    plan = _plan(spark, "q191_pareto_frontier")
    assert "NestedLoop" not in plan, plan
    assert plan.count("+- Exchange") <= 5, plan


def test_variant_single_exchange_keyed_agg(spark):
    # parse-once VARIANT shredding is a row-local projection feeding
    # ONE keyed aggregation: a single exchange, no joins
    plan = _plan(spark, "q192_variant_extract")
    assert plan.count("+- Exchange") <= 1, plan
    assert "Join" not in plan, plan
