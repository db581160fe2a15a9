"""Physical-plan shape assertions — the 100 TB design rules, enforced.

Correct results are necessary but not sufficient: these tests pin the plan
properties that decide whether a query survives a 1000× scale-up —
predicate/projection pushdown into the parquet scan, broadcast (not shuffle)
joins for dimensions, TakeOrderedAndProject for top-k, partial aggregation,
and no Python UDFs in JVM-expressible paths.
"""

from __future__ import annotations

import pytest

from hybrid_nutrition_data_pipeline_batch_streaming_spark import plans

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str, execute: bool = False) -> str:
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    df = plans.QUERIES[name](spark, SF)
    if execute:
        # AQE finalizes the physical plan (and codegen annotations) only
        # once THIS query execution runs (count() would spawn its own).
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name: str) -> str:
    df = plans.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_project_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "scan_project")
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan
    # Column pruning: the scan reads only the projected columns plus the
    # filter column — never the untouched ones.
    assert "o_orderdate" not in plan and "o_orderpriority" not in plan


def test_filter_range_pushes_all_predicates(spark):
    plan = _plan(spark, "filter_range")
    for pushed in (
        "GreaterThanOrEqual(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, f"missing pushdown: {pushed}"
    # Untouched columns never reach the scan.
    assert "l_returnflag" not in plan


def test_join_broadcast_uses_broadcast_hash_join(spark):
    plan = _plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "topk_sodium")
    assert "TakeOrderedAndProject" in plan


def test_agg_macros_has_partial_aggregation(spark):
    # Map-side partial agg (A7): HashAggregate appears in partial+final pairs.
    plan = _plan(spark, "agg_macros")
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_semi_and_anti_joins_planned(spark):
    assert "LeftSemi" in _optimized(spark, "join_semi")
    assert "LeftAnti" in _optimized(spark, "incremental_antijoin")


def test_range_join_broadcasts_bucket_side(spark):
    plan = _plan(spark, "join_range")
    assert "BroadcastNestedLoopJoin" in plan


def test_no_python_udf_in_jvm_paths(spark):
    """Every oracle-checked relational/text query must stay JVM-side —
    pandas UDFs are reserved for the enrichment/multimodal boundary."""
    # The udtf_* queries ARE the Python-UDTF surface (U3's lateral-expansion
    # cousins) — Python at that boundary is the point, like the enrichment UDFs.
    python_ok = {
        "pipeline_nutrition_e2e",
        "mm_decode_features",
        "udtf_expand_items",
        "udtf_dynamic_schema",
    }
    for name in plans.ORACLE:
        if name in python_ok or name.startswith("stream_"):
            continue
        plan = _plan(spark, name)
        assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} unexpectedly routes through Python"
        )


def test_whole_stage_codegen_on_hot_paths(spark):
    # Whole-stage codegen renders as "*(n)" stage markers in the plan string.
    for name in ("flagship_revenue", "agg_macros", "join_inner"):
        plan = _plan(spark, name, execute=True)
        assert "isFinalPlan=true" in plan or "*(" in plan
        assert "*(" in plan, f"{name} has no codegen'd stage"


def test_flagship_no_cartesian(spark):
    plan = _plan(spark, "flagship_revenue")
    assert "CartesianProduct" not in plan


def test_ivf_assignment_broadcasts_centroids(spark):
    """IVF cell assignment must be a broadcast join against the bounded
    centroid set plus a partially-aggregated max_by — never a shuffle of
    n×K scored rows."""
    plan = _plan(spark, "similarity_ann_ivf")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_max_by" in plan.lower() or "max_by" in plan


def test_prefix_filter_join_is_equi(spark):
    """The prefix-filtered candidate join must be an equi-join on the
    (shingle, block) key — no nested-loop pair generation."""
    plan = _plan(spark, "dedup_ngram_prefix")
    assert "CartesianProduct" not in plan


def test_multiprobe_simhash_no_cartesian(spark):
    """All 8 probes must stay equi-joins on the byte-block key."""
    plan = _plan(spark, "dedup_simhash_multiprobe")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_build_python_only_at_packing(spark):
    """The corpus-build composition may cross into Python exactly once —
    the applyInPandas packing stage. Gates, dedup, pair generation and
    clustering must stay JVM-side."""
    plan = _plan(spark, "pipeline_corpus_build")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_semantic_dedup_broadcasts_centroids_and_joins_on_cell(spark):
    """SemDeDup shape: centroid scoring is a broadcast join against the
    bounded centroid set; the pairwise prune is an equi-join on cell id —
    never an unblocked all-pairs product of the corpus with itself."""
    plan = _plan(spark, "dedup_semantic")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "max_by" in plan.lower()


def test_mix_sample_is_broadcast_gated_scan(spark):
    """Domain mixing must stay one corpus scan: per-domain probabilities
    arrive via broadcast and the acceptance test is a map-side filter —
    no full-table shuffle join."""
    plan = _plan(spark, "corpus_mix_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_centroid_update_partial_aggregates_decimal_sums(spark):
    """The k-means update must be ONE partially-aggregated groupBy: decimal
    dimension sums combine map-side, so n rows cross the wire once."""
    plan = _plan(spark, "cluster_centroids")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "SortMergeJoin" not in plan


def test_kmeans_refine_broadcasts_both_assign_rounds(spark):
    """Both assignment rounds score against BROADCAST centroids; the only
    join shapes allowed are broadcast (centroids) and equi (vec_id)."""
    plan = _plan(spark, "kmeans_refine")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_funnel_stages_no_cartesian_shuffle_on_user(spark):
    """Funnel stages chain per-user aggregates via user_id equi-joins; the
    only non-equi join allowed is the broadcast of the 1-row base count."""
    plan = _plan(spark, "funnel_conversion")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final per stage


def test_rolling_features_window_is_partitioned(spark):
    """The 7-day RANGE frame must partition by user_id — a global-order
    window would serialize the whole table through one task."""
    plan = _plan(spark, "rolling_7d_features")
    assert "Exchange SinglePartition" not in plan
    assert "windowspecdefinition(user_id" in plan


def test_gap_fill_stays_on_user_partitioning(spark):
    """Spine generation, the left join and the fill window all live on
    user_id — no global window, no cartesian spine."""
    plan = _plan(spark, "gap_fill_forward")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(user_id" in plan


def test_anomaly_mad_broadcasts_stats(spark):
    """Per-type median/MAD tables are 5 rows — they must come back as
    broadcast joins, never a shuffle of the event scan."""
    plan = _plan(spark, "anomaly_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_profile_columns_is_single_scan_aggregate(spark):
    """The dataset profiler is ONE scan + aggregation (Catalyst expands the
    multi-distinct) — no joins of any kind."""
    plan = _plan(spark, "profile_columns")
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan
    assert plan.count("HashAggregate") >= 2


def test_bigram_lm_window_partitioned_no_join(spark):
    """The denominator reuses the bigram aggregate through a w1-partitioned
    window — no second corpus scan, no join, no global window."""
    plan = _plan(spark, "ngram_bigram_lm")
    assert "windowspecdefinition(w1" in plan
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_incremental_merge_unions_partial_aggregates(spark):
    """Merge algebra shape: two partial grouped aggregates unioned then
    re-reduced — never a rescan-wide join."""
    plan = _plan(spark, "agg_incremental_merge")
    assert "Union" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × (old, delta)
    assert "SortMergeJoin" not in plan


def test_pagerank_rounds_are_equi_joins(spark):
    """Every power-iteration round must be an equi-join + grouped sum on
    the node id — no cartesian propagation, no single-task bottleneck."""
    plan = _plan(spark, "graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_quality_classifier_is_joinless_single_shuffle(spark):
    """The weight lookup is closed-form expression math — the whole scoring
    pass must be explode → one partially-aggregated groupBy, no join."""
    plan = _plan(spark, "quality_classifier")
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan
    assert plan.count("HashAggregate") >= 2


def test_keep_best_windows_by_cluster(spark):
    """Survivor selection must partition by cluster_rep — never a global
    ranking — and the score join stays on doc_id equi-keys."""
    plan = _plan(spark, "dedup_keep_best")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(cluster_rep" in plan


def test_recursive_cte_no_cartesian(spark):
    """Each recursion level must expand through the node-id equi-join."""
    plan = _plan(spark, "recursive_path_counts")
    assert "CartesianProduct" not in plan


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """With the V2 parquet reader, MIN/MAX/COUNT compute from row-group
    statistics — a stats-only scan that reads zero data pages. This is the
    zero-IO path for the profiling suite's bounds queries at 100 TB; values
    must equal the full-scan aggregate."""
    import re

    from pyspark.sql import functions as F

    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        agg = df.agg(F.min("l_orderkey"), F.max("l_orderkey"), F.count("*"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PushedAggregation: \[[^\]]*\]", plan)
        assert m and "MIN(l_orderkey)" in m.group(0) and "COUNT(*)" in m.group(0)
        pushed = tuple(agg.collect()[0])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    exact = tuple(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .agg(F.min("l_orderkey"), F.max("l_orderkey"), F.count("*"))
        .collect()[0]
    )
    assert pushed == exact


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """A selective dimension filter must inject a bloom-filter runtime
    filter on the fact-side scan of a shuffle join (InjectRuntimeFilter).
    The application-side threshold defaults to 10 GB — sized so the rewrite
    fires exactly in the 100 TB regime; it's lowered here only to trigger
    on fixture-sized data."""
    from pyspark.sql import functions as F
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        small = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").where(
            "o_totalprice > 500000"
        )
        j = big.join(small, big.l_orderkey == small.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        # the runtime filter must not change results
        n_filtered = j.count()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    n_plain = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .join(
            spark.read.parquet("/root/testdata/sf0.001/orders.parquet").where(
                "o_totalprice > 500000"
            ),
            F.expr("l_orderkey = o_orderkey"),
        )
        .count()
    )
    assert n_filtered == n_plain


def test_not_in_plans_null_aware_anti_join(spark):
    """NOT IN must plan the null-aware variant of the anti join (the
    trailing `true` flag on the BroadcastHashJoin) — plain LeftAnti would
    return wrong rows when the exclusion subquery can yield NULL."""
    plan = _plan(spark, "filter_not_in")
    assert "LeftAnti, BuildRight, true" in plan


def test_topk_per_group_uses_window_group_limit(spark):
    """rank() <= k must trigger WindowGroupLimit — the per-group top-k is
    pre-pruned BEFORE the full window sort, which is the difference between
    sorting k rows and sorting the whole partition at 100 TB."""
    plan = _plan(spark, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_fact_fact_join_strategy_controls(spark):
    """Fact-to-fact joins (both sides beyond broadcast): Spark's default is
    SortMergeJoin; the shuffle_hash hint flips to ShuffledHashJoin (no sort
    — wins when one side is moderately sized and memory allows). Both
    produce identical counts — the strategy surface a tuner actually uses
    at 100 TB, pinned."""
    from pyspark.sql import functions as F

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        o = spark.read.parquet(f"{SF}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        smj = li.join(o, li.l_orderkey == o.o_orderkey)
        p1 = smj._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p1 and "BroadcastHashJoin" not in p1

        shj = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        p2 = shj._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in p2
        assert smj.count() == shj.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_dedup_lines_is_joinless_two_shuffles(spark):
    """Chunk-level dedup must stay linear: explode → frequency window →
    reassembly groupBy. No join anywhere (the frequency count rides a
    window over md5(chunk), not a groupBy+join back), and no Python."""
    plan = _plan(spark, "dedup_lines", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan
    assert "Python" not in plan and "MapInPandas" not in plan
    # Exactly the two semantic shuffles: chunk-hash window + doc regroup.
    import re as _re
    assert len(_re.findall(r"\bExchange\b", plan)) == 2


def test_shard_balanced_prefix_sum_is_partitioned(spark):
    """The distributed prefix sum must never run the corpus through a
    single-partition window: the only Exchange SinglePartition feeds the
    16-row bucket-offset window, and the offsets come back via a
    BroadcastHashJoin. The big-side running sum is partitioned by bucket."""
    plan = _plan(spark, "shard_balanced", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # One single-partition exchange total — the 16-row offsets path. The
    # doc-side window shows a hashpartitioning exchange on bucket instead.
    assert plan.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(bucket" in plan


def test_drop_reasons_fates_join_back_without_cartesian(spark):
    """The audit join-back (fates → full input) stays keyed on doc_id:
    no cartesian/nested-loop anywhere, and the gate scoring is JVM-only."""
    plan = _plan(spark, "pipeline_drop_reasons", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_ts_motif_match_single_sort_broadcast_anchor_topk(spark):
    """Motif search must be: one per-user window pass (all lead columns in
    a single sort — sliding windows never materialize as arrays), the
    1-row anchor broadcast, and partial top-k (TakeOrderedAndProject, no
    global sort)."""
    plan = _plan(spark, "ts_motif_match", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row anchor
    assert "Python" not in plan


def test_ts_resample_ohlc_single_exchange(spark):
    """OHLC resample: both row_number passes AND the final aggregation
    share the (user_id, bucket) hash partitioning — ONE exchange total.
    Regression guard for the expression-keyed groupBy that silently adds
    a second shuffle."""
    import re as _re
    plan = _plan(spark, "ts_resample_ohlc", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert len(_re.findall(r"\bExchange\b", plan)) == 1
    assert plan.count("Window") == 2


def test_running_distinct_window_is_calendar_bounded(spark):
    """Cumulative-distinct: the only single-partition stage is the final
    cumsum over per-day rows (calendar-bounded); the event-scale work — the
    first-seen min and the daily distinct — runs in parallel aggregates, and
    the day-keyed new-user side joins broadcast."""
    plan = _plan(spark, "running_distinct", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_user_streaks_exchanges_all_key_on_user(spark):
    """Gaps-and-islands streaks: every exchange hashes on user_id (alone or
    with the day column) — no self-joins, no global shuffles."""
    import re as _re
    plan = _plan(spark, "user_streaks", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    exchanges = _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, "expected hash exchanges"
    for keys in exchanges:
        assert "user_id" in keys, f"non-user-keyed exchange: {keys}"
    assert "Join" not in plan


def test_cusum_changepoint_is_joinless_single_type_exchange(spark):
    """CUSUM: per-type totals come from an unbounded window, not an
    aggregate joined back — the daily rollup is computed once and all three
    windows share ONE event_type exchange (plus the rollup's own)."""
    import re as _re
    plan = _plan(spark, "cusum_changepoint", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    type_only = _re.findall(r"Exchange hashpartitioning\(event_type#\d+, \d+\)", plan)
    assert len(type_only) == 1, type_only


def test_bm25_probe_broadcasts_terms_and_stats(spark):
    """BM25: the query-term set and the 1-row corpus stats broadcast onto
    the posting table — the corpus-sized side never re-shuffles for them."""
    plan = _plan(spark, "bm25_search", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # tf posting table built once, reused — r12: an eager localCheckpoint
    # leaf (Scan ExistingRDD) instead of a lazy persist (InMemoryTableScan)
    assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan


def test_join_range_binned_is_equi_join_no_bnlj(spark):
    """The interval×point join must never plan a nested-loop/cartesian
    product. Since the r9 rework it is a diff-array coverage census
    broadcast-EQUI-joined to orders on the exact date (no pair stream at
    all — SCALE.md round-9); before that, a binned equi-join on week_bin.
    Either way the slice predicate must reach the lineitem scan."""
    plan = _plan(spark, "join_range_binned", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(l_returnflag,R)" in plan  # slice predicate reaches the scan


def test_sample_reservoir_prunes_to_k_per_partition(spark):
    """k-smallest-by-hash reservoir: WindowGroupLimit prunes each map-side
    partition to k rows BEFORE the lang exchange — the shuffle carries ~k
    rows per stratum, not the corpus."""
    plan = _plan(spark, "sample_reservoir", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan


def test_mm_audio_energy_is_shuffle_free_map(spark):
    """Audio VAD: frames live inside each row, so the whole detector —
    framing, energy folds, rising-edge segmentation — is higher-order array
    expressions: a pure map with NO exchange, no window, no explode, and no
    Python eval nodes."""
    plan = _plan(spark, "mm_audio_energy", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    for node in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "Exchange",
        "Window",
        "Generate",  # explode
    ):
        assert node not in plan, f"unexpected node: {node}"


def test_pareto_frontier_row_window_is_band_partitioned(spark):
    """Distributed skyline: the row-level running min must run partitioned
    by price band — exactly ONE SinglePartition stage (the band-cardinality
    prefix table), never the full table."""
    import re as _re
    plan = _plan(spark, "pareto_frontier", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange SinglePartition") == 1
    assert _re.search(r"Exchange hashpartitioning\(band#\d+", plan)
    assert "BroadcastHashJoin" in plan  # band-prefix table broadcasts back


def test_maxsim_broadcasts_terms_and_takes_ordered(spark):
    """Late-interaction retrieval: the term set reaches the chunk table by
    broadcast (the only nested-loop is the bounded 1-row pivoted cross
    join), the final top-k is TakeOrdered, not a global sort — and since
    the r7 map-side rework the chunk-embedding table never shuffles at
    doc cardinality (no hashpartitioning on doc_id anywhere)."""
    import re as _re

    plan = _plan(spark, "similarity_maxsim", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert not _re.search(r"hashpartitioning\(doc_id", plan)


def test_interval_union_exchanges_all_key_on_user(spark):
    """Interval-union coverage: both windows and both aggregates key on
    user_id — one exchange family, no self-joins."""
    import re as _re
    plan = _plan(spark, "interval_union_length", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    for keys in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "user_id" in keys, f"non-user-keyed exchange: {keys}"


def test_basket_pairs_joins_on_basket_key(spark):
    """Frequent-pair mining: the pair generation must be an equi-join on
    the order key (bounded per-basket fan-out) with TakeOrdered on top —
    never a cartesian pairing of the item universe."""
    plan = _plan(spark, "basket_pairs", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_trend_ols_is_two_aggregates(spark):
    """Closed-form OLS: one daily rollup + one moment aggregate — no window,
    no join, no iteration."""
    plan = _plan(spark, "trend_ols", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan and "Window" not in plan


def test_abc_cumulative_window_runs_on_aggregate_output(spark):
    """ABC classification: the ranking window must consume the part-keyed
    AGGREGATE (part-cardinality rows), so the single-partition cumulative
    stage is bounded by the part count, never lineitem volume — one
    SinglePartition exchange fed by a partial-aggregated shuffle."""
    plan = _plan(spark, "abc_classification", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("HashAggregate") >= 2  # partial+final revenue rollup


def test_bitmap_overlap_joins_on_word_index(spark):
    """Segment overlap: the word-wise comparison is an equi-join on
    word_idx — never a cartesian pairing of segments × users."""
    plan = _plan(spark, "bitmap_segment_overlap", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_registers_aggregate_is_bounded(spark):
    """HLL: after the distinct, everything reduces to the 64-register
    aggregate — no join wider than the register table, no Python."""
    plan = _plan(spark, "sketch_hll", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan


def test_cohort_ltv_windows_by_cohort(spark):
    """LTV: the cumulative revenue window partitions by cohort_week over
    (cohort × age) rollup rows — calendar-bounded, never event rows."""
    import re as _re
    plan = _plan(spark, "cohort_ltv", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert _re.search(r"Exchange hashpartitioning\(cohort_week#\d+", plan)
    assert "CartesianProduct" not in plan


def test_stickiness_has_no_range_join(spark):
    """The diff-array MAU must never plan the naive day-range self-join —
    no nested-loop/cartesian anywhere; the only single-partition stages are
    calendar-bounded (bounds row, day spine, cumsum)."""
    plan = _plan(spark, "stickiness_dau_mau", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_path_trigrams_single_user_window(spark):
    """Path mining: both LEADs share ONE user-time window (no triple
    self-join); the trigram count ends in TakeOrdered."""
    plan = _plan(spark, "path_trigrams", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert "TakeOrderedAndProject" in plan


def test_cep_is_joinless_single_user_exchange(spark):
    """CEP as journey-regex: no self-join per pattern step (the classic
    relational CEP trap) — the only data exchange is the user_id grouping;
    everything after the grouped sort is map-side."""
    plan = _plan(spark, "cep_pattern_match", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan


def test_srm_is_single_exchange_closed_form(spark):
    """SRM audit: pure two-level aggregate — exactly one hash exchange
    (event_type), the chi-square is a projected closed form, and the
    variant hash never becomes a Python UDF."""
    plan = _plan(spark, "ab_srm_check", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rfm_shuffles_fact_once_broadcasts_anchor(spark):
    """RFM: orders hit exactly one hashpartitioning exchange (o_custkey);
    the recency anchor is a broadcast 1-row aggregate; the NTILE sorts run
    on the reduced customer-level table (documented small-table step)."""
    plan = _plan(spark, "rfm_segments", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row anchor cross join
    assert plan.count("ntile(5)") == 3


def test_attribution_linear_window_reuses_join_partitioning(spark):
    """Linear attribution at scale: clicks join purchases on user_id with
    the lookback as a residual (equi-join, never a global range join), and
    the per-purchase touch-count window keys on (user_id, purchase_id) so
    it rides the join's hashpartitioning(user_id) — with both sides large
    (broadcast off → SMJ) the window inserts NO extra exchange."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(spark, "attribution_linear")
        assert "SortMergeJoin [user_id" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # Exchanges: the two join inputs + the final day rollup — none
        # between the join and the window.
        assert plan.count("Exchange hashpartitioning") == 3
        join_pos = plan.find("SortMergeJoin")
        win_pos = plan.find("Window ")
        assert 0 <= win_pos < join_pos  # window directly above the join
        between = plan[win_pos:join_pos]
        assert "Exchange" not in between
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_twap_window_and_rollup_share_one_exchange(spark):
    """TWAP: the LEAD window and the (type, day) rollup both key on the
    same columns — ONE hash exchange total, no join, no Python."""
    plan = _plan(spark, "twap_irregular", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_drawdown_running_peak_is_streaming_frame(spark):
    """Max drawdown: daily rollup first (fact rows reduce before any
    window), then an unbounded-preceding running MAX — never the naive
    day×earlier-days self-join."""
    plan = _plan(spark, "drawdown_max", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_period_over_period_aligns_with_broadcast_joins(spark):
    """MoM/YoY: the fact table collapses to the monthly rollup in one
    exchange; both calendar-alignment joins broadcast that tiny aggregate."""
    plan = _plan(spark, "period_over_period", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_cuped_single_fact_shuffle(spark):
    """CUPED: one user-keyed shuffle builds (variant, x, y); the global
    moments recombine via a broadcast of a 1-row aggregate; θ and the
    adjusted mean are projected closed forms (no Python, no MLlib)."""
    plan = _plan(spark, "ab_cuped", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    live = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in ln
        and "ReusedExchange" not in ln
    ]
    assert len(live) == 1
    # The variant rollup and the global moments share that one shuffle.
    assert "ReusedExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row moments cross join
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_keyset_pagination_pushes_cursor_and_takes_ordered(spark):
    """Keyset paging: the cursor disjunction reaches the scan (row groups
    before the cursor never decompress) and the page is a
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    plan = _plan(spark, "keyset_pagination")
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [Or(" in plan
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]


def test_agg_mode_uses_window_group_limit(spark):
    """Mode: two-level aggregate then per-group top-1 via WindowGroupLimit
    (running heap), never a full per-group sort materialization."""
    plan = _plan(spark, "agg_mode")
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_join_delta_maintain_all_terms_equi_join(spark):
    """IVM delta-join: all four decomposition terms are equi-joins on the
    orderkey (broadcast or shuffled — never nested-loop), unioned into ONE
    partial-aggregating rollup."""
    plan = _plan(spark, "join_delta_maintain", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    joins = plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert joins == 4
    assert "partial_count" in plan or "partial" in plan.lower()


def test_bfs_khop_frontiers_are_lineage_cut_equi_joins(spark):
    """k-hop BFS: every hop is frontier ⋈ edges + anti ⋈ visited — all
    equi-joins, no cartesian — and each level is lineage-cut so the final
    census plan stays FLAT (embedding level h-1's plan in level h grows
    the plan exponentially in depth)."""
    plan = _plan(spark, "graph_bfs_khop")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Lineage cut: the census unions read materialized RDD scans, not the
    # re-derived edge pipeline.
    assert "Scan ExistingRDD" in plan


def _live_exchanges(plan: str, key: str = "") -> int:
    return sum(
        1
        for ln in plan.splitlines()
        if f"Exchange hashpartitioning({key}" in ln and "ReusedExchange" not in ln
    )


def test_running_sum_reset_stacked_windows_share_user_shuffle(spark):
    """Sum-with-reset: the epoch window and the island fold share ONE
    user_id exchange (ClusteredDistribution(user, epoch) is satisfied by
    hash(user)); no self-join to the most recent reset marker."""
    plan = _plan(spark, "running_sum_reset", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert _live_exchanges(plan, "user_id") == 1


def test_concurrency_peak_sweep_is_joinless_single_exchange(spark):
    """Sweep-line peak concurrency: endpoint explosion is map-side; the
    running sum and the rollup share one type-keyed exchange. Never the
    quadratic interval×interval overlap self-join."""
    plan = _plan(spark, "concurrency_peak", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert _live_exchanges(plan) == 1


def test_forecast_eval_joins_aggregates_not_facts(spark):
    """Seasonal-naive backtest: the d−7 alignment join runs on the daily
    AGGREGATE (broadcast at this scale), never fact×fact."""
    plan = _plan(spark, "forecast_eval_naive", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_recon_detail_aggregates_before_join(spark):
    """Reconciliation: lineitem reduces per orderkey BEFORE meeting orders
    (the join is aggregate-vs-header), with map-side partial aggregation."""
    plan = _plan(spark, "recon_order_totals", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in plan
    assert _live_exchanges(plan, "l_orderkey") == 1
    join_pos = plan.find("HashJoin")
    agg_before_join = plan.find("partial_sum", join_pos)
    assert agg_before_join > 0  # detail partial agg sits under the join


def test_sketch_hll_merge_is_jvm_only(spark):
    """Sketch merge: partial-per-month + register-max re-agg, all JVM
    expressions — no Python, no fact-table re-scan wider than the
    (month, custkey) distinct."""
    plan = _plan(spark, "sketch_hll_merge", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "EvalPython" not in plan
    assert "partial_max" in plan or "partial" in plan.lower()


def test_ldiv_audit_is_joinless_two_level_distinct(spark):
    """l-diversity: (QI-cell) rollup with a grouped distinct then a tiny
    per-source fold — no join anywhere."""
    plan = _plan(spark, "ldiv_audit", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan


def test_ts_autocorr_joins_only_aggregates(spark):
    """ACF: after the one daily rollup, every join (centering, lag
    alignment, denominator) is a broadcast of calendar-bounded
    aggregates — no fact-scale SortMergeJoin, no cartesian."""
    plan = _plan(spark, "ts_autocorr", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_grouped_median_runs_on_histogram_not_rows(spark):
    """Exact grouped median: fact rows collapse to the (group, value)
    histogram in one partial-agg shuffle; the cumulative pick runs on
    distinct-value rows. Joinless."""
    plan = _plan(spark, "grouped_median_exact", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert "partial_count" in plan
    live = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]
    assert len(live) == 2  # histogram build + per-group window


def test_table_diff_is_one_full_outer_equi_join(spark):
    """Table diff: exactly one FULL OUTER equi-join on the key — the
    unavoidable shuffle — then map-side classification; never a
    nested-loop compare."""
    plan = _plan(spark, "table_diff_audit", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prf_reuses_the_posting_table_and_takes_ordered(spark):
    """PRF: the inverted index is built once (persisted) and probed by
    broadcast term sets in both rounds; the final page is TakeOrdered."""
    plan = _plan(spark, "search_prf_expand", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    # r12: the index is an eager localCheckpoint leaf (see bm25 twin above)
    assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_asof_nearest_is_one_window_pass_no_range_join(spark):
    """Nearest as-of: union both event kinds, ONE user-keyed window pass
    carrying both directions, map-side nearest pick — never the
    |purchases|×|clicks| range join."""
    plan = _plan(spark, "join_asof_nearest", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    live = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in ln
        and "ReusedExchange" not in ln
    ]
    assert len(live) == 1


def test_graph_jaccard_joins_on_shared_neighbor(spark):
    """Neighbor Jaccard: the intersection is an equi-join of the distinct
    adjacency on the shared part (canonically oriented); degrees broadcast;
    the page is TakeOrdered. No supplier×supplier product."""
    plan = _plan(spark, "graph_jaccard_sim", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_threshold_sweep_generates_pairs_once(spark):
    """Calibration sweep: pairs come from the banded equi-joins ONCE; the
    5-row threshold list arrives via broadcast nested loop (bounded side),
    and the sweep is one rollup — not one dedup run per threshold."""
    plan = _plan(spark, "dedup_threshold_sweep", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_matryoshka_both_searches_broadcast_queries(spark):
    """MRL eval: both searches broadcast the bounded query side (the
    documented exact-baseline shape); the overlap join is k-row per query."""
    plan = _plan(spark, "embedding_matryoshka_eval", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # one per search


def test_eval_auc_is_histogram_decomposed(spark):
    """Rank-AUC: the corpus is reduced to the per-mille score histogram by
    ONE hash exchange; ranking (cnt_less window) and the Mann-Whitney fold
    run after SinglePartition exchanges over that bounded table — the
    corpus itself is never globally sorted, and nothing joins."""
    import re as _re
    plan = _plan(spark, "eval_auc_rank", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    hashed = _re.findall(r"Exchange hashpartitioning\(score_pt#\d+L?, \d+\)", plan)
    assert len(hashed) == 1, hashed


def test_eval_pr_sweep_crosses_histogram_not_corpus(spark):
    """PR sweep: the 9-threshold expansion (Generate/explode) sits ABOVE
    the histogram aggregate — the corpus is shuffled once on score_pt and
    only the bounded histogram is multiplied by the threshold list."""
    plan = _plan(spark, "eval_pr_thresholds", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    gen = plan.index("Generate explode")
    hist = plan.index("Exchange hashpartitioning(score_pt")
    # executedPlan prints top-down: the explode must be downstream (printed
    # earlier) than the histogram exchange it consumes.
    assert gen < hist


def test_geo_hub_assign_is_joinless_mapside_argmin(spark):
    """Nearest-hub: the 8 centers are a literal array constant, argmin is
    transform+array_min per row — no join anywhere, and the only exchanges
    belong to the 8-row census aggregate (count-distinct two-phase)."""
    plan = _plan(spark, "geo_hub_assign", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert "array_min" in plan


def test_geo_hotspots_convolve_census_not_points(spark):
    """Grid hotspots: the 9-offset scatter (Generate) sits above the cell
    census aggregate — points shuffle once to cells; only the bounded
    census is multiplied by the neighborhood offsets. No self-join."""
    plan = _plan(spark, "geo_grid_hotspots", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    gen = plan.index("Generate explode")
    hist = plan.index("Exchange hashpartitioning(cy")
    assert gen < hist


def test_allocation_windows_run_on_stratum_table(spark):
    """Largest-remainder allocation: the corpus reduces to the stratum
    table via ONE hash exchange; the total/deficit/rank windows all run
    after SinglePartition exchanges of that bounded table. No join."""
    import re as _re
    plan = _plan(spark, "allocate_largest_remainder", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    hashed = _re.findall(r"Exchange hashpartitioning\(lang#\d+[^)]*\)", plan)
    assert len(hashed) == 1, hashed


def test_topk_diversified_prunes_then_takes_ordered(spark):
    """Diversified top-k: the per-customer cap is a WindowGroupLimit
    (map-side prune before the customer shuffle) and the final page is
    TakeOrderedAndProject — no global sort of the fact table."""
    plan = _plan(spark, "topk_diversified", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan


def test_fifo_match_all_shuffles_key_on_partkey(spark):
    """FIFO lot matching: running-sum windows, the overlap join, and the
    census must all partition on l_partkey — one co-partitioned pipeline,
    no global sort, no nested-loop pairing."""
    import re as _re
    plan = _plan(spark, "fifo_match_lots", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for keys in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "l_partkey" in keys, keys


def test_shortest_path_broadcasts_distance_vectors(spark):
    """Min-plus relaxation: both relax rounds join the node-scale distance
    vector to the edge list via BROADCAST — the edge list never reshuffles
    for a relaxation."""
    plan = _plan(spark, "graph_shortest_path", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kanon_generalize_is_one_expand_two_aggregates(spark):
    """Generalization ladder: all five rungs' cells come from ONE Expand
    (grouping sets) over one scan — never five scans — and no join."""
    plan = _plan(spark, "kanon_generalize", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("Expand") == 1


def test_gap_sweep_is_single_lag_pass(spark):
    """Gap sweep: one user-partitioned window (the lag pass) and one
    global conditional aggregate answer all three thresholds — the sweep
    never re-sessionizes or joins."""
    plan = _plan(spark, "sessionize_gap_sweep", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_gini_window_partitions_by_segment(spark):
    """Gini: the rank window partitions by segment (no global sort) and
    the customer join is an equi-join."""
    plan = _plan(spark, "gini_by_segment", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "partitionBy" not in plan  # sanity: string never appears raw
    import re as _re
    specs = _re.findall(r"Window \[.*windowspecdefinition\(([^,]*),", plan)
    assert specs and all("c_mktsegment" in s for s in specs), specs


def test_rolling_ols_single_window_pass(spark):
    """Rolling OLS slope: all four moment sums come from ONE partitioned
    RANGE-frame Window over the daily rollup — no join, no second sort."""
    plan = _plan(spark, "rolling_ols_slope", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_embedding_outliers_broadcast_centroids_prune_topk(spark):
    """Outlier mining: the label-scale centroid table broadcasts onto the
    corpus (map-side distances) and the per-label top-3 is a
    WindowGroupLimit — the corpus never sort-merge joins or fully sorts."""
    plan = _plan(spark, "embedding_outliers", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_pipe_syntax_plans_like_classic_sql(spark):
    """Pipe syntax is surface syntax only: the parsed plan keeps the
    pushed filter, partial aggregation, and TakeOrdered page."""
    plan = _plan(spark, "sql_pipe_syntax")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_session_variables_fold_to_pushed_literals(spark):
    """DECLARE'd variables must constant-fold into the scan's pushed
    filters — the parameterization is free at execution time."""
    plan = _plan(spark, "sql_session_variables")
    assert "EqualTo(o_orderstatus,O)" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan


def test_correlated_exists_decorrelates_to_semi_anti(spark):
    """EXISTS / NOT EXISTS must de-correlate into left-semi + left-anti
    joins — never a per-row subquery or an inner join that duplicates."""
    opt = _optimized(spark, "filter_exists_correlated")
    assert "LeftSemi" in opt and "LeftAnti" in opt


def test_lang_confusion_is_census_plus_bounded_window(spark):
    """LID confusion: scoring is map-side; the matrix is a bounded census
    and the row-share window runs on it. No join."""
    plan = _plan(spark, "lang_confusion_matrix", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan


def test_share_of_parent_no_aggregate_join_back(spark):
    """Contribution shares: both parent totals come from windows over the
    customer-grain table — no join of aggregates back to the facts, and
    the dims broadcast."""
    plan = _plan(spark, "share_of_parent", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window") == 2


def test_greedy_cover_rounds_broadcast_winner_sets(spark):
    """Set cover: each round's winner (1 row) and its covered-part set
    broadcast back onto the shrinking edge list — the edge list never
    reshuffles for a selection, and argmax is TakeOrdered(1)."""
    plan = _plan(spark, "greedy_set_cover", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_caption_align_is_shuffle_free(spark):
    """Caption as-of: the whole alignment (keyframe filter, per-caption
    array as-of, lag folds) is ONE map-side pass — zero exchanges, no
    join, no window."""
    plan = _plan(spark, "mm_caption_align", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_modularity_pairs_generated_once_no_cartesian(spark):
    """Modularity: banded pairs are generated once (checkpointed), lang
    attachment stays equi-joins, and the 1-row edge total broadcasts."""
    plan = _plan(spark, "graph_modularity", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total, only
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_survival_windows_run_on_day_census(spark):
    """Life table: the at-risk suffix cumsum runs on the bounded lifespan
    census, never per user; no join."""
    plan = _plan(spark, "survival_table", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan


def test_ks_ecdfs_share_one_histogram_pass(spark):
    """KS: both ECDFs come from ONE cents-histogram window pass (the two
    samples are conditional sums, not two scans); no join."""
    plan = _plan(spark, "ks_two_sample", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_auction_prunes_to_top2_before_pairing(spark):
    """Vickrey settlement: WindowGroupLimit caps each part at 2 rows
    map-side; the winner/second pairing joins part-keyed slices."""
    plan = _plan(spark, "auction_second_price", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_jaccard_wedges_explode_map_side_no_self_join(spark):
    """graph_jaccard_sim (round-5 rework): wedge pairs explode MAP-SIDE
    from the per-part supplier bags as packed longs — the plan must show
    the Generate (explode) feeding a hash aggregate with NO sort-merge or
    nested-loop join anywhere; the only joins are the two broadcast
    degree attachments."""
    plan = _plan(spark, "graph_jaccard_sim", execute=True)
    plan = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_bfs_checkpoints_single_orientation(spark):
    """graph_bfs_khop (round-5): the undirected edge list must be the
    checkpointed single orientation UNIONed with its column-swapped mirror
    (one disk write), not a checkpoint of both directions."""
    df = plans.QUERIES["graph_bfs_khop"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # The frontier expansion reads Scan ExistingRDD (the checkpoint) — the
    # mirrored orientation appears as a projection over the same scan, so
    # the plan carries no second fact-table distinct.
    assert plan.count("LogicalRDD") >= 2  # checkpointed edges + frontiers


@pytest.mark.parametrize(
    "name",
    [
        "dedup_connected_components",
        "dedup_keep_best",
        "pipeline_corpus_build",
        "pipeline_drop_reasons",
        "er_golden_records",
    ],
)
def test_connected_components_edges_within_nodes(spark, monkeypatch, name):
    """connected_components seeds its labels from the edge endpoints alone
    and drops the nodes⋈edge-endpoints semi-join, which is only the
    identity when every endpoint is a node. Every caller that reaches it
    must hand it edges whose endpoints anti-joined with ``nodes`` are
    empty."""
    from pyspark.sql import functions as F

    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans import (
        corpus,
        graph,
    )

    real = graph.connected_components
    calls = []

    def checked(nodes, edges, *args, **kwargs):
        ends = edges.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        stray = ends.join(nodes.select("doc_id"), "doc_id", "left_anti")
        assert stray.count() == 0, f"{name}: edge endpoints outside nodes"
        calls.append(name)
        return real(nodes, edges, *args, **kwargs)

    monkeypatch.setattr(graph, "connected_components", checked)
    monkeypatch.setattr(corpus, "connected_components", checked)
    assert plans.QUERIES[name](spark, SF).count() > 0
    assert calls
