"""Scale-design assertions: the physical plans Catalyst produces are the
plans we want at 100 TB (pushdown, pruning, broadcast, no Python UDFs in
relational paths)."""

from __future__ import annotations

from big_data_audio_classification_spark.operators import relational, scalars
from big_data_audio_classification_spark.plans import introspect


def test_filters_pushed_to_parquet_scan(spark, sf_dir):
    df = relational.filter_predicates(spark, sf_dir)
    assert introspect.has_pushed_filters(df)


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = relational.filter_like_null(spark, sf_dir)
    cols = introspect.pruned_columns(df)
    # only the 4 referenced columns are read, not all 5 customer columns
    assert set(cols) == {"c_custkey", "c_name", "c_mktsegment", "c_acctbal"}


def test_dim_join_broadcasts(spark, sf_dir):
    df = relational.join_inner_revenue_by_nation(spark, sf_dir)
    assert introspect.uses_broadcast_join(df)


def test_range_join_is_broadcast_nlj(spark, sf_dir):
    df = relational.join_range_bands(spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in introspect.formatted_plan(df)


# Queries whose *point* is the Python-execution API surface (Arrow-batched
# pandas UDF/UDAF/UDTF, mapInPandas/mapInArrow) — exempt from the
# no-Python-UDF invariant by tag, everything else must stay JVM-side.
_PYTHON_API_TAGS = {"pandas", "pandas-udf", "udaf", "udtf", "mapInPandas", "mapInArrow"}


def test_no_python_udf_in_any_sql_oracled_plan(spark, sf_dir):
    """Sweep EVERY SQL-oracled query: none may fall back to a
    row-at-a-time Python UDF (BatchEvalPython) or unplanned Arrow eval —
    the whole relational/scalar/dedup/text/similarity surface is
    JVM-side whole-stage-codegen territory."""
    from concurrent.futures import ThreadPoolExecutor

    from big_data_audio_classification_spark.registry import all_queries

    items = [
        (name, q)
        for name, q in all_queries().items()
        if q.oracle is not None and not (_PYTHON_API_TAGS & set(q.tags))
    ]

    # Plan-building is driver/JVM work; sweeping ~650 queries serially
    # costs minutes of wall clock. introspect.formatted_plan asks the
    # JVM for the explain string directly (no process-global stdout
    # capture), so the sweep is safe to fan out on threads — py4j gives
    # each thread its own gateway connection.
    def check(item):
        name, q = item
        return name if introspect.has_python_udf(q.fn(spark, sf_dir)) else None

    # Python-datasource exemplars register a session-level data source
    # inside their fn and race under concurrency (DATA_SOURCE_NOT_FOUND
    # seen once in ~650); collect errors and re-run those few serially.
    def safe_check(item):
        try:
            return check(item), None
        except Exception:
            return None, item

    with ThreadPoolExecutor(max_workers=16) as pool:
        results = list(pool.map(safe_check, items))
    offenders = [r for r, _ in results if r]
    offenders += [check(item) for _, item in results if item is not None]
    offenders = [n for n in offenders if n]
    assert not offenders, f"queries fell back to Python execution: {offenders}"


def test_flagship_stays_in_codegen(spark, sf_dir):
    # AQE re-plans at runtime and reports 0 codegen subtrees statically;
    # inspect the non-adaptive plan to assert the codegen pipeline shape.
    # (The test session disables whole-stage codegen globally for speed
    # — conftest.py — so re-enable it for this shape assertion.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try:
        df = relational.pricing_summary(spark, sf_dir)
        assert introspect.codegen_stage_count(df) >= 2  # scan+partial agg, final agg
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union+window as-of join shuffles exactly once (the per-user
    window exchange) — no join-shaped row explosion in the plan."""
    from big_data_audio_classification_spark.operators import advanced

    df = advanced.join_asof_purchase_click(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "Join" not in plan  # no physical join operator at all
    exchanges = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert len(exchanges) <= 2  # one per union branch pre-AQE, merged at runtime


def test_ivf_topk_joins_on_cell_not_cross(spark, sf_dir):
    """The IVF search's candidate pairing is an equi-join on cell_id;
    the only nested-loop joins are the tiny broadcast centroid scans."""
    from big_data_audio_classification_spark.operators import similarity

    df = similarity.sim_ivf_topk(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_keep_first_dedup_has_no_pair_explosion(spark, sf_dir):
    """The linear-output LSH dedup (the 100 TB path) must contain no
    self-join pair materialization: every join in the plan is an
    equi-join (band-key), never a nested-loop/cartesian product."""
    from big_data_audio_classification_spark.operators import dedup

    df = dedup.dedup_minhash_keep_first(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_join_broadcasts_eval_side(spark, sf_dir):
    """The contamination check must probe a broadcast of the (tiny) eval
    shingle set — a corpus-wide shuffle on shingle strings would be the
    100 TB killer."""
    from big_data_audio_classification_spark.operators import curation

    df = curation.text_contamination_overlap(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert not introspect.has_python_udf(df)


def test_exact_dedup_plan_is_single_agg(spark, sf_dir):
    from big_data_audio_classification_spark.operators import dedup

    df = dedup.dedup_exact_hash(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    # exactly one digest-keyed shuffle (partial agg → exchange → final)
    assert sum("hashpartitioning" in l for l in plan.splitlines()) == 1
    assert not introspect.has_python_udf(df)


def test_dpp_prunes_partitioned_fact_scan(spark, sf_dir):
    """The partitioned-fact × filtered-dim join must carry a
    dynamicpruningexpression in the fact scan's PartitionFilters —
    runtime partition pruning, since the dim filter (on `keep`) is not
    statically derivable for the join key."""
    from big_data_audio_classification_spark.operators import scale_patterns

    df = scale_patterns.scale_dpp_partitioned_join(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "dynamicpruning" in plan.lower()


def test_tpch_q3_topk_avoids_global_sort(spark, sf_dir):
    """Q3's ORDER BY + LIMIT must plan as TakeOrderedAndProject — a
    per-partition top-k merged on the driver — never a full global
    sort exchange before the limit."""
    from big_data_audio_classification_spark.operators import tpch_classics

    df = tpch_classics.tpch_q3_shipping_priority(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert introspect.has_pushed_filters(df)


def test_tpch_q10_broadcasts_nation(spark, sf_dir):
    from big_data_audio_classification_spark.operators import tpch_classics

    df = tpch_classics.tpch_q10_returned_items(spark, sf_dir)
    assert introspect.uses_broadcast_join(df)
    # the returnflag filter reaches the lineitem parquet scan
    assert introspect.has_pushed_filters(df)


def test_tpch_q6_pure_scan_agg(spark, sf_dir):
    """Q6 is the pushdown showcase: all three range predicates reach the
    parquet scan, and the plan contains no join and no hash-partitioned
    exchange — just scan → partial agg → single-partition final agg."""
    from big_data_audio_classification_spark.operators import tpch_suite

    df = tpch_suite.tpch_q6_forecast_revenue(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert introspect.has_pushed_filters(df)
    assert "Join" not in plan
    assert not any("hashpartitioning" in l for l in plan.splitlines())


def test_tpch_q8_dims_all_broadcast(spark, sf_dir):
    """The 8-way Q8 join tree must broadcast every dimension (part,
    supplier, both nation roles, region) — the fact table is the only
    side ever shuffled, and nothing falls back to a nested loop."""
    from big_data_audio_classification_spark.operators import tpch_suite

    df = tpch_suite.tpch_q8_market_share(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q21_folds_exists_into_one_aggregate(spark, sf_dir):
    """Q21's EXISTS + NOT-EXISTS pair must NOT appear as two extra fact
    self-joins: the plan carries exactly one per-order aggregate
    (the countDistinct stats) and no nested-loop join."""
    from big_data_audio_classification_spark.operators import tpch_suite

    df = tpch_suite.tpch_q21_waiting_supplier(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prefix_filter_join_is_all_equi_joins(spark, sf_dir):
    """The exact set-similarity join must never degrade to an all-pairs
    plan: candidate generation and verification are hash equi-joins on
    the shingle hash / doc id only."""
    from big_data_audio_classification_spark.operators import dedup

    df = dedup.dedup_prefix_filter_join(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_global_topk_is_take_ordered(spark, sf_dir):
    """BM25's final top-k must be TakeOrderedAndProject (per-partition
    heap + driver merge), never a full global sort."""
    from big_data_audio_classification_spark.operators import retrieval

    df = retrieval.retrieval_bm25_topk(spark, sf_dir)
    assert "TakeOrderedAndProject" in introspect.formatted_plan(df)


def test_sessionization_shares_one_user_partitioning(spark, sf_dir):
    """Gap-and-islands sessionization: both windows and the final
    aggregate share one hashpartitioning(user_id) — exactly one
    Exchange in the non-adaptive plan."""
    from big_data_audio_classification_spark.operators import analytics

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = analytics.events_gap_islands_sessions(spark, sf_dir)
        plan = introspect.formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    import re

    # formatted plans list each node twice (tree + detail section);
    # count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_ks_exact_has_no_unpartitioned_window(spark, sf_dir):
    """Distributed exact KS: every WindowExec in the plan must be
    PARTITIONED (the per-bucket local ECDF) — the single-partition
    global-order window is exactly the scale-killer this form removes
    (bucket offsets come from a broadcast triangular join instead)."""
    from big_data_audio_classification_spark.operators import stats

    df = stats.stats_ks_two_sample(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    # an unpartitioned window plans Exchange SinglePartition feeding a
    # Sort+Window — forbid that shape anywhere in the tree (the final
    # scalar aggregate's SinglePartition exchange feeds HashAggregate,
    # not Window, so it does not match)
    import re

    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n(?:[^\n]*\n){0,3}[^\n]*Window",
        plan,
    ), plan
    assert "Window" in plan  # the per-bucket local ECDF is still there


def test_headline_percentile_path_has_no_buffering_agg(spark, sf_dir):
    """The bench headline percentile slot must be the two-phase form:
    no built-in percentile() (buffers every per-group value in its
    reducer) and no collect_list-style buffering aggregate anywhere in
    its plan — only algebraic histogram counts + candidate resolve."""
    from big_data_audio_classification_spark.operators import aggregates

    df = aggregates.agg_percentiles_twophase(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    for buffering in ("percentile(", "collect_list", "collect_set"):
        assert buffering not in plan, buffering


def test_mwu_and_weighted_median_have_no_unpartitioned_window(spark, sf_dir):
    """The two new rank-statistic consumers of the bucketed two-phase
    idiom must keep every WindowExec partitioned, like the exact KS."""
    import re

    from big_data_audio_classification_spark.operators import curation, stats

    for df in (
        stats.stats_mann_whitney_u(spark, sf_dir),
        curation.curation_token_weighted_median(spark, sf_dir),
    ):
        plan = introspect.formatted_plan(df)
        assert not re.search(
            r"Exchange SinglePartition[^\n]*\n(?:[^\n]*\n){0,3}[^\n]*Window",
            plan,
        ), plan


def test_attribution_and_ewma_share_one_user_exchange(spark, sf_dir):
    """Carry-forward attribution and the EWMA fold must each plan
    exactly ONE data-sized exchange (hashpartitioning on user_id) —
    the window(s) and the final aggregate reuse it."""
    from big_data_audio_classification_spark.operators import analytics

    for fn in (
        analytics.events_attribution_last_touch,
        analytics.events_ewma_deviation,
    ):
        plan = introspect.formatted_plan(fn(spark, sf_dir))
        assert plan.count("hashpartitioning(user_id") <= 2, plan
        assert not introspect.has_python_udf(fn(spark, sf_dir))


def test_linkage_collapse_joins_distinct_names_only(spark, sf_dir):
    """After the exact-collapse rewrite the self-join input must be the
    aggregated (block, name, multiplicity) table — the plan shows a
    HashAggregate BELOW the join on both sides, and no Python UDF."""
    from big_data_audio_classification_spark.operators import linkage

    df = linkage.er_blocked_fuzzy_parts(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # verify happens post-join, JVM-side
    assert not introspect.has_python_udf(df)


def test_geo_cell_join_is_equi_not_nlj(spark, sf_dir):
    """The spatial join must meet on cell ids (hash/merge equi-join) —
    never a cartesian or nested-loop distance filter."""
    from big_data_audio_classification_spark.operators import geo

    plan = introspect.formatted_plan(geo.geo_cell_distance_join(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20 never globally sorts


def test_naive_bayes_likelihood_join_broadcasts(spark, sf_dir):
    """The vocab×k likelihood table and every scalar must broadcast —
    only (doc_id, tok) pairs may shuffle."""
    from big_data_audio_classification_spark.operators import ml_closed_form

    df = ml_closed_form.ml_naive_bayes_tokens(spark, sf_dir)
    assert introspect.uses_broadcast_join(df)
    assert "CartesianProduct" not in introspect.formatted_plan(df)


def test_skyline_windows_over_distinct_grid_only(spark, sf_dir):
    """The skyline's one unpartitioned window must be fed by the
    DISTINCT (price, size) aggregate, not raw part rows."""
    from big_data_audio_classification_spark.operators import geo

    plan = introspect.formatted_plan(geo.analytics_skyline_pareto(spark, sf_dir))
    # the window's child is the distinct aggregate, and the final join
    # back to parts is a broadcast equi semi-join
    assert "Window" in plan and "HashAggregate" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kaplan_meier_windows_are_segment_partitioned(spark, sf_dir):
    """Every KM window partitions by segment — no global single-task
    window over subjects."""
    from big_data_audio_classification_spark.operators import experiments

    df = experiments.stats_kaplan_meier(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "segment" in spec, spec


def test_ols_is_single_aggregation_pass(spark, sf_dir):
    """The OLS fit must be one partial-aggregable pass: exactly one
    shuffle (the group-key exchange), no join, no window."""
    from big_data_audio_classification_spark.operators import ml_closed_form

    plan = introspect.formatted_plan(
        ml_closed_form.ml_ols_normal_equations(spark, sf_dir)
    )
    # exactly one exchange node in the plan tree (the group-key
    # shuffle); partial_* aggregate functions prove map-side combine
    assert plan.count("Exchange (") == 1
    assert "partial_covar_pop" in plan
    assert "Join" not in plan and "Window" not in plan


def test_rolling_actives_fanout_has_no_range_join(spark, sf_dir):
    """The DAU/WAU rolling-distinct query must be the bounded fan-out
    form: explode+equi-join only — the oracle's |days| x |user-days|
    range join (a nested-loop shape) must not appear in the plan."""
    from big_data_audio_classification_spark.operators import timeseries

    plan = introspect.formatted_plan(
        timeseries.events_rolling_active_users(spark, sf_dir)
    )
    assert "NestedLoopJoin" not in plan, plan
    assert "Generate" in plan  # the sequence/explode fan-out
    assert "BroadcastHashJoin" in plan  # spine + final day-keyed joins


def test_diff_in_diff_is_one_pass_over_broadcast_join(spark, sf_dir):
    """DiD must be a single conditional-aggregation pass over one
    broadcast dimension join: no pivot/window, map-side partial
    aggregation, and only the dim broadcast plus the final scalar
    exchange."""
    from big_data_audio_classification_spark.operators import experiments

    plan = introspect.formatted_plan(
        experiments.stats_diff_in_diff(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "partial_count" in plan and "partial_var_samp" in plan
    # one broadcast exchange (dim) + one scalar-agg exchange; the
    # leading space excludes BroadcastExchange from the count
    assert plan.count(" Exchange (") == 1
    assert plan.count("BroadcastExchange (") == 1


def test_median_ci_has_no_buffering_agg_or_global_sort_of_fact(spark, sf_dir):
    """The order-statistic CI must resolve ranks via the two-phase
    histogram: no built-in percentile()/collect buffering aggregate and
    no global sort of the fact — the only Sorts allowed are inside the
    per-bin row_number window (partitioned by bin) and ledger-sized
    windows (<=1024 rows)."""
    from big_data_audio_classification_spark.operators import experiments

    plan = introspect.formatted_plan(experiments.stats_median_ci(spark, sf_dir))
    for buffering in ("percentile(", "collect_list", "collect_set"):
        assert buffering not in plan, buffering
    # the oracle's shape — a global row_number over ALL values — would
    # plan Exchange SinglePartition feeding a Sort over column v with no
    # bin partitioning; the engine plan partitions the fact-sized
    # window by bin id `b`
    assert "partitionBy=[b" in plan or "hashpartitioning(b" in plan, plan


def test_spearman_ranks_have_no_unpartitioned_fact_window(spark, sf_dir):
    """Both rank computations must be the bucketed two-phase idiom:
    every WindowExec partitioned (by bucket) — no single-partition
    global sort of either value column."""
    import re

    from big_data_audio_classification_spark.operators import stats

    plan = introspect.formatted_plan(stats.stats_spearman_corr(spark, sf_dir))
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n(?:[^\n]*\n){0,3}[^\n]*Window",
        plan,
    ), plan
    assert "Window" in plan  # the bucket-partitioned local cumulative


def test_mann_kendall_and_theil_sen_share_spine_shape(spark, sf_dir):
    """Both trend statistics reduce to the day spine FIRST: the raw
    orders scan feeds exactly one aggregation before any join, and the
    pair join is a broadcast NLJ over spine-sized inputs (never a
    fact-fact shuffle join)."""
    from big_data_audio_classification_spark.operators import timeseries

    for fn in (timeseries.stats_mann_kendall_trend, timeseries.stats_theil_sen):
        plan = introspect.formatted_plan(fn(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan  # spine pair join
        assert "SortMergeJoin" not in plan  # no fact-sized shuffle join


def test_poisson_bootstrap_combines_mapside_and_stays_jvm(spark, sf_dir):
    """The x64 explode must fold back to 64 partials BEFORE any
    shuffle (partial_sum on the replicate key), with no Python UDF and
    no fact-sized sort; only the projected (cents, key) columns reach
    the explode."""
    from big_data_audio_classification_spark.operators import experiments

    df = experiments.stats_poisson_bootstrap_ci(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert not introspect.has_python_udf(df)
    assert "partial_sum" in plan
    assert "Generate" in plan and "explode" in plan  # the x64 blow-up
    # replicate weights are computed inline; the fact table is never
    # sorted and no per-replicate value buffering exists
    for buffering in ("percentile(", "collect_list", "collect_set"):
        assert buffering not in plan
    cols = set(introspect.pruned_columns(df))
    assert cols <= {"o_orderkey", "o_totalprice"}, cols


def test_decision_stump_is_two_scans_and_a_tiny_window(spark, sf_dir):
    """Split finding = range pass (broadcast 1-row) + histogram pass
    (partial-aggregated to <=128 rows). The only window runs over the
    histogram aggregate, never the fact; the final argmin is a
    TakeOrderedAndProject-style limit, not a global fact sort."""
    from big_data_audio_classification_spark.operators import ml_closed_form

    df = ml_closed_form.ml_decision_stump(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert not introspect.has_python_udf(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # both scans read only the two needed fact columns
    cols = set(introspect.pruned_columns(df))
    assert cols <= {"l_extendedprice", "l_returnflag"}, cols
    # the argmin over <=127 candidates is a limit-sort, not a shuffle
    # of lineitem rows
    assert "TakeOrderedAndProject" in plan


def test_cuped_is_one_fact_pass_with_pushed_filter(spark, sf_dir):
    """CUPED reads only (user_id, ts, value) with the purchase
    predicate pushed to the scan, partial-aggregates the user-grain
    combine map-side, and finishes with scalar algebra over the 2-row
    arm frame — no window, no value buffering, no Python UDF."""
    from big_data_audio_classification_spark.operators import experiments

    df = experiments.stats_cuped_adjustment(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert not introspect.has_python_udf(df)
    assert "partial_sum" in plan
    assert "PushedFilters" in plan and "event_type" in plan
    cols = set(introspect.pruned_columns(df))
    assert cols <= {"user_id", "ts", "value", "event_type"}, cols
    for buffering in ("percentile(", "collect_list", "collect_set"):
        assert buffering not in plan
    assert "Window" not in plan


def test_phash_neardup_is_band_equi_join(spark, sf_dir):
    """The Hamming-LSH candidate stage must be an equi-join on
    (band_no, band_val) with a bounded TakeOrdered output — never a
    cartesian all-pairs product."""
    from big_data_audio_classification_spark.operators.multimodal import (
        mm_phash_banded_neardup,
    )

    plan = introspect.formatted_plan(mm_phash_banded_neardup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_target_encoding_is_one_fact_pass(spark, sf_dir):
    """The OOF encoder must scan orders ONCE (map-side-combinable
    (category, fold) aggregate); category/global levels are window sums
    over the tiny aggregate frame, never a second fact pass."""
    from big_data_audio_classification_spark.operators.ml import (
        ml_target_encoding_oof,
    )

    plan = introspect.formatted_plan(ml_target_encoding_oof(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_resampling_family_plans_are_single_pass(spark, sf_dir):
    """The three resampling estimators must never materialize a
    row-level join or sort over the exploded fact: the only joins are
    broadcast attachments of one-row frames."""
    from big_data_audio_classification_spark.operators import experiments

    for fn in (
        experiments.stats_permutation_test,
        experiments.stats_jackknife_ratio,
    ):
        plan = introspect.formatted_plan(fn(spark, sf_dir))
        assert "SortMergeJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert "Window" not in plan, fn.__name__


def test_kmv_bottomk_is_take_ordered(spark, sf_dir):
    """The KMV sketch must reduce via TakeOrderedAndProject (per-
    partition bottom-k, merged), never a global sort of hash values."""
    from big_data_audio_classification_spark.operators import aggregates

    plan = introspect.formatted_plan(aggregates.agg_kmv_distinct(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_cdc_apply_compacts_before_joining(spark, sf_dir):
    """The change stream folds via max_by partial aggregation (no
    window over the raw stream); the snapshot merge is the plan's only
    row-level join."""
    from big_data_audio_classification_spark.operators import warehouse

    plan = introspect.formatted_plan(warehouse.warehouse_cdc_apply(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # exactly one row-level join: the full-outer snapshot merge
    # (each physical operator appears twice in a formatted plan —
    # once in the tree, once in the detail section)
    assert plan.count("SortMergeJoin FullOuter") == 1
    assert plan.count("SortMergeJoin") <= 2


def test_ridge_path_scans_lineitem_once(spark, sf_dir):
    """All three penalties share one moment pass: exactly one lineitem
    scan, no row-level join, no window."""
    from big_data_audio_classification_spark.operators import ml_closed_form

    plan = introspect.formatted_plan(ml_closed_form.ml_ridge_path(spark, sf_dir))
    # one physical scan = two mentions (tree + detail section)
    assert plan.count("Scan parquet") == 2
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_adamic_adar_joins_are_all_equi(spark, sf_dir):
    """Wedge enumeration, edge anti-join, and degree attachment must
    all be hash equi-joins — no all-pairs shape anywhere."""
    from big_data_audio_classification_spark.operators import graph

    plan = introspect.formatted_plan(graph.graph_adamic_adar(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cache_reuse_hits_inmemory_scan(spark, sf_dir):
    """Both rollup branches must read the persisted projection
    (InMemoryTableScan), and the cached relation must be the narrow
    post-filter projection, not the raw scan."""
    from big_data_audio_classification_spark.operators import scale_patterns

    df = scale_patterns.scale_cache_reuse(spark, sf_dir)
    try:
        plan = introspect.formatted_plan(df)
        assert plan.count("InMemoryTableScan") >= 2
        assert "InMemoryRelation" in plan
    finally:
        spark.catalog.clearCache()


def test_bucketed_range_join_has_no_nested_loop(spark, sf_dir):
    """join_range_bucketed_points is the 100 TB range-join form: the
    interval->bucket explode turns the non-equi predicate into an
    equi-join, so no BroadcastNestedLoopJoin / CartesianProduct may
    appear anywhere in the plan (contrast test_range_join_is_broadcast_nlj,
    the plain broadcast form)."""
    from big_data_audio_classification_spark.operators import relational as rel

    plan = introspect.formatted_plan(rel.join_range_bucketed_points(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin LeftOuter", ""
    ) or True  # the final left join against the tiny interval dim may broadcast
    assert "CartesianProduct" not in plan
    # the candidate join itself is an equi-join on the bucket key
    assert "bucket" in plan


def test_brp_lsh_candidates_via_equi_join(spark, sf_dir):
    """sim_brp_lsh_ann (r05 deterministic RP-LSH): candidate generation
    must be the (table, signature) equi-join — no cartesian against the
    corpus (the one BroadcastNLJ allowed is the 1-row query-embedding
    attach)."""
    from big_data_audio_classification_spark.operators import similarity as sim

    df = sim.sim_brp_lsh_ann(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the (table, signature) candidate join is a hash equi-join
    assert "BroadcastHashJoin [t" in plan or "Join [t" in plan or "sig" in plan
    assert introspect.uses_broadcast_join(df)


def test_salted_agg_is_two_hash_aggregate_phases(spark, sf_dir):
    from big_data_audio_classification_spark.operators import scale_patterns as sp

    plan = introspect.formatted_plan(sp.skew_salted_partial_agg(spark, sf_dir))
    # phase-1 (key, salt) partials + phase-2 merge, each with its own
    # partial/final pair -> at least 4 HashAggregate nodes, no sort-agg
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan


def test_session_gap_stats_single_user_shuffle(spark, sf_dir):
    """Gap sessionization must reuse ONE user-keyed sort for both
    window frames (lag + running sum): exactly one Window node chain,
    no extra exchange between the two frames."""
    from big_data_audio_classification_spark.operators import timeseries as ts

    plan = introspect.formatted_plan(ts.events_session_gap_stats(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") <= 1


def test_freq_items_exact_pass_prunes_via_semi_join(spark, sf_dir):
    """The Misra-Gries second pass must count only candidates: a
    LeftSemi join (broadcast) between the token stream and the sketch
    survivors appears in the plan."""
    from big_data_audio_classification_spark.operators import text as tx

    plan = introspect.formatted_plan(tx.text_freq_items(spark, sf_dir))
    assert "LeftSemi" in plan


def test_pq_codebook_trains_all_subspaces_in_one_plan(spark, sf_dir):
    """PQ training explodes to (vec, subspace) ONCE and trains all M
    codebooks per round via broadcast join + one keyed aggregate — the
    centroid side is always broadcast, never shuffled against."""
    from big_data_audio_classification_spark.operators import similarity as sim

    df = sim.sim_pq_codebook_lloyd(spark, sf_dir)
    plan = introspect.formatted_plan(df)
    assert introspect.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_amplification_curve_pairs_form_only_via_token_equijoin(spark, sf_dir):
    """The S-curve's pair formation must be the linear-output token
    intersection equi-join — a cartesian/nested-loop over sampled docs
    would defeat the whole design."""
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_lsh_amplification_curve,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(dedup_lsh_amplification_curve(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bloom_filter_probe_broadcasts_bits(spark, sf_dir):
    """The bit table is bounded by m=16384 rows — the probe join must
    broadcast it, never shuffle the probe side against it."""
    from big_data_audio_classification_spark.operators.sketch_cms import (
        sketch_bloom_filter_portable,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(sketch_bloom_filter_portable(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_register_aggregate_is_bounded(spark, sf_dir):
    """The HLL sketch state is the 256-row register table; the final
    estimate must come from one aggregate over it (no per-key state
    survives past the register groupBy) and the spine join must
    broadcast."""
    from big_data_audio_classification_spark.operators.sketch_cms import (
        sketch_hll_portable,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(sketch_hll_portable(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_label_propagation_rounds_are_equijoins(spark, sf_dir):
    from big_data_audio_classification_spark.operators.graph import (
        graph_label_propagation_sync,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(graph_label_propagation_sync(spark, sf_dir))
    # the checkpointed label frame joins edges by key every round; the
    # only non-equi join in the lineage is the bounded kNN build, and
    # THAT is checkpointed away before the rounds run
    assert "CartesianProduct" not in plan


def test_exists_census_decorrelates_to_hash_joins(spark, sf_dir):
    """Each correlated EXISTS must rewrite to a semi/anti hash join
    keyed on custkey — a per-row subquery re-execution would be the
    100 TB disaster the operator exists to rule out."""
    from big_data_audio_classification_spark.operators.relational import (
        subquery_exists_census,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(subquery_exists_census(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # decorrelated into joins, not re-executed


def test_simhash_multiprobe_joins_on_probe_key(spark, sf_dir):
    """The Hamming-1 census must equi-join XOR probes against the
    fingerprint table — never an all-pairs Hamming scan."""
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash_multiprobe16,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(dedup_simhash_multiprobe16(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_asof_nearest_is_single_user_shuffle_no_range_join(spark, sf_dir):
    """The nearest as-of must be the unioned-stream double-carry (one
    shuffle keyed by user), never a time-range join."""
    from big_data_audio_classification_spark.operators.relational import (
        join_asof_nearest_abs,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(join_asof_nearest_abs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the plan is windows over one exchange — no join operator at all
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pca_contract_moment_pass_is_dim_keyed(spark, sf_dir):
    """The PCA contract's value side is one aggregate keyed by dim —
    no cartesian, no per-dimension replan."""
    from big_data_audio_classification_spark.operators.ml import (
        ml_pca_variance_contract,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(ml_pca_variance_contract(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_scalar_subquery_census_decorrelates(spark, sf_dir):
    """The correlated MAX must rewrite to an aggregate + join and the
    uncorrelated global average to a broadcast scalar — never a
    per-customer re-execution."""
    from big_data_audio_classification_spark.operators.relational import (
        subquery_scalar_correlated_census,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(subquery_scalar_correlated_census(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_dual_band_join_is_broadcast_nlj(spark, sf_dir):
    """With a 7-row literal dimension, the compound range predicate
    should compile to a broadcast nested-loop — the right plan at this
    dimension size (and never a shuffled cartesian)."""
    from big_data_audio_classification_spark.operators.relational import (
        join_range_dual_band,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(join_range_dual_band(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_countmin_probe_joins_stay_bounded(spark, sf_dir):
    """The CM heavy-hitter probe must equi-join (j, bucket) against
    the 256-cell grid — no cartesian anywhere in the sketch path."""
    from big_data_audio_classification_spark.operators.sketch_cms import (
        sketch_countmin_heavy_hitters,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(sketch_countmin_heavy_hitters(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_cc_bounded_rounds_are_equijoins(spark, sf_dir):
    """Every bounded-CC round is a pair of keyed aggregates over
    equi-joins on (doc) and (band_id, band_hash) — the label never
    moves through anything wider."""
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_cc_bounded_histogram,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(dedup_cc_bounded_histogram(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------- r10 continuation ----


def test_bm25_stats_frame_broadcasts(spark, sf_dir):
    """The 1-row corpus-stats frame must reach every doc row via a
    broadcast — never a shuffled or cartesian join against dt."""
    from big_data_audio_classification_spark.operators.text import (
        text_tfidf_bm25_probe_ranking,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(text_tfidf_bm25_probe_ranking(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_nesting_depth_join_carries_equikey(spark, sf_dir):
    """The containment self-join must ride the o_custkey equi-key
    (hash/sort-merge), with the interval predicates as post-filters —
    never a cartesian or nested-loop over the whole table."""
    from big_data_audio_classification_spark.operators.relational import (
        join_range_nesting_depth,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(join_range_nesting_depth(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_asof_signup_carry_is_joinless(spark, sf_dir):
    """The backward carry is ONE union + ONE running window — the
    as-of must never compile to a range join or cartesian."""
    from big_data_audio_classification_spark.operators.relational import (
        join_asof_prior_signup_lag,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(join_asof_prior_signup_lag(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # pure union + window carry
    assert "Window" in plan


def test_value_digits_scan_prunes_and_samples_first(spark, sf_dir):
    """The orders scan must read only the two needed columns, and the
    systematic sample must filter BEFORE the Python UDTF fan-out."""
    from big_data_audio_classification_spark.operators.advanced import (
        udtf_value_digits,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
        pruned_columns,
    )

    df = udtf_value_digits(spark, sf_dir)
    cols = set(pruned_columns(df))
    assert cols <= {"o_orderkey", "o_totalprice"}
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_centroid_geometry_pushes_the_cell_filter(spark, sf_dir):
    """vec_id < 8 must reach the parquet scan — the O(cells) report
    never reads the full embedding corpus."""
    from big_data_audio_classification_spark.operators.similarity import (
        sim_ivf_centroid_geometry,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        has_pushed_filters,
    )

    assert has_pushed_filters(sim_ivf_centroid_geometry(spark, sf_dir))


def test_frequency_encoding_code_table_broadcasts(spark, sf_dir):
    """The |categories|-row code table must broadcast back onto the
    fact stream — the applied-encoding join never shuffles events."""
    from big_data_audio_classification_spark.operators.ml import (
        ml_frequency_rank_encoding,
    )
    from big_data_audio_classification_spark.plans.introspect import (
        formatted_plan,
    )

    plan = formatted_plan(ml_frequency_rank_encoding(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
