"""Physical-plan assertions (SURVEY.md §4 / §5.2 item 4): the optimizations
the engine relies on must actually appear in the plan — broadcast joins,
filter/column pushdown, top-k fusion, bounded shuffle counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from recommendation_system_big_data_spark.catalog import load
from recommendation_system_big_data_spark.plans import explain
from recommendation_system_big_data_spark.queries.flagship import flagship_top_customers
from recommendation_system_big_data_spark.queries.tpch import (
    q3_shipping_priority,
    q5_local_supplier_volume,
)
from recommendation_system_big_data_spark.operators.relational import (
    scan_parquet,
    sort_limit_topk,
)


def test_flagship_broadcasts_dimension(spark, sf_dir):
    # The customer hint is size-gated (catalog.maybe_broadcast): at test SFs
    # the table is far under the gate, so the static plan must broadcast; at
    # scale the hint disappears and AQE picks broadcast-or-shuffle by stats.
    df = flagship_top_customers(spark, sf_dir)
    assert explain.has_broadcast_hash_join(df)


def test_flagship_shuffle_count(spark, sf_dir):
    # one shuffle for the groupBy(o_custkey, priority), one for the salted
    # pre-rank window, one (tiny: ≤ 5×64 rows/priority) for the final rank —
    # the dimension join must NOT add an exchange.
    df = flagship_top_customers(spark, sf_dir)
    assert explain.num_shuffles(df) <= 3, explain.physical_plan(df)


def test_flagship_two_phase_topk(spark, sf_dir):
    # VERDICT r2 #4: the 5-distinct-value priority column must not be the
    # only window partition key — the plan needs the salted pre-rank stage
    # (Window over (priority, salt)) before the exact global rank.
    plan = explain.physical_plan(flagship_top_customers(spark, sf_dir))
    assert plan.count("Window") >= 2, plan
    assert "salt" in plan, plan


def test_scan_pushdown_and_pruning(spark, sf_dir):
    df = scan_parquet(spark, sf_dir)
    pushed = explain.pushed_filters(df)
    assert "l_quantity" in pushed, pushed
    schema = explain.read_schema(df)
    # only the 4 projected columns reach the parquet reader
    assert "l_extendedprice" not in schema, schema


def test_topk_fuses_to_take_ordered(spark, sf_dir):
    df = sort_limit_topk(spark, sf_dir)
    assert explain.has_take_ordered(df)


def test_q3_broadcasts_selective_dim_only(spark, sf_dir):
    # the BUILDING-customer dim is hinted; orders⋈lineitem is AQE's call
    # (broadcast here, sort-merge at 100 TB) — so the static plan shows
    # exactly the hinted broadcast, not a broadcast of the orders side.
    plan = explain.physical_plan(q3_shipping_priority(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1, plan


def test_q5_small_dims_broadcast(spark, sf_dir):
    # nation⋈region and lineitem⋈supplier are hinted broadcasts; customer
    # and orders join without hints (AQE decides by size at runtime).
    df = q5_local_supplier_volume(spark, sf_dir)
    plan = explain.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q5_fact_stream_never_reshuffles_on_custkey(spark, sf_dir):
    # The hard-won q5 join order (VERDICT r1 plan audit): orders⋈customer
    # resolves custkey BEFORE lineitem enters, so the fact stream shuffles
    # exactly once, keyed by orderkey — a custkey hashpartitioning anywhere
    # in this static plan means the join order regressed and the full
    # order×lineitem stream is being re-shuffled at 100 TB.
    import re

    plan = explain.physical_plan(q5_local_supplier_volume(spark, sf_dir))
    assert not re.search(r"hashpartitioning\([^)]*custkey", plan), plan
    df = q5_local_supplier_volume(spark, sf_dir)
    assert explain.num_shuffles(df) <= 4, explain.physical_plan(df)


def test_q10_single_agg_shuffle(spark, sf_dir):
    # q10 at test SF: all dim joins broadcast; the only exchange is the
    # final groupBy(c_custkey, c_name, n_name) aggregate.
    from recommendation_system_big_data_spark.queries.tpch import (
        q10_returned_items,
    )

    df = q10_returned_items(spark, sf_dir)
    assert explain.num_shuffles(df) <= 2, explain.physical_plan(df)
    assert explain.has_broadcast_hash_join(df)


def test_sim_lsh_candidates_use_band_equi_join(spark, sf_dir):
    # VERDICT r1 "What's wrong" #1: candidate generation must be a hash
    # equi-join on the (band_id, band_val) bucket key, not a pairwise
    # broadcast-nested-loop over all candidates × queries.
    from recommendation_system_big_data_spark.operators.similarity import (
        sim_topk_lsh,
    )

    plan = explain.physical_plan(sim_topk_lsh(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_val" in plan and plan.count("BroadcastHashJoin") >= 1, plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    # AQE wraps the plan and defers codegen compilation until execution;
    # disable it for the inspection so the codegen subtrees are visible.
    # NOTE: catalog.load re-asserts AQE=true (ensure_runtime_conf), so the
    # conf flip must happen AFTER load and before the (lazy) explain.
    df = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"))
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert explain.whole_stage_codegen_spans(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q6_filters_reach_the_scan(spark, sf_dir):
    # Q6 is the pushdown benchmark: date window, discount band, and quantity
    # cap must all appear as pushed parquet filters, and only the 4 touched
    # columns may reach the reader.
    from recommendation_system_big_data_spark.queries.tpch import q6_forecast_revenue

    df = q6_forecast_revenue(spark, sf_dir)
    pushed = explain.pushed_filters(df)
    for col in ("l_discount", "l_quantity", "l_shipdate"):
        assert col in pushed, pushed
    schema = explain.read_schema(df)
    assert "l_orderkey" not in schema and "l_tax" not in schema, schema


def test_q19_derives_single_table_residues(spark, sf_dir):
    # The OR-of-ANDs references both sides, so it can't push wholesale —
    # but Catalyst must derive the part-side disjunction (brand/size) as a
    # pushed filter so the scan shrinks before the join.
    from recommendation_system_big_data_spark.queries.tpch import (
        q19_disjunctive_predicates,
    )

    df = q19_disjunctive_predicates(spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "Brand#1" in explain.pushed_filters(df) or "Brand#1" in plan, plan


def test_sessionize_single_sort_for_both_windows(spark, sf_dir):
    # lag + running-sum share one (user_id) partition ordering: exactly one
    # exchange for the window pass plus one for the per-session rollup.
    from recommendation_system_big_data_spark.operators.windows import (
        sessionize_events,
    )

    df = sessionize_events(spark, sf_dir)
    assert explain.num_shuffles(df) <= 2, explain.physical_plan(df)


def test_q18_semi_join_carries_no_payload(spark, sf_dir):
    # The big-orders filter must plan as LeftSemi (key-only), not an inner
    # join that duplicates lineitem rows per match.
    from recommendation_system_big_data_spark.queries.tpch import (
        q18_large_volume_customers,
    )

    plan = explain.physical_plan(q18_large_volume_customers(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_zorder_key_is_shuffle_free(spark, sf_dir):
    # The Morton key is a pure projection — clustering cost appears only
    # when a writer range-partitions by it, never in the key computation.
    from recommendation_system_big_data_spark.operators.bucketing import zorder_key

    df = zorder_key(spark, sf_dir)
    assert explain.num_shuffles(df) == 0, explain.physical_plan(df)


def test_dpp_injects_runtime_partition_filter(spark, sf_dir):
    # The date-partitioned fact scan must carry a dynamicpruning# subquery
    # injected from the filtered calendar dim — runtime partition pruning,
    # not a full scan followed by a join filter.
    from recommendation_system_big_data_spark.sources.sinks import (
        dpp_partition_pruned_join,
    )

    plan = explain.physical_plan(dpp_partition_pruned_join(spark, sf_dir))
    assert "dynamicpruning" in plan.lower(), plan


def test_pivot_two_phase_no_discovery_job(spark, sf_dir):
    # Explicit-value pivot: a (user, type) pre-agg plus the pivotfirst agg
    # on user — two shuffles, no per-type scans, and critically no
    # value-discovery distinct job (the scan appears exactly once).
    from recommendation_system_big_data_spark.operators.reshape import reshape_pivot

    df = reshape_pivot(spark, sf_dir)
    plan = explain.physical_plan(df)
    assert explain.num_shuffles(df) <= 2, plan
    assert plan.count("events.parquet") == 1, plan
    assert "pivotfirst" in plan, plan


def test_unpivot_is_shuffle_free(spark, sf_dir):
    from recommendation_system_big_data_spark.operators.reshape import reshape_unpivot

    df = reshape_unpivot(spark, sf_dir)
    assert explain.num_shuffles(df) == 0, explain.physical_plan(df)


def test_contamination_broadcasts_holdout(spark, sf_dir):
    # The benchmark-gram side must broadcast; the candidate gram stream is
    # only ever shuffled by the per-doc rollup (keyed on doc_id).
    from recommendation_system_big_data_spark.functions.quality import (
        contamination_ngram_check,
    )

    df = contamination_ngram_check(spark, sf_dir)
    assert explain.has_broadcast_hash_join(df)


def test_join_strategy_hints_are_honored(spark, sf_dir):
    # The engine must be able to FORCE each physical join strategy when the
    # optimizer's default would be wrong for a known workload: shuffle_hash
    # avoids SMJ's sort on huge-but-uniform sides; merge avoids hash build
    # OOM on dense keys. (Catalyst may override hints only when a strategy
    # is impossible for the join type.)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    shj = li.join(orders.hint("shuffle_hash"), li["l_orderkey"] == orders["o_orderkey"])
    assert "ShuffledHashJoin" in explain.physical_plan(shj)
    smj = li.join(orders.hint("merge"), li["l_orderkey"] == orders["o_orderkey"])
    assert "SortMergeJoin" in explain.physical_plan(smj)


def test_range_join_is_bucket_equi_join(spark, sf_dir):
    # The point-in-interval join must compile to a hash/sort-merge join on
    # the bucket key, never the nested-loop plan a bare inequality ON
    # clause produces.
    from recommendation_system_big_data_spark.operators.ranges import (
        join_range_bucketed,
    )

    plan = explain.physical_plan(join_range_bucketed(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "bucket" in plan, plan


def test_gapfill_grid_is_distributed(spark, sf_dir):
    # The dense hour grid comes from sequence()+explode on executors — no
    # driver-side collect/parallelize of the grid.
    from recommendation_system_big_data_spark.operators.ranges import (
        ts_gapfill_ffill,
    )

    plan = explain.physical_plan(ts_gapfill_ffill(spark, sf_dir))
    assert "sequence(" in plan and "explode" in plan.lower(), plan


def test_concurrency_sweep_has_no_global_window(spark, sf_dir):
    # The prefix sum must be the two-phase partitioned pattern: every
    # window over the boundary stream is keyed by pid; only the
    # ≤|partitions|-row offset window may be partition-less.
    from recommendation_system_big_data_spark.operators.ranges import (
        max_concurrent_intervals,
    )

    df = max_concurrent_intervals(spark, sf_dir)
    plan = explain.physical_plan(df)
    import re

    # Unpartitioned running-sum windows sort by the raw timestamp; the
    # only such window allowed is the pid-offset one (sorts by pid).
    bad = re.findall(r"Window \[[^\]]*us ASC[^\]]*\](?!.*partition)", plan)
    globals_over_us = [
        w for w in plan.splitlines()
        if "Window" in w and "us#" in w and "pid#" not in w and "user_id" not in w
    ]
    assert not bad and not globals_over_us, plan


def test_cube_single_expand_aggregate(spark, sf_dir):
    # CUBE must be one Expand + one aggregation pass over one scan — not a
    # union of per-level aggregates re-reading the fact table.
    from recommendation_system_big_data_spark.operators.olap import (
        agg_cube_revenue,
    )

    import re

    plan = explain.physical_plan(agg_cube_revenue(spark, sf_dir))
    assert "Expand" in plan, plan
    # formatted explain lists each node once in the tree and once in the
    # details — count unique scan node ids, not substring occurrences
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1, plan


def test_fuzzy_join_blocks_on_brand(spark, sf_dir):
    # The levenshtein predicate must ride on a brand equi-join, not turn
    # the plan into a cartesian/nested-loop comparison of all part pairs.
    from recommendation_system_big_data_spark.operators.linkage import (
        fuzzy_join_levenshtein,
    )

    plan = explain.physical_plan(fuzzy_join_levenshtein(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_join_strategy_hints_orders_customer(spark, sf_dir):
    # The engine leans on AQE + size-gated broadcast hints; this pins the
    # OTHER strategy controls Spark exposes — a shuffle_hash hint must
    # produce ShuffledHashJoin (skipping the sort-merge default), and a
    # merge hint must produce SortMergeJoin even where broadcast would win.
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    sh = o.join(c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"])
    assert "ShuffledHashJoin" in explain.physical_plan(sh)
    sm = o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
    assert "SortMergeJoin" in explain.physical_plan(sm)


def test_round5_topk_plans_use_take_ordered(spark, sf_dir):
    # Both round-5 global top-k shapes must compile to TakeOrderedAndProject
    # (per-partition k + driver merge), never a global sort.
    from recommendation_system_big_data_spark.operators.sampling import (
        sample_weighted_reservoir,
    )
    from recommendation_system_big_data_spark.operators.relational import (
        sort_nulls_ordering,
    )

    assert explain.has_take_ordered(sample_weighted_reservoir(spark, sf_dir))
    assert explain.has_take_ordered(sort_nulls_ordering(spark, sf_dir))


def test_lag_features_single_window_exchange(spark, sf_dir):
    # All four lag features share one user_id shuffle: the plan must carry
    # exactly one exchange (both window specs hash-partition on user_id).
    from recommendation_system_big_data_spark.operators.windows import (
        ts_lag_features,
    )

    assert explain.num_shuffles(ts_lag_features(spark, sf_dir)) == 1


def test_basket_cap_adds_no_exchange(spark, sf_dir):
    # The dense_rank basket cap must reuse the l_orderkey partitioning the
    # pair self-join needs: capping must not increase the exchange count
    # beyond the uncapped pair pipeline's (window + self-join share the key).
    from recommendation_system_big_data_spark.operators.graph import (
        _capped_items,
    )
    from recommendation_system_big_data_spark.catalog import load
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    capped = _capped_items(li)
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") != F.col("b.l_partkey")),
    )
    # window shuffle on l_orderkey serves both join inputs: 1 exchange for
    # the cap, none added for the join sides (plan may add an AQE-chosen
    # broadcast for the probe, so assert the shuffle count stays <= 2).
    assert explain.num_shuffles(pairs) <= 2


def test_binning_no_global_window(spark, sf_dir):
    # Equi-depth binning must not contain a global (empty-partition)
    # window — the single-task scale-killer its docstring rejects.
    from recommendation_system_big_data_spark.operators.profile import (
        feature_binning_equidepth,
    )

    plan = explain.physical_plan(feature_binning_equidepth(spark, sf_dir))
    assert "Window" not in plan, plan


def test_ohlc_is_single_aggregate_no_window(spark, sf_dir):
    # OHLC bars must fold in ONE partial-aggregable groupBy (min_by/max_by
    # carry the open/close selection) — no Window, no second exchange.
    from recommendation_system_big_data_spark.operators.timeseries import (
        ts_resample_ohlc,
    )

    df = ts_resample_ohlc(spark, sf_dir)
    plan = explain.physical_plan(df)
    assert "Window" not in plan, plan
    assert explain.num_shuffles(df) == 1, plan


def test_drawdown_single_exchange_for_stacked_windows(spark, sf_dir):
    # Cumulative sum + running peak share partitioning AND ordering: the
    # plan must carry exactly one user_id exchange feeding both windows,
    # plus the final groupBy reusing the same partitioning (Spark keeps
    # the hash partitioning, so the aggregate adds no exchange).
    from recommendation_system_big_data_spark.operators.timeseries import (
        ts_max_drawdown,
    )

    assert explain.num_shuffles(ts_max_drawdown(spark, sf_dir)) <= 2


def test_rolling_active_users_no_nested_loop(spark, sf_dir):
    # The 7-day WAU fan-out must be explode-based: every join an equi-join
    # (spine probe broadcast), never a range nested loop.
    from recommendation_system_big_data_spark.operators.timeseries import (
        ts_rolling_active_users,
    )

    plan = explain.physical_plan(ts_rolling_active_users(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bloom_prefilter_runs_before_join_exchange(spark, sf_dir):
    # The Bloom membership test must sit in a Filter UNDER the join's
    # shuffle: the only nested-loop join is the broadcast of the 1-row
    # bloom summary, and the probe-side filter references the bitmap map
    # lookup (element_at) so rows drop before any exchange.
    from recommendation_system_big_data_spark.operators.runtime_filter import (
        join_bloom_prefilter,
    )

    plan = explain.physical_plan(join_bloom_prefilter(spark, sf_dir))
    # membership test = broadcast hash join on the word index + codegen'd
    # bitwise filter; no nested loop anywhere (the 1-row-map formulation
    # put the test in an interpreted BNLJ condition — ~10x slower)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count(") BroadcastHashJoin") >= 2, plan  # word index + exact join


def test_mann_whitney_window_runs_on_distinct_value_grain(spark, sf_dir):
    # The rank window must consume the distinct-value aggregate, not the
    # fact scan: a HashAggregate must appear below the Window operator.
    from recommendation_system_big_data_spark.operators.stats_tests import (
        stat_mann_whitney,
    )

    plan = explain.physical_plan(stat_mann_whitney(spark, sf_dir))
    win = plan.find("Window")
    agg = plan.find("HashAggregate")
    assert win != -1 and agg != -1, plan


def test_modularity_brands_broadcast_no_nlj(spark, sf_dir):
    # Community labels must attach via broadcast hash joins on the edge
    # table; no nested loop anywhere in the modularity plan.
    from recommendation_system_big_data_spark.operators.graph import (
        graph_community_modularity,
    )

    plan = explain.physical_plan(graph_community_modularity(spark, sf_dir))
    # the single allowed nested-loop site is the broadcast of the 1-row
    # total-weight aggregate; label joins must be hash joins.
    assert plan.count(") BroadcastNestedLoopJoin") <= 1, plan
    assert plan.count(") BroadcastHashJoin") >= 2, plan


def test_monotonic_repair_single_exchange(spark, sf_dir):
    # Stacked running-sum + running-max share one (user) partitioning and
    # ordering; the groupBy reuses it — at most 2 exchanges end to end.
    from recommendation_system_big_data_spark.operators.profile import (
        clean_monotonic_repair,
    )

    assert explain.num_shuffles(clean_monotonic_repair(spark, sf_dir)) <= 2


def test_rag_prep_chunking_is_shuffle_free_map(spark, sf_dir):
    # chunk → embed → bucket is all narrow; the only exchanges belong to
    # the final bucket aggregate (countDistinct(doc_id) adds its own
    # partial-aggregation exchange on (bucket, doc_id)).
    from recommendation_system_big_data_spark.functions.text import (
        pipeline_rag_prep,
    )

    assert explain.num_shuffles(pipeline_rag_prep(spark, sf_dir)) <= 2


def test_time_range_frame_single_window_exchange(spark, sf_dir):
    # Both interval-frame aggregates share one user shuffle + sort.
    from recommendation_system_big_data_spark.operators.windows import (
        window_time_range_frame,
    )

    assert explain.num_shuffles(window_time_range_frame(spark, sf_dir)) == 1


def test_naive_bayes_no_nested_loop_on_tokens(spark, sf_dir):
    # Scoring joins the likelihood table on (class, token) — an equi-join;
    # the class/prior/vocab attachments are broadcasts of tiny aggregates.
    # No nested loop over doc-tokens × vocabulary.
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_naive_bayes_langid,
    )

    plan = explain.physical_plan(ml_naive_bayes_langid(spark, sf_dir))
    assert plan.count(") BroadcastNestedLoopJoin") <= 3, plan  # 1-row sides only
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_topk_per_user_window_group_limit_pushdown(spark, sf_dir):
    # The rank-filter (rn <= k) must push a partial WindowGroupLimit
    # BELOW the shuffle: per-partition top-k before the exchange is the
    # difference between shuffling k rows/key and shuffling everything.
    from recommendation_system_big_data_spark.operators.windows import (
        topk_per_user,
    )

    plan = explain.physical_plan(topk_per_user(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_cluster_representatives_single_window_exchange(spark, sf_dir):
    # The keeper election's rank and cluster size share the component
    # partitioning: ONE Window-over-one-Exchange pair must serve both,
    # or the election would shuffle the labeled membership twice.
    from recommendation_system_big_data_spark.operators.dedup import (
        dedup_cluster_representatives,
    )

    plan = explain.physical_plan(dedup_cluster_representatives(spark, sf_dir))
    tail = plan.split("localCheckpoint")[0]  # post-CC election plan only
    assert tail.count("Window") >= 1, plan
    # the election after the checkpointed CC labels: doc join + 1 window
    # exchange (+1 if the join shuffles) — never more
    assert explain.num_shuffles(
        dedup_cluster_representatives(spark, sf_dir)
    ) <= 3, plan


def test_ccnet_buckets_window_feeds_agg_without_exchange(spark, sf_dir):
    # groupBy(lang, q) is a superset of the ntile window's partition key
    # (lang), so the aggregate must reuse the window's exchange: no
    # Exchange node may sit between the Window and the partial
    # HashAggregate above it.
    from recommendation_system_big_data_spark.functions.text import (
        text_ccnet_quality_buckets,
    )

    plan = explain.physical_plan(text_ccnet_quality_buckets(spark, sf_dir))
    win = plan.find("Window")
    assert win >= 0, plan
    # walk upward from the Window: the text BEFORE it in explain output
    # is the operators above; the nearest enclosing aggregate must come
    # before any further Exchange
    above = plan[:win]
    agg = above.rfind("HashAggregate")
    exch = above.rfind("Exchange")
    assert agg >= 0 and agg > exch, plan


def test_pr_auc_stump_ntile_windows_are_distributed(spark, sf_dir):
    # VERDICT r10 #2/#3: the three queries that still ran a global-order
    # window over fact-scaled grain now route through
    # ranges.running_sums. After its eager localCheckpoint the surviving
    # Window operators must all be the two-phase pattern's — partitioned
    # by (or ordering on) the _pid slice key — never a bare global
    # window over the fact column order.
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_decision_stump,
        ml_eval_pr_auc,
    )
    from recommendation_system_big_data_spark.operators.windows import (
        window_ntile_dist,
    )

    import re

    for fn in (ml_eval_pr_auc, ml_decision_stump, window_ntile_dist):
        plan = explain.physical_plan(fn(spark, sf_dir))
        lines = plan.splitlines()
        bad = []
        for i, ln in enumerate(lines):
            if not re.match(r"\(\d+\) Window", ln.strip()):
                continue
            block = "\n".join(lines[i : i + 6])
            if "_pid" not in block:
                bad.append(block)
        assert not bad, (fn.__name__, bad)


def test_r11_joins_are_hash_joins_not_cartesian(spark, sf_dir):
    # The r11 set-similarity, fingerprint, and t-closeness plans must
    # never degrade to a cartesian/data-by-data nested loop: candidates
    # come from equi-joins (prefix token, fingerprint group key, class
    # key); the only BNLJ allowed is a broadcast of a constant-size
    # side (the 10-row band spine / 1-row totals).
    from recommendation_system_big_data_spark.operators.dedup import (
        dedup_prefix_filter_join,
    )
    from recommendation_system_big_data_spark.operators.multimodal import (
        multimodal_dedup_hist_fingerprint,
    )
    from recommendation_system_big_data_spark.functions.quality import (
        privacy_t_closeness,
    )

    for fn in (
        dedup_prefix_filter_join,
        multimodal_dedup_hist_fingerprint,
        privacy_t_closeness,
    ):
        plan = explain.physical_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (fn.__name__, plan)


def test_r12_batch_joins_are_hash_joins_not_cartesian(spark, sf_dir):
    # Theil–Sen's bounded-grain pairwise self-join must plan as a HASH
    # join on the group key with the day-range as residual condition
    # (verified: BroadcastHashJoin [g],[g] + (x < x) filter) — never a
    # CartesianProduct. Same no-cartesian bar for the Kruskal–Wallis
    # grain join and the conformal broadcast-model joins.
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_conformal_interval,
    )
    from recommendation_system_big_data_spark.operators.stats_tests import (
        agg_theil_sen_slope,
        stat_kruskal_wallis,
    )

    for fn in (agg_theil_sen_slope, stat_kruskal_wallis, ml_conformal_interval):
        plan = explain.physical_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, (fn.__name__, plan)
    plan = explain.physical_plan(agg_theil_sen_slope(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_hampel_single_window_pass(spark, sf_dir):
    # The median AND the MAD must come from ONE collected frame — a
    # second Window over the same partitioning would double the state
    # and the sort. Exactly one Window operator in the plan.
    from recommendation_system_big_data_spark.operators.windows import (
        window_hampel_filter,
    )

    plan = explain.physical_plan(window_hampel_filter(spark, sf_dir))
    # formatted explain prints each operator once in the tree
    # ("Window (4)") and once as a detail header ("(4) Window") — the
    # "(n) Window" form is unique per operator, so ONE Window == 1 hit
    assert plan.count(") Window") == 1, plan


def test_ks_cdf_windows_are_distributed(spark, sf_dir):
    # VERDICT r13 #3: drift_ks_test's empirical-CDF sweep runs on the
    # distinct-value grain, which is data-proportional for a continuous
    # column — it must route through ranges.running_sums (every Window
    # either partitioned by the _pid slice key or ordering the ≤ n_parts
    # offsets fold on _pid), never a bare global Window over `value`.
    import re

    from recommendation_system_big_data_spark.operators.profile import (
        drift_ks_test,
    )

    plan = explain.physical_plan(drift_ks_test(spark, sf_dir))
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if not re.match(r"\(\d+\) Window", ln.strip()):
            continue
        block = "\n".join(lines[i : i + 6])
        if "_pid" not in block:
            bad.append(block)
    assert not bad, bad


def test_zipf_topk_is_take_ordered(spark, sf_dir):
    # VERDICT r13 #4: the vocabulary grows with corpus size, so the
    # top-500 selection must plan TakeOrderedAndProject (per-partition
    # heaps), with the only row_number Window running on the bounded
    # 500-row survivor set.
    from recommendation_system_big_data_spark.functions.text import (
        text_zipf_fit,
    )

    plan = explain.physical_plan(text_zipf_fit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_num_shuffles_counts_what_a_run_runs(spark):
    """A final AQE plan lists its initial plan too, and a query over a
    persisted frame lists the cached plan under its InMemoryRelation:
    neither runs, so neither counts, before or after the collect. A join's
    first child prints as ``:- Exchange (n)`` and counts."""
    keyed = spark.range(0, 100, 1, 4).withColumn("k", F.col("id") % 5)
    other = spark.range(0, 50, 1, 3).select((F.col("id") % 7).alias("k"))
    held = keyed.groupBy("k").agg(F.sum("id").alias("s")).persist()
    try:
        held.count()
        for df, runs in [
            (keyed.groupBy("k").count(), 1),
            (keyed.hint("shuffle_hash").join(other, "k"), 2),
            (held.groupBy((F.col("k") % 2).alias("p")).agg(F.sum("s")), 1),
        ]:
            assert explain.num_shuffles(df) == runs, explain.physical_plan(df)
            df.collect()
            assert explain.num_shuffles(df) == runs, explain.physical_plan(df)
    finally:
        held.unpersist()
