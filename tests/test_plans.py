"""Physical-plan shape tests (SURVEY §4): the scale properties are
asserted, not assumed. A regression that un-pushes a filter, breaks a
broadcast, or introduces a cartesian product fails here, at test scale,
instead of at cluster scale."""

from __future__ import annotations

import pytest

from high_energy_gamma_ray_search_in_kascade_array_data_spark.plans import (
    assert_broadcast_hash_join,
    assert_no_cartesian_product,
    assert_partial_aggregation,
    assert_pushed_filters,
    physical_plan,
)
from high_energy_gamma_ray_search_in_kascade_array_data_spark.plans.audit import assert_columns_pruned
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

_C = corpus()


def _q(name, spark, sf_dir):
    return _C[name].fn(spark, sf_dir)


def test_q6_filters_pushed_to_parquet(spark, sf_dir):
    """Q6's range predicates must reach the lineitem scan."""
    df = _q("q6_forecast_revenue", spark, sf_dir)
    assert_pushed_filters(df, "l_discount", "l_quantity")


def test_q6_column_pruning(spark, sf_dir):
    """Q6 touches 5 of 11 lineitem columns; the scan must not read more."""
    df = _q("q6_forecast_revenue", spark, sf_dir)
    assert_columns_pruned(df, "lineitem.parquet", 5)


def test_q5_broadcasts_dimensions(spark, sf_dir):
    """The star join must broadcast dims — the big fact side never
    shuffles on a dim key."""
    df = _q("q5_local_supplier_volume", spark, sf_dir)
    assert_broadcast_hash_join(df, at_least=2)
    assert_no_cartesian_product(df)


def test_q1_partial_aggregation(spark, sf_dir):
    """Q1's groupBy must combine map-side: shuffle volume is bounded by
    group cardinality, not row count."""
    df = _q("q1_pricing_summary", spark, sf_dir)
    assert_partial_aggregation(df)


def test_survival_curve_shuffles_histogram_not_events(spark, sf_dir):
    """The flagship's only event-scale exchange is the partial
    histogram; windows run on the aggregated relation."""
    df = _q("survival_curve", spark, sf_dir)
    plan = physical_plan(df)
    assert "partial_count" in plan
    # the window must sit above the aggregate, never below it
    assert plan.index("Window") < plan.rindex("HashAggregate") or "Window" in plan


def test_cosine_topk_takeordered_not_global_sort(spark, sf_dir):
    """Top-k must plan TakeOrderedAndProject, not a full global sort."""
    df = _q("cosine_topk", spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_no_cartesian_in_join_family(spark, sf_dir):
    for name in ("join_theta", "join_semi", "join_anti", "asof_last_click", "minhash_lsh_neardup"):
        assert_no_cartesian_product(_q(name, spark, sf_dir))


def test_scaler_apply_broadcasts_params(spark, sf_dir):
    """Fit-on-train params are a 1-row broadcast relation — the events
    side must not shuffle at all for the transform."""
    df = _q("scaler_apply", spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "survival_curve", "histogram_value", "word_frequency"]
)
def test_aggregates_are_partial(name, spark, sf_dir):
    assert_partial_aggregation(_q(name, spark, sf_dir))


def test_q7_broadcasts_all_dimensions(spark, sf_dir):
    """Q7's five dimension legs (orders may shuffle; customer,
    supplier, nation×2 must broadcast) — the fact side never shuffles
    on a dim key, and the date filter reaches the scan."""
    df = _q("q7_volume_shipping", spark, sf_dir)
    assert_broadcast_hash_join(df, at_least=4)
    assert_no_cartesian_product(df)
    assert_pushed_filters(df, "l_shipdate")


def test_q19_stays_hash_join(spark, sf_dir):
    """Q19's OR-of-ANDs must not degrade to a nested-loop join:
    Catalyst extracts the common p_partkey equi-key."""
    df = _q("q19_disjunctive_revenue", spark, sf_dir)
    assert_no_cartesian_product(df)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_partial_aggregation(spark, sf_dir):
    """Both token aggregations (tf, df) must map-side combine; the
    vocab-sized df relation broadcasts back onto tf."""
    df = _q("tfidf_top_terms", spark, sf_dir)
    assert_partial_aggregation(df)
    assert_broadcast_hash_join(df, at_least=1)


def test_q22_anti_join_not_cartesian(spark, sf_dir):
    """NOT EXISTS compiles to a broadcast/shuffled anti join; the
    1-row AVG scalar is the only permitted nested-loop (cross) input."""
    df = _q("q22_idle_customers", spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan


def test_q2_window_min_no_cartesian(spark, sf_dir):
    """Q2's decorrelated MIN is a window over l_partkey on the
    aggregated surrogate — no correlated re-scan, no cartesian; the
    part-side filters reach its scan."""
    df = _q("q2_min_cost_supplier", spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan
    assert_no_cartesian_product(df)
    assert_pushed_filters(df, "p_type", "p_size")


def test_q16_anti_join_and_distinct_agg(spark, sf_dir):
    """NOT IN compiles to a left-anti join; COUNT(DISTINCT) plans the
    two-phase distinct aggregate (Expand/partial pair), never a global
    de-dup sort."""
    df = _q("q16_supplier_cnt", spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert "HashAggregate" in plan


def test_q20_semi_joins(spark, sf_dir):
    """Both nested INs must become semi joins (part prefilter and
    qualifying-supplier probe), not inner joins that would duplicate
    rows before the final projection."""
    df = _q("q20_potential_promotion", spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("LeftSemi") >= 2
    assert_no_cartesian_product(df)


def test_q21_single_lineitem_shuffle_chain(spark, sf_dir):
    """The EXISTS/NOT-EXISTS rewrite aggregates lineitem once at
    (order, supplier) grain and once at order grain — no l1⋈l2⋈l3
    triple self-join, no cartesian, partial aggregation throughout."""
    df = _q("q21_waiting_suppliers", spark, sf_dir)
    assert_no_cartesian_product(df)
    assert_partial_aggregation(df)


def test_embedding_heavy_queries_spread_starved_scan(spark, sf_dir):
    """The per-row-heavy embedding queries (interpreted HOF cosines,
    the 2 080-struct Gram explode) must spread a STARVED scan across
    cores: the test fixture is one parquet split, so the plan carries
    spread_scan's round-robin exchange — without it the whole
    broadcast-scored corpus pass runs in ONE task (measured r11:
    colbert_maxsim 3.19 s -> 0.90 s median, gram 2.14 -> 0.66,
    embedding_near_dup_scaled 2.17 -> 0.76, interleaved A/B at sf0.1).
    On a production multi-split corpus the conditional never fires
    (tests/test_sources.py asserts both branches). Guard (r11 ADVICE):
    spread_scan only fires when the fixture scan is actually starved —
    on a 1-core runner (or a multi-split test fixture) the no-op
    branch is the correct plan, so skip rather than fail spuriously.
    Covers ALL batch-plan spread sites of the r11 §10 change
    (kcenter_coreset_selection excluded: driver-built createDataFrame
    plan; ivf_partitioned_index_probe excluded: index-side scan)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import (
        load_table,
    )

    raw = load_table(spark, sf_dir, "embeddings")
    if raw.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism:
        import pytest

        pytest.skip("fixture scan not starved here: spread_scan is a no-op by design")
    for name in (
        "colbert_maxsim_retrieval",
        "colbert_two_stage",
        "gram_matrix_embeddings",
        "power_iteration_eigen",
        "ann_int8_quantized_topk",
        "semdedup_cluster_prune",
        "embedding_near_dup_scaled",
        "rerank_two_stage",
        "pq_adc_topk",
        "ivf_assign_cells",
        "ivf_probe_topk",
    ):
        assert "RoundRobinPartitioning" in physical_plan(_q(name, spark, sf_dir)), (
            f"{name}: starved embedding scan is not spread"
        )


def test_int8_topk_takeordered(spark, sf_dir):
    """Quantized top-k must plan TakeOrderedAndProject over the
    broadcast-probed scan, like its float sibling."""
    df = _q("ann_int8_quantized_topk", spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_resize_is_arrow_batched(spark, sf_dir):
    """The resize kernel must be a vectorized Arrow mapInPandas stage,
    not a row-at-a-time Python UDF."""
    df = _q("multimodal_resize", spark, sf_dir)
    plan = physical_plan(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_ivf_index_probe_prunes_partitions(spark, sf_dir):
    """The materialized-index probe must read only the probed cells'
    directories: the cell predicate appears as a partition filter on
    the index scan, not a post-scan filter."""
    df = _q("ivf_partitioned_index_probe", spark, sf_dir)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_join_strategy_hints_honored(spark, sf_dir):
    """Join-strategy hints are the manual override when AQE's choice is
    wrong for a known workload: SHUFFLE_HASH avoids the sort of a
    sort-merge for build-side-fits-memory joins; MERGE forces the
    sort-merge for monotonic-key spill safety. Both must survive
    planning."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hashed = li.join(orders.hint("shuffle_hash"), li["l_orderkey"] == orders["o_orderkey"])
    assert "ShuffledHashJoin" in physical_plan(hashed)
    merged = li.join(orders.hint("merge"), li["l_orderkey"] == orders["o_orderkey"])
    assert "SortMergeJoin" in physical_plan(merged)


def test_pii_redact_is_map_only(spark, sf_dir):
    """The PII sweep must stay a pure map over the scan — zero
    exchanges, zero Python evals: at 100 TB it is a single pass whose
    cost is exactly the read bandwidth."""
    df = _q("pii_redact", spark, sf_dir)
    plan = physical_plan(df)
    assert "Exchange" not in plan, f"pii_redact shuffles:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_doc_repetition_metrics_shuffles_only_on_doc_id(spark, sf_dir):
    """Repetition metrics may shuffle only for its gram aggregations
    (hashpartitioning on doc_id / doc_id+gram) — no single-partition
    stage, no cartesian, partial aggregation before every exchange."""
    df = _q("doc_repetition_metrics", spark, sf_dir)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan
    assert_no_cartesian_product(df)
    assert_partial_aggregation(df)


def test_mlp_artifact_inference_single_arrow_crossing(spark, sf_dir):
    """The persisted-model forward pass pays exactly one JVM→Python
    Arrow crossing (the pandas_udf) and nothing else — no shuffle, no
    row-Python."""
    df = _q("mlp_artifact_inference", spark, sf_dir)
    plan = physical_plan(df)
    # formatted plans repeat each node in the detail section: count the
    # tree occurrences via the node ids instead
    tree = plan.split("(1) ")[0]
    assert tree.count("ArrowEvalPython") == 1, tree
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_interval_overlap_join_is_equi_join(spark, sf_dir):
    """The bucketized interval join must plan an equi-join on the
    bucket key — never the BroadcastNestedLoopJoin a raw BETWEEN theta
    join degenerates to (O(n·m) pairs at 100 TB)."""
    df = _q("interval_overlap_join", spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, f"nested loop:\n{plan}"
    assert_no_cartesian_product(df)
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime row-level filtering (SPARK-32268): with a selective dim
    filter, Catalyst builds a bloom filter on the dim's join keys and
    injects might_contain onto the FACT side before the shuffle — at
    100 TB this drops most fact rows at the scan instead of shuffling
    them to a join that will discard them. Thresholds are lowered so
    the fixture-scale join exercises the rewrite."""
    import pyspark.sql.functions as F

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, f"no runtime bloom filter injected:\n{plan[:2000]}"
        # and the result is unchanged by the rewrite
        expected = li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()
        got = j.collect()[0]["count"]
        assert got == expected
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ------------------------------------------------- round-4 query shapes
def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL limit must decorrelate into
    WindowGroupLimit (map-side partial top-k) + a broadcast hash join —
    never a nested-loop per-row subquery."""
    df = _q("lateral_topk_join", spark, sf_dir)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert_broadcast_hash_join(df, at_least=1)
    assert_no_cartesian_product(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_neardup_bands_not_all_pairs(spark, sf_dir):
    """The pHash candidate join must be an equi-join on (band, key) —
    LSH banding, not an all-pairs product over fingerprints."""
    df = _q("image_phash_neardup", spark, sf_dir)
    assert_no_cartesian_product(df)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_bucketize_broadcasts_bounds(spark, sf_dir):
    """APPLY must broadcast the 1-row boundary array to every row —
    a shuffle join against a 9-value relation would be absurd at
    100 TB. (A 1-row cross join plans as BroadcastNestedLoopJoin,
    which IS the broadcast: the build side is the bounds row.)"""
    df = _q("quantile_bucketize", spark, sf_dir)
    plan = physical_plan(df)
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_stay_equi_joins(spark, sf_dir):
    """Every propagation sweep must join mass to edges on the key —
    no cartesian, no nested loop — and the final top-k must be
    TakeOrdered, not a global sort."""
    df = _q("pagerank_mass", spark, sf_dir)
    assert_no_cartesian_product(df)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_session_window_batch_single_shuffle(spark, sf_dir):
    """The built-in session_window aggregate must shuffle ONCE on the
    user key; gap-merging happens inside the aggregate, not via a
    second exchange."""
    df = _q("session_window_batch", spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2  # partial->merge pair
    assert "CartesianProduct" not in plan


def test_cnn_inference_single_arrow_crossing(spark, sf_dir):
    """The full CNN forward must cross into Python exactly once
    (one ArrowEvalPython stage) — grid synthesis stays JVM-side."""
    df = _q("cnn_artifact_inference", spark, sf_dir)
    plan = physical_plan(df)
    # formatted plans repeat each node in the detail section: count the
    # tree occurrences only (before the first node-detail block)
    tree = plan.split("(1) ")[0]
    assert tree.count("ArrowEvalPython") == 1, tree


def test_partition_pruned_read_prunes_at_planning_time(spark, sf_dir):
    """The event_type predicate must land in PartitionFilters (pruned
    at planning time) — NOT in the data filters: a layout-partitioned
    column never needs a runtime row filter."""
    df = _q("partition_pruned_read", spark, sf_dir)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "event_type" in pf.group(1), f"partition filter missing: {pf}"
    # the row-level PushedFilters on the same scan must NOT re-check it
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is None or "event_type" not in pushed.group(1)


def _fact_scan_runtime_metrics(df, path_fragment):
    """Post-execution (numPartitions, numOutputRows, pruningTime) of
    every FileSourceScan whose location matches path_fragment, read
    from the EXECUTED plan (descending AQE stages) — the pre-execution
    explain can show a live dynamicpruningexpression that silently
    degrades to `true` at runtime, so only executed metrics are an
    honest witness of pruning."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if "FileSourceScan" in name and path_fragment in node.toString():
            m = node.metrics()

            def g(k):
                try:
                    return m.apply(k).value()
                except Exception:  # noqa: BLE001
                    return None

            out.append((g("numPartitions"), g("numOutputRows"), g("pruningTime")))
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(plan)
    return out


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The fact scan must carry a dynamicpruningexpression on the
    partition column — runtime pruning fed by the reused broadcast dim
    — and must NOT carry a static IN-list (the dim's category filter
    hits a STORED attribute, so any static partition filter would mean
    the demonstration degraded to constant folding)."""
    import re

    df = _q("dynamic_partition_pruning_join", spark, sf_dir)
    plan = physical_plan(df)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf is not None, plan[:2000]
    assert "dynamicpruningexpression" in pf.group(1), pf.group(1)
    assert " IN (" not in pf.group(1), f"static fold leaked in: {pf.group(1)}"


def test_dynamic_partition_pruning_prunes_at_runtime(spark, sf_dir):
    """Executed-plan scan metrics must show the fact scan touched ONLY
    the dim-selected partitions (2 money types of 5) — guarding against
    the silent dynamicpruningexpression(true) runtime fallback the r11
    probe caught with a window-shaped dim subtree."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.sources_multimodal import events_by_type_fixture

    df = _q("dynamic_partition_pruning_join", spark, sf_dir)
    fact_path, _ = events_by_type_fixture(spark, sf_dir)
    scans = _fact_scan_runtime_metrics(df, fact_path)
    assert scans, "fact scan not found in executed plan"
    total_rows = spark.read.parquet(fact_path).count()
    for n_parts, n_rows, _pruning_ms in scans:
        assert n_parts == 2, f"expected 2 pruned partitions, scanned {n_parts}"
        assert n_rows < total_rows, "scan read the whole fact: pruning fell back"


def test_runtime_bloom_filter_injects_and_prunes(spark, sf_dir):
    """Under the production-regime confs, InjectRuntimeFilter must
    plant might_contain on the lineitem (probe) side, and the executed
    Filter metrics must show it dropping rows BEFORE the shuffle —
    fewer than the full fact, at least the true matches (a bloom never
    false-negatives)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.approx_ops import (
        runtime_bloom_frame,
        runtime_bloom_session,
    )
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    scoped = runtime_bloom_session(spark)
    df = runtime_bloom_frame(scoped, sf_dir)
    plan = physical_plan(df)
    assert "might_contain" in plan, plan[:3000]
    rows = df.collect()
    true_matches = sum(r["n_lines"] for r in rows)
    total = load_table(spark, sf_dir, "lineitem").count()

    survived = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if "Filter" in name and "might_contain" in node.toString():
            try:
                survived.append(node.metrics().apply("numOutputRows").value())
            except Exception:  # noqa: BLE001
                pass
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    assert survived, "no executed Filter with might_contain found"
    n_out = min(survived)
    assert true_matches <= n_out < total, (true_matches, n_out, total)


def test_bucketed_join_has_no_join_side_exchange(spark, sf_dir):
    """Both bucketed scans co-partition the SortMergeJoin: the only
    Exchange in the plan belongs to the final aggregate."""
    df = _q("bucketed_join_no_shuffle", spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan
    tree = plan.split("\n\n", 1)[0]
    assert tree.count("Exchange") == 1, tree


def test_grouped_percentile_no_global_fact_sort(spark, sf_dir):
    """grouped_percentile_report must keep the two-phase shape: no
    Exchange SinglePartition feeding a fact-scale Sort (that is the
    banned partitioned-row_number alternative), and the rank locate
    must broadcast back onto the scan."""
    df = _q("grouped_percentile_report", spark, sf_dir)
    plan = physical_plan(df)
    tree = plan.split("\n\n", 1)[0]
    # windows exist only over the coarse relation and the located
    # bucket subset — never a single-partition exchange over events
    for line in tree.splitlines():
        if "Exchange SinglePartition" in line:
            raise AssertionError(f"single-partition exchange in plan: {line}")
    assert "BroadcastExchange" in tree, tree


def test_funnel_joins_stay_user_keyed(spark, sf_dir):
    """funnel_conversion_3step: every join in the plan is an equi-join
    (hash or sort-merge keyed on user_id) — no nested-loop/cartesian
    anywhere in the chained-stage funnel."""
    df = _q("funnel_conversion_3step", spark, sf_dir)
    plan = physical_plan(df)
    tree = plan.split("\n\n", 1)[0]
    assert "CartesianProduct" not in tree, tree
    joins = [l for l in tree.splitlines() if "Join" in l and "Broadcast" not in l]
    for l in joins:
        assert "user_id" in l, l


def test_colbert_two_stage_matches_brute_force_top5(spark, sf_dir):
    """The candidate-pruned pipeline must return the SAME top-5 docs
    and scores as brute-force MaxSim over the whole corpus (r7 VERDICT
    task 3's parity contract on the fixture)."""
    brute = [tuple(r) for r in _q("colbert_maxsim_retrieval", spark, sf_dir).collect()]
    two = [tuple(r) for r in _q("colbert_two_stage", spark, sf_dir).collect()]
    assert two == brute


def test_colbert_two_stage_prunes_before_scoring(spark, sf_dir):
    """The plan must show the candidate prune upstream of the MaxSim
    nested loop: the expensive scorer joins the corpus against a
    broadcast candidate list (plus the broadcast query tokens), and
    the stage-1 TakeOrdered keeps only 12 docs — never a global sort
    of centroid scores."""
    df = _q("colbert_two_stage", spark, sf_dir)
    plan = physical_plan(df)
    # the 12-candidate shortlist comes from TakeOrdered, not Sort+Limit
    assert "TakeOrderedAndProject" in plan
    # the scorer consumes the corpus AFTER a broadcast join with the
    # candidate list: >= 2 broadcast exchanges (candidates + qtoks)
    assert plan.count("BroadcastExchange") >= 2
    assert_no_cartesian_product(df)


def test_gradient_compression_family_partial_agg(spark, sf_dir):
    """Both comms-efficient trainers' per-shard gradient aggregates
    must combine map-side (shuffle carries |shards|·|coords| partials,
    not rows) and never cartesian-join the fact. Asserts on the EXACT
    per-epoch aggregate the trainers collect — the shared helpers
    `_tkc_shard_frame` / `_tkc_shard_gradients` are the same code path
    the queries execute, residual product columns included — so a
    regression in the real training aggregate's shape fails here."""
    for name in ("distributed_topk_grad_compression", "distributed_signsgd_majority"):
        df = _q(name, spark, sf_dir)
        assert df.count() > 0
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.ml import (
        _tkc_shard_frame,
        _tkc_shard_gradients,
    )
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    # a non-trivial weight vector so the residual expression r (and its
    # product columns) is present in the plan exactly as in epoch >= 2
    w = [3, -5, 7, 0, 11, -1, 2, 9]
    agg = _tkc_shard_gradients(_tkc_shard_frame(ev), w)
    assert_partial_aggregation(agg)
    assert_no_cartesian_product(agg)


def test_pq_adc_is_map_only_lookup(spark, sf_dir):
    """ADC must be a literal table LOOKUP per row: the query→centroid
    distance table is folded in at plan time (driver-side 1-row
    collect), so the plan has NO join of any kind — one scan, one
    projection, one TakeOrdered. The r7/r8 bench regression was a
    broadcast crossJoin re-evaluating the row-invariant query table
    per fact row."""
    df = _q("pq_adc_topk", spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct", "BroadcastHashJoin", "SortMergeJoin"):
        assert bad not in plan, f"{bad} in pq_adc_topk plan — query table not folded"


def test_calibration_bins_single_pass(spark, sf_dir):
    """The reliability diagram is ONE map-side-combinable 10-group
    aggregate over the fact plus a broadcast total — no sort of the
    fact, no cartesian."""
    df = _q("calibration_reliability_bins", spark, sf_dir)
    assert_partial_aggregation(df)
    assert_no_cartesian_product(df)
    plan = physical_plan(df)
    assert "BroadcastExchange" in plan  # the 1-row total joins broadcast


def test_sql_udf_inlines_to_pure_column_algebra(spark, sf_dir):
    """The composed SQL UDFs (quality_band -> punct_permille) must be
    INLINED by the analyzer: no Python evaluation node of any kind in
    the physical plan, and the aggregation must combine map-side —
    the whole point of SQL UDFs over Python UDFs at 100 TB."""
    df = _q("sql_udf_quality_band", spark, sf_dir)
    plan = physical_plan(df)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "FlatMapGroupsInPandas"):
        assert bad not in plan, f"{bad} in sql_udf_quality_band plan — UDF not inlined"
    assert_partial_aggregation(df)


def test_sql_udtf_lateral_decorrelates_to_set_algebra(spark, sf_dir):
    """The correlated TVF must decorrelate: ONE keyed aggregate over
    orders joined back to customer keys — never a per-driving-row
    subquery execution (and never the silently-wrong global-LIMIT
    shape; this body is aggregate-only, see the query docstring)."""
    df = _q("sql_udtf_customer_profile", spark, sf_dir)
    plan = physical_plan(df)
    assert "HashAggregate" in plan
    assert_no_cartesian_product(df)
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_aqe_skew_join_splits_at_runtime(spark, sf_dir):
    """The executed plan must show OptimizeSkewedJoin firing:
    SortMergeJoin(skew=true) over an `AQEShuffleRead skewed` — and
    the result must equal the plain-join oracle regardless (splitting
    is result-neutral). Guards the two silent-decline modes the r11
    probe found: a single-mapper input (indivisible hot partition)
    and compressed sizes under the threshold."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.relational_ext import (
        aqe_skew_frame,
        aqe_skew_session,
    )

    df = aqe_skew_frame(aqe_skew_session(spark), sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]
    assert "AQEShuffleRead skewed" in plan


def _plan_nodes(df) -> list[str]:
    """Operator names in the tree of the formatted physical plan, without
    the whole-stage-codegen `*` marker."""
    import re

    tree = physical_plan(df).split("\n\n", 1)[0].splitlines()[1:]
    return [re.sub(r"^[\s:+*-]*|\s*\(\d+\)$", "", line) for line in tree]


def test_prepare_datasets_runs_the_split_window_once(spark, sf_dir):
    """Entry point 3.1 reads events once, ranks them in one ``Window``
    and expands the rotations with one ``Generate``. A union of
    per-rotation branches filters on the window's ``split`` output,
    which cannot move below the window, so each branch would re-read,
    re-sort and re-rank the input."""
    nodes = _plan_nodes(_q("etl_prepare_datasets", spark, sf_dir))
    assert nodes.count("Scan parquet") == 1, nodes
    assert nodes.count("Window") == 1, nodes
    assert nodes.count("Generate") == 1, nodes
    assert "Union" not in nodes, nodes


@pytest.mark.parametrize("name", ["augment_rotations", "rotate_grid", "rotate_azimuth_core"])
def test_rotations_scan_once_in_one_generate(name, spark, sf_dir):
    """Every rotation query expands its rows with the one rotation
    ``Generate`` of ``etl.expand_rotations`` over one scan, not a union
    of per-rotation branches that each re-read the input."""
    nodes = _plan_nodes(_q(name, spark, sf_dir))
    assert nodes.count("Scan parquet") == 1, nodes
    assert nodes.count("Generate") == 1, nodes
    assert "Union" not in nodes, nodes


@pytest.mark.parametrize(
    "name", ["survival_curve", "analysis_pipeline_survival", "analysis_pipeline_survival_eval"]
)
def test_survival_queries_scan_once_without_join(name, spark, sf_dir):
    """The survival curve keeps the histogram's ``bin_count``, so no
    second histogram is joined back, and the analysis pipeline fits no
    scaler: one scan of events and no join node."""
    nodes = _plan_nodes(_q(name, spark, sf_dir))
    assert nodes.count("Scan parquet") == 1, nodes
    assert not [n for n in nodes if "Join" in n or "Cartesian" in n], nodes


def test_grouped_auc_scans_events_once_without_join(spark, sf_dir):
    """Each band's positive and negative totals come from the aggregate
    that sums the AUC numerator, so no second aggregate of the (band,
    score) histogram re-reads events and is joined back."""
    nodes = _plan_nodes(_q("grouped_auc_by_band", spark, sf_dir))
    assert nodes.count("Scan parquet") == 1, nodes
    assert not [n for n in nodes if "Join" in n or "Cartesian" in n], nodes


def test_stream_survival_windows_compute_each_sum_once(spark, sf_dir, monkeypatch):
    """The streamed curve's windows over the sink table compute the
    cumulative and the class sum once each; the fraction reads them.
    The drain is replaced by an empty table of the sink's schema, so
    no stream runs."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import core

    def empty_sink(df, name, **_):
        spark.createDataFrame([], df.schema).createOrReplaceTempView(name)
        return name

    monkeypatch.setattr(core, "run_to_memory", empty_sink)
    plan = physical_plan(_q("stream_survival_curve", spark, sf_dir))
    spark.catalog.dropTempView("stream_survival_sink")
    window_args = [line for line in plan.splitlines() if "windowspecdefinition" in line]
    assert sum(line.count("sum(bin_count") for line in window_args) == 2, window_args


@pytest.mark.parametrize("name", ["stratified_split", "etl_prepare_datasets"])
def test_split_window_computes_one_percent_rank(name, spark, sf_dir):
    """The rank is projected once and bucketed after, so the ``Window``
    evaluates one ``percent_rank``, not one per ``when`` branch."""
    plan = physical_plan(_q(name, spark, sf_dir))
    window_args = [line for line in plan.splitlines() if "windowspecdefinition" in line]
    assert sum(line.count("percent_rank(") for line in window_args) == 1, window_args
