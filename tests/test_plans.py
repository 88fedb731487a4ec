"""Physical-plan quality gates: the properties that make these queries hold
at 100 TB must be visible in the plan (SURVEY.md §4) — predicate pushdown
into the parquet scan, column pruning, broadcast joins for dims, semi joins
that stay semi, TakeOrderedAndProject for top-k, partial aggregation.
"""

from __future__ import annotations

import re

import ecommerce_etl_pipeline_spark.plans  # noqa: F401
from ecommerce_etl_pipeline_spark.plans.registry import _REGISTRY, get

SF = "/root/testdata/sf0.001"


def explain_str(df, mode: str = "formatted") -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    return explain_str(get(name).fn(spark, SF), mode)


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "a3_discount_effectiveness")
    assert "PushedFilters" in plan
    assert "GreaterThan(l_discount" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "a1_daily_sales")
    # the scan must read only the two needed columns of 11+
    rs = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "o_orderdate" in rs and "o_totalprice" in rs
    assert "o_orderpriority" not in rs and "o_custkey" not in rs


def test_dim_joins_broadcast(spark):
    plan = plan_of(spark, "j2_customer_geo_broadcast")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "j6_semi_cascade")
    assert "LeftSemi" in plan


def test_anti_join(spark):
    plan = plan_of(spark, "j8_customers_without_orders")
    assert "LeftAnti" in plan


def test_topk_plans_take_ordered(spark):
    plan = plan_of(spark, "o1_global_topk")
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation(spark):
    plan = plan_of(spark, "a1_daily_sales")
    # map-side partial + final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_embedding_neardup_broadcasts_bounded_side(spark):
    # non-equi (id1 < id2) join against a bounded id range must broadcast
    # the small side, never shuffle a cross product
    plan = plan_of(spark, "dd_embedding_neardup")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_vocabulary_partial_agg_and_topk(spark):
    plan = plan_of(spark, "txt_vocabulary")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial before exchange


#: The engine's Arrow kernels, by UDF name: each is checked bit for bit
#: against a reference outside Spark (DuckDB oracles, pure-Python
#: references in tests/test_llmops_algos.py and tests/test_properties.py).
ENGINE_KERNELS = {"pq_encode_kernel", "nearest_centroid_kernel"}


def arrow_udf_names(plan: str) -> list[str]:
    """Names of the UDFs the ArrowEvalPython nodes of ``plan`` evaluate:
    the calls of each node's first list, ``name(args)#id, ...``, one per
    pythonUDF output of its second list."""
    names = []
    for line in plan.splitlines():
        if "ArrowEvalPython [" in line:
            udfs, outputs = line.split("ArrowEvalPython [", 1)[1].split("], [", 1)
            found = re.findall(r"(?:^|\)#\d+, )(\w+)\(", udfs)
            assert len(found) == outputs.split("]")[0].count("pythonUDF"), line
            names += found
    return names


def test_no_python_udfs_or_cartesian_in_oracle_queries(spark):
    """Oracle-checked plans evaluate Python only through the engine's
    Arrow kernels (ENGINE_KERNELS), and never plan an unbounded cross
    product. Row-at-a-time BatchEvalPython stays banned everywhere."""
    seen = set()
    for name, spec in _REGISTRY.items():
        if spec.oracle is None:
            continue
        plan = explain_str(spec.fn(spark, SF), "simple")
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert plan.count("ArrowEvalPython [") == plan.count("ArrowEvalPython"), name
        udfs = arrow_udf_names(plan)
        assert set(udfs) <= ENGINE_KERNELS, (name, udfs)
        seen.update(udfs)
    # both kernels carry oracle queries, so the name parse is exercised
    assert seen == ENGINE_KERNELS


def test_asof_join_is_window_not_join(spark):
    # the whole point of the union+window as-of implementation: ONE exchange
    # on the user key, zero join operators, no inequality-join blow-up
    plan = plan_of(spark, "j9_asof_join")
    assert "Join" not in plan
    assert "Window" in plan


def test_range_band_join_broadcasts_interval_dim(spark):
    plan = plan_of(spark, "j10_range_band_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_basket_build_single_exchange(spark):
    # repartition_for_collect: the groupBy must reuse the repartition's
    # hash partitioning — exactly one exchange before the list build
    plan = plan_of(spark, "n2_hof_array_aggregate")
    # the only exchange is the explicit repartition; Catalyst added none
    assert "REPARTITION_BY_COL" in plan
    assert "ENSURE_REQUIREMENTS" not in plan


def test_moving_avg_runs_over_daily_rollup(spark):
    # the RANGE-frame window must sit above the daily aggregate (|days| rows),
    # never over raw orders
    plan = plan_of(spark, "w7_moving_avg_7d")
    assert "Window" in plan and plan.count("HashAggregate") >= 2


def test_winnow_overlap_caches_fingerprints(spark):
    # the fps cache is a correctness-of-scale barrier: without it Catalyst
    # inlines the winnow HOF into both the Project(size) and
    # Generate(explode) consumers and free-variable re-evaluation makes the
    # stage O(n^2 k) per document (observed >100x slowdown)
    plan = plan_of(spark, "dd_winnow_overlap_pairs")
    assert "InMemoryTableScan" in plan


def test_contamination_split_filter_fused_into_index_join(spark):
    # the split inequality must be a join predicate (pre-aggregation), not a
    # post-agg filter: same-split candidates never reach the groupBy
    plan = plan_of(spark, "dd_contamination_report", mode="extended")
    opt = plan.split("== Optimized Logical Plan ==")[1]
    join_section = opt.split("Aggregate", 1)[-1]  # below the intersection agg
    assert "NOT (split" in join_section


def test_eval_decontam_broadcasts_eval_postings(spark):
    # the train corpus must never shuffle for candidate generation: the
    # (tiny) eval side's postings broadcast into a hash join
    plan = plan_of(spark, "dd_eval_decontam")
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_pushed_into_fact_scan(spark):
    # the bitmap membership test must die at the lineitem scan (DataFilters),
    # BEFORE the semi join — that's the whole point of runtime pruning
    plan = explain_str(get("j11_bloom_pruned_join").fn(spark, SF), "simple")
    scan_side = plan.split("LeftSemi")[1] if "LeftSemi" in plan else plan
    assert "bit_get" in scan_side
    assert "LeftSemi" in plan


def test_unpivot_expands_after_aggregate(spark):
    # Expand (the unpivot node) must sit ABOVE the aggregate: reshape happens
    # on |nations| rows, never on fact-sized data, and adds no exchange
    plan = explain_str(get("u4_unpivot").fn(spark, SF), "simple")
    assert plan.index("Expand") < plan.index("HashAggregate")
    assert plan.count("Exchange hashpartitioning") == 1


def test_sliding_window_fans_out_before_partial_agg(spark):
    # the duration/slide fan-out (Expand) must feed a partial aggregate so
    # the exchange carries (window x group) partials, not duplicated events
    plan = explain_str(get("w9_sliding_window").fn(spark, SF), "simple")
    assert "Expand" in plan
    assert plan.index("partial_count") < plan.index("Expand")


def test_quantized_topk_broadcasts_queries(spark):
    plan = plan_of(spark, "sim_quantized_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_unigram_logprob_broadcasts_vocab(spark):
    # the vocab rescore join and the scalar total must both broadcast —
    # the big side (exploded tokens) never shuffles for the join itself
    plan = plan_of(spark, "txt_unigram_logprob")
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_pii_redaction_is_scan_side_only(spark):
    # pure per-row regexp work: no exchange anywhere in the plan
    plan = plan_of(spark, "txt_pii_redaction")
    assert "Exchange" not in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    import pyspark.sql.functions as F

    from ecommerce_etl_pipeline_spark.sources.io import load_table, write_table

    orders = load_table(spark, SF, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_table(orders, "wh_orders_part", partition_by=["order_year"])
    try:
        t = spark.table("wh_orders_part").filter(F.col("order_year") == 1995)
        plan = explain_str(t)
        # the year predicate must prune at the directory level, not post-scan
        assert "PartitionFilters" in plan and "order_year" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
        files = t.inputFiles()
        all_files = spark.table("wh_orders_part").inputFiles()
        assert 0 < len(files) < len(all_files)
    finally:
        spark.sql("DROP TABLE IF EXISTS wh_orders_part")


def test_salted_aggregate_two_phase_shape(spark):
    # w11: phase-1 exchange must hash on (user_id, _salt) — the hot key
    # spreads over 16 reducers — and a second aggregate merges by user_id
    plan = plan_of(spark, "w11_salted_hot_keys")
    assert "_salt" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for each phase


def test_no_forced_broadcast_of_scaling_sides(spark):
    """Scale-honesty gate for join strategies on corpus/fact-scaled sides.

    Doctrine (see dedup.jaccard_similarity_join's JOIN STRATEGY note): these
    joins are UNHINTED because Catalyst's size estimates are scan-
    proportional — stats-driven broadcasts flip to shuffle joins exactly
    when the data outgrows the threshold, and AQE re-checks against
    measured shuffle sizes at runtime. What must therefore NEVER appear is
    a broadcast the statistics didn't choose: an explicit F.broadcast()/
    hint on a side that scales with the data would survive any corpus size.

    The check: re-plan with autoBroadcastJoinThreshold=-1 (disables every
    stats-driven broadcast; only FORCED broadcasts remain) and assert each
    plan contains exactly its documented count of explicitly-bounded
    broadcasts — zero for the pure fact/corpus joins, one for j6's
    dim-sized customer-key set."""
    expected_forced = {
        # dedup candidate generation: no forced broadcasts anywhere
        "dd_jaccard_pairs": 0,
        "dd_minhash_pairs": 0,
        "dd_simhash_pairs": 0,
        "dd_winnow_overlap_pairs": 0,
        "dd_contamination_report": 0,
        # classic fact-fact joins
        "j1_order_lineitem_join": 0,
        "j8_customers_without_orders": 0,
        "n3_build_explode_roundtrip": 0,
        "sql_top_revenue_orders": 0,
        "sql_nation_revenue": 0,
        "sql_correlated_exists": 0,
        # j6 explicitly broadcasts the segment's customer keys (dim-sized)
        "j6_semi_cascade": 1,
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, n_forced in expected_forced.items():
            # simple mode: one tree line per node (formatted mode repeats
            # each node name in the detail section, double-counting)
            plan = plan_of(spark, name, mode="simple")
            got = plan.count("BroadcastHashJoin") + plan.count(
                "BroadcastNestedLoopJoin"
            )
            assert got == n_forced, (name, got, n_forced)
            # and with broadcasts off, the join still has a distributed form
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_folded_lsh_signatures_not_inlined(spark):
    """The multi-table LSH signature fold must appear ONCE per side in the
    optimized plan (plus the re-rank's cosine folds) — if a future
    optimizer change starts collapsing the two-step select, the bit-pack
    would inline the n_tables*n_planes-wide fold once PER BUCKET TERM
    (~96 copies) and sim_lsh_recall regresses ~4x (see SCALING.md
    'Round-3 late additions'). Gate on the expression count."""
    from pyspark.sql import functions as F

    from ecommerce_etl_pipeline_spark.llmops import similarity
    from ecommerce_etl_pipeline_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    df = similarity.lsh_topk_multi(
        emb, emb.filter(F.col("vec_id") < 3), n_planes=6, n_tables=16
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_folds = plan.count("aggregate(")
    assert n_folds < 12, (
        f"{n_folds} aggregate() folds in the multi-table LSH plan — "
        "the signature fold is being duplicated per bucket term"
    )
