"""Physical-plan shape assertions: the scale posture is *verified*, not
assumed — broadcast joins where intended, pushdown reaching the scans,
column pruning, bounded top-k, and no accidental cartesian products."""

from __future__ import annotations

from hadoopmapreduce_spark.plans import (
    assert_contains,
    assert_not_contains,
    physical_plan,
    scan_read_schema,
)


def test_dim_chain_broadcasts(spark, sf_dir):
    from hadoopmapreduce_spark.operators.joins import join_broadcast_dim_chain

    df = join_broadcast_dim_chain(spark, sf_dir)
    assert_contains(df, "BroadcastHashJoin")
    assert_not_contains(df, "SortMergeJoin", "CartesianProduct")


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    from hadoopmapreduce_spark.operators.aggregates import agg_pricing_summary

    df = agg_pricing_summary(spark, sf_dir)
    plan = physical_plan(df)
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0]
    schemas = scan_read_schema(df)
    assert schemas, "no parquet scan found"
    # projection pruning: join keys not needed by Q1 must not be read
    assert "l_orderkey" not in schemas[0]
    assert "l_partkey" not in schemas[0]


def test_ctr_filter_pushdown(spark, sf_dir):
    from hadoopmapreduce_spark.operators.ctr import ctr_flagship

    plan = physical_plan(ctr_flagship(spark, sf_dir))
    assert "PushedFilters:" in plan and "event_type" in plan


def test_topk_is_bounded_not_global_sort(spark, sf_dir):
    from hadoopmapreduce_spark.operators.sorts import sort_topk_orders

    assert_contains(sort_topk_orders(spark, sf_dir), "TakeOrderedAndProject")


def test_partial_aggregation_present(spark, sf_dir):
    """The reference never set a combiner (ClickThru.java job 2); Spark's
    partial+final split must appear in the grouped-mean plan."""
    from hadoopmapreduce_spark.operators.ctr import group_avg_ctr

    plan = physical_plan(group_avg_ctr(spark, sf_dir))
    assert "partial_avg" in plan or "partial avg" in plan.lower()


def test_banded_joins_never_cartesian(spark, sf_dir):
    from hadoopmapreduce_spark.operators.dedup import minhash_lsh_dedup, simhash_dedup

    assert_not_contains(minhash_lsh_dedup(spark, sf_dir), "CartesianProduct")
    assert_not_contains(simhash_dedup(spark, sf_dir), "CartesianProduct")


def test_payload_pruned_for_metadata_query(spark, sf_dir):
    """mm_payload_stats must not read the text column bytes twice nor keep
    payload in flight — the scan reads only what the metadata needs."""
    from hadoopmapreduce_spark.operators.multimodal import mm_payload_stats

    schemas = scan_read_schema(mm_payload_stats(spark, sf_dir))
    assert schemas and "n_chars" not in schemas[0]


def test_q18_having_aggregate_broadcasts(spark, sf_dir):
    """The HAVING-filtered order set must enter the main join as a
    broadcast, and the returnflag filter of Q10 must reach the scan."""
    from hadoopmapreduce_spark.operators.tpch import (
        q10_returned_items,
        q18_large_volume_customers,
    )

    assert_contains(q18_large_volume_customers(spark, sf_dir), "BroadcastHashJoin")
    plan = physical_plan(q10_returned_items(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters:" in plan and "l_returnflag" in plan


def test_salted_join_spreads_key(spark, sf_dir):
    """The salted join must join on (key, salt) — no cartesian — and the
    result must not degrade to a broadcast of the replicated build side at
    real scale shape (we assert the join condition carries the salt)."""
    from hadoopmapreduce_spark.operators.joins import join_skew_salted

    df = join_skew_salted(spark, sf_dir)
    plan = physical_plan(df)
    assert "_salt" in plan
    assert_not_contains(df, "CartesianProduct")


def test_vocab_coverage_broadcasts_vocab(spark, sf_dir):
    from hadoopmapreduce_spark.operators.textops import vocab_coverage

    assert_contains(vocab_coverage(spark, sf_dir), "BroadcastHashJoin")


def test_q6_predicates_reach_scan(spark, sf_dir):
    """Q6 is scan-bound: all three predicates must appear in PushedFilters
    and the scan must read only the four referenced columns."""
    from hadoopmapreduce_spark.operators.tpch import q6_forecast_revenue

    df = q6_forecast_revenue(spark, sf_dir)
    plan = physical_plan(df)
    assert "PushedFilters:" in plan and "l_discount" in plan
    schemas = scan_read_schema(df)
    assert schemas and "l_orderkey" not in schemas[0] and "l_tax" not in schemas[0]


def test_q19_disjunction_no_cartesian(spark, sf_dir):
    from hadoopmapreduce_spark.operators.tpch import q19_disjunctive_predicates

    df = q19_disjunctive_predicates(spark, sf_dir)
    assert_contains(df, "BroadcastHashJoin")
    assert_not_contains(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """The NOT EXISTS must plan as an anti join on the orders fact, and the
    scalar mean must enter as a one-row broadcast, not a shuffled join."""
    from hadoopmapreduce_spark.operators.tpch import q22_sales_opportunity

    plan = physical_plan(q22_sales_opportunity(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q17_thresholds_broadcast(spark, sf_dir):
    from hadoopmapreduce_spark.operators.tpch import q17_small_quantity_revenue

    assert_contains(q17_small_quantity_revenue(spark, sf_dir), "BroadcastHashJoin")


def test_q21_semi_anti_chain_no_cartesian(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS pair must compile to semi + anti joins on
    the orderkey equi-key with suppkey residuals — never a cartesian."""
    from hadoopmapreduce_spark.operators.tpch import q21_suppliers_kept_waiting

    df = q21_suppliers_kept_waiting(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert_not_contains(df, "CartesianProduct")


def test_q2_correlated_min_single_fact_pass(spark, sf_dir):
    """The correlated MIN-per-part decorrelates into a window over the
    already-aggregated cost table: lineitem must be scanned exactly once
    and the supplier/nation/region chain must broadcast."""
    from hadoopmapreduce_spark.operators.tpch import q2_min_cost_supplier

    df = q2_min_cost_supplier(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1
    assert_contains(df, "BroadcastHashJoin")


def test_q8_seven_table_tree_broadcasts_dims(spark, sf_dir):
    """Q8's 7-table tree: every dimension side must broadcast (the only
    shuffle joins allowed are the lineitem⋈orders⋈customer fact spine)."""
    from hadoopmapreduce_spark.operators.tpch import q8_market_share

    df = q8_market_share(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert_not_contains(df, "CartesianProduct")


def test_q11_aggregate_reused_not_rescanned(spark, sf_dir):
    """The global-total scalar subquery must reuse the per-part aggregate
    via a one-row broadcast, not rescan lineitem a second time.  (Spark
    evaluates the two consumers of value_by_part independently — two
    lineitem scans would appear if the small aggregate weren't the thing
    being re-derived; assert the nation-filtered supplier side broadcasts
    and no cartesian sneaks in around the scalar.)"""
    from hadoopmapreduce_spark.operators.tpch import q11_important_stock

    df = q11_important_stock(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_partial_aggregates_and_bounded_topk(spark, sf_dir):
    from hadoopmapreduce_spark.operators.textops import tfidf_top_terms

    plan = physical_plan(tfidf_top_terms(spark, sf_dir))
    assert "partial_count" in plan or "partial count" in plan.lower()
    assert "CartesianProduct" not in plan


def test_quantization_is_shuffle_free(spark, sf_dir):
    """int8 quantization is a pure per-row map — the only Exchange allowed
    is the declared input spread (RoundRobinPartitioning, fires only when
    the scan has fewer splits than cores; a no-op at scale).  Any KEYED
    exchange means an accidental shuffle of the embedding payload."""
    from hadoopmapreduce_spark.operators.similarity import embedding_quantize_int8

    plan = physical_plan(embedding_quantize_int8(spark, sf_dir))
    for keyed in ("hashpartitioning", "rangepartitioning", "SinglePartition"):
        assert keyed not in plan, plan


def test_dq_referential_integrity_never_broadcasts_facts(spark, sf_dir):
    """Broadcast is allowed only on the three dimension edges (part,
    supplier, nation); the fact-to-fact edges (orders→customer,
    lineitem→orders, events→customer) must shuffle — broadcasting a
    fact table is a scale-killer at 100 TB (round-3 finding)."""
    from hadoopmapreduce_spark.operators.aggregates import dq_referential_integrity

    # disable size-based auto-broadcast: at sf0.001 every table fits the
    # 10 MB threshold, which would mask the at-scale plan shape — with it
    # off, only the explicit F.broadcast hints can produce a broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(dq_referential_integrity(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # formatted explain prints each node twice (tree + detail), so match the
    # tree-line form "<Join> LeftAnti" which appears exactly once per node
    assert plan.count("BroadcastHashJoin LeftAnti") == 3, plan
    # the three fact edges appear as shuffled anti joins
    assert (
        plan.count("SortMergeJoin LeftAnti")
        + plan.count("ShuffledHashJoin LeftAnti")
        == 3
    ), plan


def test_graph_ops_no_cartesian_no_python(spark, sf_dir):
    """Triangle counting and PageRank must stay equi-join + hash-agg all the
    way down: no cartesian expansion, no Python workers in the loop."""
    from hadoopmapreduce_spark.operators.graph import (
        graph_copurchase_triangles,
        graph_pagerank_int,
    )

    tri = graph_copurchase_triangles(spark, sf_dir)
    assert_not_contains(tri, "CartesianProduct", "BatchEvalPython")
    pr = graph_pagerank_int(spark, sf_dir)
    assert_not_contains(pr, "CartesianProduct", "BatchEvalPython")


def test_zorder_key_is_codegen(spark, sf_dir):
    """The Morton key must be pure JVM bit arithmetic (whole-stage codegen),
    never a Python UDF.  Since distributed_ntile took its eager
    localCheckpoint (ADVICE r7), the key Project executes inside the
    checkpoint job and the FINAL plan scans a lineage-severed LogicalRDD —
    a Python-UDF key hidden in that job would be invisible to any
    assertion on the returned plan (ADVICE r8).  So this test pins the
    OPERATOR'S OWN hidden stage through ranks.LAST_PRECHECKPOINT (the
    retained pre-checkpoint plan): shiftleft present, no Python workers —
    plus the generator-level and final-plan checks."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.functions import ranks
    from hadoopmapreduce_spark.operators.layout import (
        _z_spark,
        layout_zorder_stats,
    )

    key_stage = load_table(spark, sf_dir, "events").select(
        F.expr(_z_spark("(user_id % 65536)", "(event_id % 65536)")).alias(
            "zval"
        )
    )
    assert_contains(key_stage, "shiftleft")
    assert_not_contains(key_stage, "BatchEvalPython", "ArrowEvalPython")

    df = layout_zorder_stats(spark, sf_dir)
    assert_not_contains(df, "BatchEvalPython", "ArrowEvalPython")
    # the stage that actually BUILT the checkpointed ntile input: the
    # Z-order key Project must be codegen bit arithmetic there, where it
    # really executes
    pre = ranks.LAST_PRECHECKPOINT
    assert pre is not None, "layout_zorder_stats did not call distributed_ntile"
    assert_contains(pre, "shiftleft")
    assert_not_contains(pre, "BatchEvalPython", "ArrowEvalPython")


def test_semdedup_assignment_is_shuffle_free(spark, sf_dir):
    """VERDICT r8 ask #3: the SemDeDup nearest-centroid assignment must be
    an in-row argmax over a 1-row broadcast centroid array — zero shuffle
    and zero window on the corpus side.  The r8 version shuffled a
    row_number window partitioned by vec_id; this pin makes that shape a
    regression.  The only exchanges allowed are the centroid aggregation
    (broadcast subtree) and the stage-3 cluster-keyed exchange into the
    Gram kernel."""
    from hadoopmapreduce_spark.operators.dedup import dedup_semantic_clustered

    plan = physical_plan(dedup_semantic_clustered(spark, sf_dir))
    assert "hashpartitioning(vec_id" not in plan, plan
    assert "Window" not in plan, plan  # no window argmax anywhere
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row broadcast
    assert "hashpartitioning(cluster" in plan, plan  # stage-3 exchange


def test_gapfill_shuffles_only_on_user(spark, sf_dir):
    """Every exchange in the gap-fill plan must hash on user_id (alone or
    with the spine day) — the one-partitioning-reused-end-to-end posture."""
    from hadoopmapreduce_spark.operators.timeseries import ts_gapfill_locf

    plan = physical_plan(ts_gapfill_locf(spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "user_id" in line, line


def test_incremental_merge_partial_aggregates(spark, sf_dir):
    """The state-merge plan is partial+final hash aggregates — the algebraic
    shape that makes the states mergeable without rescanning."""
    from hadoopmapreduce_spark.operators.aggregates import incremental_agg_merge

    plan = physical_plan(incremental_agg_merge(spark, sf_dir))
    assert "HashAggregate" in plan
    assert_not_contains(incremental_agg_merge(spark, sf_dir), "CartesianProduct")


def test_bfs_constant_plan_per_round(spark, sf_dir):
    """Round-4 verdict: BFS referenced its label table twice per round with
    no lineage cut, so the physical plan doubled every round (2^rounds
    recomputations).  Pin the fix: the per-round eager localCheckpoint makes
    every returned label table a materialized-RDD scan, and the NEXT round's
    plan has the same exchange count no matter how deep the BFS already is.

    The loop runs at the session's shuffle setting, and AQE alone sizes
    each round's node-keyed shuffle to its node-sized state: the eagerly
    checkpointed labels land in one partition, not in one per session
    shuffle partition."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.graph import (
        bfs_relax_min,
        directed_copurchase_edges,
    )

    directed = directed_copurchase_edges(spark, sf_dir)
    sources = (
        directed.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(3)
        .select("node", F.lit(0).cast("long").alias("dist"))
    )

    def next_round_exchanges(dist):
        propagated = directed.join(
            dist, directed["src"] == dist["node"]
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        plan = physical_plan(
            dist.unionByName(propagated)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
        return plan.count("Exchange")

    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    d1 = bfs_relax_min(directed, sources, rounds=1)
    d3 = bfs_relax_min(directed, sources, rounds=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_partitions
    assert d3._jdf.rdd().getNumPartitions() == 1
    # lineage severed: the label table is a scan of a materialized RDD
    assert "ExistingRDD" in physical_plan(d1)
    # constant per-round work: plan size independent of BFS depth
    assert next_round_exchanges(d1) == next_round_exchanges(d3)


def test_bloom_prefilter_prunes_before_exact_join(spark, sf_dir):
    """The explicit bloom must actually prune: fewer fact rows reach the
    exact join than exist in lineitem, the result still matches the plain
    join exactly (covered by the oracle), and the plan stays broadcast +
    codegen (no cartesian, no Python)."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.joins import (
        BLOOM_BITS,
        join_bloom_prefilter,
    )

    df = join_bloom_prefilter(spark, sf_dir)
    assert_not_contains(df, "CartesianProduct", "BatchEvalPython")
    assert_contains(df, "BroadcastHashJoin")

    # quantify the prune on the fixture: bloom-passing rows << all rows
    li = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    slots = dim.select(
        F.pmod(F.xxhash64("p_partkey"), F.lit(BLOOM_BITS)).alias("s")
    ).distinct()
    passing = (
        li.select(F.pmod(F.xxhash64("l_partkey"), F.lit(BLOOM_BITS)).alias("s"))
        .join(slots, "s")
        .count()
    )
    total = li.count()
    # the dim keys fill <5% of the bloom, so >90% of fact rows must drop
    assert passing < total * 0.1, (passing, total)


def test_fuzzy_blocking_bounded_blocks(spark, sf_dir):
    """Blocking must bound candidate generation: the largest block is
    alphabet-sized (name minus last char ⇒ ≤ ~10 members), never
    table-sized — the structural guarantee that keeps pair count linear."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.catalog import load_table

    c = load_table(spark, sf_dir, "customer")
    biggest = (
        c.groupBy(F.expr("substr(c_name, 1, length(c_name) - 1)"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert biggest <= 12, biggest


def test_bitmap_distinct_partial_aggregation(spark, sf_dir):
    """The bitmap grid must build with partial (map-side) aggregation — the
    mergeable-state property that makes it COUNT(DISTINCT)'s scale sibling."""
    from hadoopmapreduce_spark.operators.aggregates import agg_bitmap_distinct

    plan = physical_plan(agg_bitmap_distinct(spark, sf_dir))
    assert "partial" in plan.lower()
    assert_not_contains(agg_bitmap_distinct(spark, sf_dir), "Expand")


def test_chunk_manifest_no_shuffle(spark, sf_dir):
    """The chunk manifest is a narrow per-row explode — no KEYED exchange
    (the declared round-robin input spread is allowed; it only fires when
    the scan has fewer splits than cores and is a no-op at scale)."""
    from hadoopmapreduce_spark.operators.multimodal import mm_chunk_manifest

    plan = physical_plan(mm_chunk_manifest(spark, sf_dir))
    for keyed in ("hashpartitioning", "rangepartitioning", "SinglePartition"):
        assert keyed not in plan, plan


def test_filtered_knn_predicate_reaches_scan(spark, sf_dir):
    """knn_filtered_topk pre-filters: the label predicate must push to the
    parquet scan (pre-filtering, not post-filtering top-k)."""
    from hadoopmapreduce_spark.operators.similarity import knn_filtered_topk

    plan = physical_plan(knn_filtered_topk(spark, sf_dir))
    assert "PushedFilters:" in plan and "label" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """The bucketed interval join must execute as an equi-join on the
    bucket — never a nested-loop theta join (that would be the shape that
    dies at 100 TB and is the whole reason the operator exists)."""
    from hadoopmapreduce_spark.operators.joins import join_interval_overlap

    df = join_interval_overlap(spark, sf_dir)
    assert_not_contains(df, "BroadcastNestedLoopJoin", "CartesianProduct")
    plan = physical_plan(df)
    assert "Join" in plan  # and it joins via hash/sort-merge on the bucket


def test_nested_scan_prunes_to_leaf_columns(spark, sf_dir):
    """Nested schema pruning: the scan over the denormalized nested parquet
    must read only the two leaf fields the rollup touches — reading the
    whole cust struct or item array would be the read-amplification the
    layout exists to avoid."""
    from hadoopmapreduce_spark.operators.layout import scan_nested_struct_pruned

    df = scan_nested_struct_pruned(spark, sf_dir)
    schemas = scan_read_schema(df)
    assert schemas, "no parquet scan found"
    s = schemas[0]
    assert "c_mktsegment" in s and "l_quantity" in s
    for dropped in ("c_name", "c_acctbal", "l_extendedprice", "o_totalprice"):
        assert dropped not in s, (dropped, s)


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The join-driven quarter filter must reach the partitioned fact scan
    as a runtime partition filter — a static plan reads all ~81 month
    directories and DPP is the only mechanism that can cut them."""
    from hadoopmapreduce_spark.operators.layout import (
        join_partition_pruned_dynamic,
    )

    df = join_partition_pruned_dynamic(spark, sf_dir)
    plan = physical_plan(df)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_kcore_constant_plan_per_round(spark, sf_dir):
    """The k-core peel references its alive set twice per round (src filter
    + dst filter) — the same double-reference shape whose uncut lineage
    made BFS exponential in round 4.  Pin the per-round localCheckpoint:
    the alive table is a materialized-RDD scan, and the induced-degree
    plan built on it has the same exchange count regardless of how many
    peel rounds preceded it."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.graph import (
        directed_copurchase_edges,
    )

    directed = directed_copurchase_edges(spark, sf_dir)

    def peel(alive, k):
        return (
            directed.join(alive.select(F.col("node").alias("src")), "src")
            .join(alive.select(F.col("node").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
        )

    alive0 = (
        directed.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    alive1 = peel(alive0, 2).localCheckpoint(eager=True)
    alive3 = peel(peel(alive1, 2).localCheckpoint(eager=True), 2).localCheckpoint(
        eager=True
    )
    assert "ExistingRDD" in physical_plan(alive1)
    n1 = physical_plan(peel(alive1, 2)).count("Exchange")
    n3 = physical_plan(peel(alive3, 2)).count("Exchange")
    assert n1 == n3


def test_broadcast_fallback_switches_strategy(spark, sf_dir):
    from hadoopmapreduce_spark.operators.joins import segment_revenue_sized

    small = segment_revenue_sized(spark, sf_dir)
    assert_contains(small, "BroadcastHashJoin")
    assert_not_contains(small, "SortMergeJoin")
    big = segment_revenue_sized(spark, sf_dir, max_broadcast_rows=0)
    assert_contains(big, "SortMergeJoin")
    assert_not_contains(big, "BroadcastHashJoin")
    a = {tuple(r) for r in small.collect()}
    b = {tuple(r) for r in big.collect()}
    assert a == b, "strategy switch changed results"


def test_pareto_prune_broadcasts_thresholds(spark, sf_dir):
    """Two-phase skyline: the bucket-threshold table must broadcast (it is
    ≤1024 rows of model state), and nothing may plan a cartesian."""
    from hadoopmapreduce_spark.operators.aggregates import agg_pareto_frontier_2d

    df = agg_pareto_frontier_2d(spark, sf_dir)
    assert_contains(df, "BroadcastHashJoin")
    assert_not_contains(df, "CartesianProduct")


def test_prorate_windows_share_one_exchange(spark, sf_dir):
    """All three per-order windows + the digest groupBy must reuse a single
    hash exchange on l_orderkey — re-shuffling per window would triple the
    shuffle volume at scale."""
    from hadoopmapreduce_spark.operators.aggregates import (
        fin_prorate_largest_remainder,
    )

    plan = physical_plan(fin_prorate_largest_remainder(spark, sf_dir))
    n_exchanges = plan.count("Exchange hashpartitioning")
    # one exchange for lineitem(l_orderkey), one for the orders join side;
    # anything more means a window re-partitioned
    assert n_exchanges <= 2, f"expected <=2 hash exchanges, saw {n_exchanges}:\n{plan}"
    assert_not_contains(
        fin_prorate_largest_remainder(spark, sf_dir), "CartesianProduct"
    )


def test_prefix_filter_no_cartesian_no_python(spark, sf_dir):
    """The similarity join must stay candidate-only (equi-joins throughout)
    and JVM-side (no Python workers in the hot path)."""
    from hadoopmapreduce_spark.operators.dedup import dedup_prefix_filter_jaccard

    df = dedup_prefix_filter_jaccard(spark, sf_dir)
    assert_not_contains(df, "CartesianProduct", "BroadcastNestedLoopJoin")
    plan = physical_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_completeness_profile_single_scan_expand(spark, sf_dir):
    """The profiler must be ONE pass over orders: a single parquet scan
    feeding Catalyst's Expand-based multi-distinct — N independent scans
    would multiply the read at 100 TB."""
    from hadoopmapreduce_spark.operators.aggregates import dq_completeness_profile

    df = dq_completeness_profile(spark, sf_dir)
    plan = physical_plan(df)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan


def test_markov_single_user_shuffle(spark, sf_dir):
    """lead() + pair count: exactly one exchange on user_id feeds the lead
    window; the transition aggregate and its normalizing window run on the
    |types|²-row result."""
    from hadoopmapreduce_spark.operators.windows import event_markov_transitions

    df = event_markov_transitions(spark, sf_dir)
    assert_not_contains(df, "CartesianProduct")
    plan = physical_plan(df)
    import re as _re

    assert "user_id" in plan
    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_single_fact_scan_shapes(spark, sf_dir):
    """Queries whose scalar/threshold aggregates derive from the SAME base
    table must not rescan it: weekday profile and CUSUM normalize through
    windows over their tiny rollups; RFM and the skyline cut lineage so
    the driver-side probes don't re-derive the base aggregate."""
    import re as _re

    from hadoopmapreduce_spark.operators.aggregates import agg_rfm_segmentation
    from hadoopmapreduce_spark.operators.timeseries import (
        ts_cusum_alerts,
        ts_weekday_profile,
    )

    for fn in (ts_weekday_profile, ts_cusum_alerts):
        plan = physical_plan(fn(spark, sf_dir))
        n = len(_re.findall(r"\(\d+\) Scan parquet", plan))
        assert n == 1, f"{fn.__name__}: {n} scans\n{plan}"
    # RFM: the checkpointed metrics table feeds thresholds and scoring;
    # orders itself is scanned only while materializing the checkpoint,
    # so the final plan reads the checkpoint RDD, not parquet
    plan = physical_plan(agg_rfm_segmentation(spark, sf_dir))
    n = len(_re.findall(r"\(\d+\) Scan parquet", plan))
    assert n == 0, f"rfm: expected checkpoint-backed plan, saw {n} scans\n{plan}"
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_new_vs_returning_single_scan(spark, sf_dir):
    """First-day derivation must ride a window, not an aggregate joined
    back — one events scan total."""
    import re as _re

    from hadoopmapreduce_spark.operators.windows import event_new_vs_returning

    plan = physical_plan(event_new_vs_returning(spark, sf_dir))
    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan  # the two conditional distincts


def test_mad_and_share_read_checkpoints_not_rescans(spark, sf_dir):
    """MAD's deviation table and share-of-parent's child level are
    lineage-cut: the final plans read the materialized RDD, so the fact
    scan count in the RETURNED plan is zero (it ran while materializing)."""
    import re as _re

    from hadoopmapreduce_spark.operators.aggregates import (
        agg_share_of_parent,
        dq_mad_outliers,
    )

    for fn in (dq_mad_outliers, agg_share_of_parent):
        plan = physical_plan(fn(spark, sf_dir))
        n = len(_re.findall(r"\(\d+\) Scan parquet", plan))
        # share_of_parent still scans region (5-row dim) post-checkpoint
        assert n <= 1, f"{fn.__name__}: {n} parquet scans\n{plan}"
        assert "ExistingRDD" in plan


def test_session5_joins_never_nested_loop(spark, sf_dir):
    """The fifth-session operators all express their matching as equi-joins
    (FIFO's range predicates ride an equi-join on part; the wedge join is
    keyed on the center) — a nested-loop/cartesian here would be the
    100 TB-killing plan."""
    from hadoopmapreduce_spark.operators.graph import graph_neighbor_jaccard_top
    from hadoopmapreduce_spark.operators.joins import fin_fifo_inventory_match
    from hadoopmapreduce_spark.operators.textops import text_trigram_novelty
    from hadoopmapreduce_spark.operators.windows import event_funnel_24h

    for fn in (
        fin_fifo_inventory_match,
        graph_neighbor_jaccard_top,
        text_trigram_novelty,
        event_funnel_24h,
    ):
        assert_not_contains(
            fn(spark, sf_dir), "CartesianProduct", "BroadcastNestedLoopJoin"
        )


def test_jaccard_topn_bounded_and_curriculum_broadcast(spark, sf_dir):
    """Top-N via bounded heaps (no global sort of the pair table), and the
    curriculum mix joins its tiny tier-offset table by broadcast."""
    from hadoopmapreduce_spark.operators.graph import graph_neighbor_jaccard_top
    from hadoopmapreduce_spark.operators.textops import pipeline_curriculum_mix

    assert_contains(graph_neighbor_jaccard_top(spark, sf_dir), "TakeOrderedAndProject")
    assert_contains(pipeline_curriculum_mix(spark, sf_dir), "BroadcastHashJoin")


def test_review_fixes_single_fact_scan(spark, sf_dir):
    """The chi-square drift, linkage-scoring, and Zipf-fit plans must not
    rescan their fact table per branch: the multi-branch intermediate
    (cell / customer projection / rank points) is checkpointed, so the
    returned plan reads materialized state, not parquet, more than once."""
    from hadoopmapreduce_spark.operators.aggregates import dq_chisq_drift
    from hadoopmapreduce_spark.operators.dedup import dedup_linkage_score_fs
    from hadoopmapreduce_spark.operators.textops import text_zipf_fit
    from hadoopmapreduce_spark.plans import physical_plan

    for fn in (dq_chisq_drift, dedup_linkage_score_fs, text_zipf_fit):
        plan = physical_plan(fn(spark, sf_dir))
        assert plan.count("Scan parquet") <= 1, f"{fn.__name__} rescans"


def test_session6_plan_shapes(spark, sf_dir):
    """Sixth-session pins: LIFO keeps FIFO's equi-join shape (no nested
    loop), the chunk rewrite scans documents at most twice (chunker
    explode + narrow text projection) with no cartesian, and the BPE apply
    joins the vocab-sized token map by BROADCAST so corpus rows never
    shuffle on the word."""
    from hadoopmapreduce_spark.operators.joins import fin_lifo_periodic_match
    from hadoopmapreduce_spark.operators.multimodal import dedup_chunk_rewrite
    from hadoopmapreduce_spark.operators.textops import text_bpe_apply_tokenize
    from hadoopmapreduce_spark.plans import physical_plan

    assert_not_contains(
        fin_lifo_periodic_match(spark, sf_dir),
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    )
    import re

    rewrite = physical_plan(dedup_chunk_rewrite(spark, sf_dir))
    # tree nodes print as "Scan parquet  (n)"; the detail section repeats
    # each as "(n) Scan parquet" — count tree nodes only
    n_scans = len(re.findall(r"Scan parquet\s+\(\d+\)", rewrite))
    assert 1 <= n_scans <= 2, (
        f"chunk rewrite scan count {n_scans} — 0 means the regex no longer"
        f" matches the explain format and the pin is vacuous"
    )
    assert "CartesianProduct" not in rewrite
    apply_plan = physical_plan(text_bpe_apply_tokenize(spark, sf_dir))
    assert "BroadcastHashJoin" in apply_plan, "token map not broadcast"


def test_eval_family_plan_shapes(spark, sf_dir):
    """Seventh-session pins: the AUC never windows over corpus rows (its
    only Window reads the partial+final score-class aggregate), the gains
    table broadcasts the domain-bounded offset table (no single-partition
    NTILE, no sort-merge), and the kNN noise audit keeps knn_cosine_topk's
    broadcast shape — the corpus side never shuffles."""
    from hadoopmapreduce_spark.operators.evals import (
        eval_auc_rank,
        eval_gains_deciles,
        eval_knn_label_noise,
    )

    auc = physical_plan(eval_auc_rank(spark, sf_dir))
    assert "CartesianProduct" not in auc
    assert "partial_count" in auc or "partial count" in auc.lower(), (
        "score-class rollup lost its partial aggregate"
    )
    # the class prefix-sum window must consume the aggregate, not the scan:
    # with the agg below it, the Window node sees columns n_s/p_s, never text
    window_section = auc.split("Window")[1] if "Window" in auc else ""
    assert "n_s" in window_section, "rank window no longer reads class aggregates"

    gains = physical_plan(eval_gains_deciles(spark, sf_dir))
    assert "BroadcastHashJoin" in gains, "offset table not broadcast"
    assert "SortMergeJoin" not in gains and "CartesianProduct" not in gains

    knn = eval_knn_label_noise(spark, sf_dir)
    assert_not_contains(knn, "SortMergeJoin", "CartesianProduct")
    assert_contains(knn, "Broadcast")


def test_session7_plan_shapes(spark, sf_dir):
    """Clustering coefficient keeps the census's broadcast-adjacency shape
    (no cartesian, no Python); the XML re-read prunes to the aggregated
    columns before the shuffle (one projection, no full-width scan into
    the agg)."""
    from hadoopmapreduce_spark.operators.evals import eval_ndcg_label_match
    from hadoopmapreduce_spark.operators.graph import (
        graph_clustering_coefficient,
    )
    from hadoopmapreduce_spark.operators.layout import scan_xml_roundtrip

    cc = graph_clustering_coefficient(spark, sf_dir)
    assert_not_contains(cc, "CartesianProduct", "PythonUDF")
    assert_contains(cc, "BroadcastHashJoin")
    assert_contains(cc, "TakeOrderedAndProject")  # bounded top-20, no sort

    ndcg = eval_ndcg_label_match(spark, sf_dir)
    assert_not_contains(ndcg, "SortMergeJoin", "CartesianProduct")
    assert_contains(ndcg, "Broadcast")

    xml = physical_plan(scan_xml_roundtrip(spark, sf_dir))
    assert "CartesianProduct" not in xml
    assert "partial_count" in xml or "partial count" in xml.lower()


def test_mixture_rebalance_windows_language_sized_only(spark, sf_dir):
    """The corpus scan feeds ONE partial+final aggregate; every window in
    the plan runs downstream of that lang-sized rollup (the plan's Window
    nodes must see the per-lang token column, never document text)."""
    from hadoopmapreduce_spark.operators.textops import (
        pipeline_mixture_cap_rebalance,
    )

    import re

    plan = physical_plan(pipeline_mixture_cap_rebalance(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial count" in plan.lower()
    window_inputs = re.findall(
        r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", plan
    )
    assert window_inputs, "explain format changed — pin is vacuous"
    for cols in window_inputs:
        assert "text#" not in cols, f"window reads document text: {cols}"
        assert "tokens#" in cols


def test_time_decay_and_rolling_trend_plan_shapes(spark, sf_dir):
    """Time-decay attribution keeps the linear variant's equi-join shape
    (user-keyed hash join, never a nested loop over purchases x touches);
    the rolling trend's five window moments share ONE type-keyed sort over
    the daily rollup (exactly one Window node, fed by the aggregate)."""
    import re

    from hadoopmapreduce_spark.operators.timeseries import ts_rolling_trend_28d
    from hadoopmapreduce_spark.operators.windows import (
        event_attribution_time_decay,
    )

    att = physical_plan(event_attribution_time_decay(spark, sf_dir))
    assert "CartesianProduct" not in att
    assert "BroadcastNestedLoopJoin" not in att

    trend = physical_plan(ts_rolling_trend_28d(spark, sf_dir))
    rolling_windows = re.findall(r"\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", trend)
    assert rolling_windows, "explain format changed — pin is vacuous"
    for cols in rolling_windows:
        assert "value#" not in cols, f"window reads raw event rows: {cols}"
    assert "partial_sum" in trend or "partial sum" in trend.lower()


def test_shared_sql_grouping_sets_and_lateral_shapes(spark, sf_dir):
    """GROUPING SETS must plan through one Expand into a single aggregate
    (one fact scan for all levels); the LATERAL top-1 must decorrelate
    into a ranked-window plan (WindowGroupLimit), never a per-outer-row
    rescan or cartesian."""
    from hadoopmapreduce_spark.operators.sqltext import (
        sql_shared_grouping_sets,
        sql_shared_lateral,
    )

    gs = physical_plan(sql_shared_grouping_sets(spark, sf_dir))
    assert "Expand" in gs
    assert gs.count("orders.parquet") == 1
    lat = physical_plan(sql_shared_lateral(spark, sf_dir))
    assert "WindowGroupLimit" in lat or "Window" in lat
    assert "CartesianProduct" not in lat
    assert lat.count("orders.parquet") == 1


def test_pmi_topk_is_bounded_not_global_window(spark, sf_dir):
    """VERDICT r5 ask #2: the PMI top-N must plan as TakeOrderedAndProject
    (per-partition heaps, O(k) driver merge), NOT a row_number() over an
    unpartitioned Window — at a real vocabulary that window funneled the
    full scored-pair table through one reducer.  The distributed stage
    (`_pmi_scored_top`) must carry no Window at all; the registered query
    attaches rk by enumerating the <=N collected rows."""
    from hadoopmapreduce_spark.operators.textops import (
        PMI_TOP_N,
        _pmi_scored_top,
        pmi_top_pairs,
    )

    top = _pmi_scored_top(spark, sf_dir)
    assert_contains(top, "TakeOrderedAndProject")
    assert_not_contains(top, "Window", "CartesianProduct")
    out = pmi_top_pairs(spark, sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= PMI_TOP_N
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
    assocs = [r.assoc for r in rows]
    assert assocs == sorted(assocs, reverse=True)


def test_round6_window_cohort_plan_shapes(spark, sf_dir):
    """Machine-check the plan claims made for the round-6 adjudication
    cohort in SCALE.md: rank-gated top-k rides WindowGroupLimit (per-group
    bounded work, the WITH TIES analogue of TakeOrderedAndProject), the
    FILTER-clause aggregate is one scan + one aggregate, and none of the
    join-bearing members degrade to a cartesian/nested-loop."""
    from hadoopmapreduce_spark.operators.sorts import sort_topk_with_ties
    from hadoopmapreduce_spark.operators.aggregates import agg_filter_clause
    from hadoopmapreduce_spark.operators.asof import join_asof_nearest_view
    from hadoopmapreduce_spark.operators.joins import dq_duplicate_payments
    from hadoopmapreduce_spark.operators.windows import event_top_journeys

    ties = physical_plan(sort_topk_with_ties(spark, sf_dir))
    assert "WindowGroupLimit" in ties
    assert "CartesianProduct" not in ties

    fc = physical_plan(agg_filter_clause(spark, sf_dir))
    assert fc.count("lineitem.parquet") == 1
    assert "HashAggregate" in fc

    for df in (
        join_asof_nearest_view(spark, sf_dir),
        dq_duplicate_payments(spark, sf_dir),
        event_top_journeys(spark, sf_dir),
    ):
        assert_not_contains(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_round7_new_operator_plan_shapes(spark, sf_dir):
    """Round-7 registrations: MaxSim broadcasts the probe bag (never a
    corpus-corpus cartesian); LPA's per-round plan carries node-keyed
    exchanges only; the PII scrub keeps detection and redaction in one
    scan with no shuffle before the lang rollup."""
    from hadoopmapreduce_spark.operators.graph import graph_label_propagation
    from hadoopmapreduce_spark.operators.similarity import (
        knn_maxsim_multivector,
    )
    from hadoopmapreduce_spark.operators.textops import pipeline_pii_scrub

    ms = physical_plan(knn_maxsim_multivector(spark, sf_dir))
    assert "BroadcastHashJoin" in ms or "BroadcastNestedLoopJoin" in ms
    assert "CartesianProduct" not in ms

    lpa = physical_plan(graph_label_propagation(spark, sf_dir))
    assert "CartesianProduct" not in lpa
    assert "SortMergeJoin" in lpa or "ShuffledHashJoin" in lpa \
        or "BroadcastHashJoin" in lpa

    pii = physical_plan(pipeline_pii_scrub(spark, sf_dir))
    assert "Exchange" in pii  # exactly the lang-rollup exchange…
    assert "Join" not in pii  # …and no join anywhere
    assert pii.count("documents.parquet") == 1  # one corpus scan


def test_kcenter_round_is_bounded_topk(spark, sf_dir):
    """The k-center round's argmax must be TakeOrderedAndProject (bounded
    heap), and the center set must broadcast — pin the round plan by
    reconstructing it the way the operator builds it."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.similarity import (
        _dot,
        _embeddings,
    )

    nrm = _embeddings(spark, sf_dir).select(
        "vec_id", "v", _dot(F.col("v"), F.col("v")).alias("vv")
    )
    cen = nrm.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("cv"), F.col("vv").alias("cvv")
    )
    rnd = (
        nrm.filter(~F.col("vec_id").isin([0]))
        .crossJoin(F.broadcast(cen))
        .select(
            "vec_id",
            (
                F.col("vv") - F.lit(2.0) * _dot(F.col("v"), F.col("cv"))
                + F.col("cvv")
            ).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(F.min("d2").alias("mind"))
        .orderBy(F.desc("mind"), F.asc("vec_id"))
        .limit(1)
    )
    assert_contains(rnd, "TakeOrderedAndProject")
    plan = physical_plan(rnd)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
