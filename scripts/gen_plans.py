#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for the headline queries,
so plan quality (pushdown, broadcast, partial agg, bounded top-k) is
reviewable without running Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoopmapreduce_spark import registry  # noqa: E402
from hadoopmapreduce_spark.plans import physical_plan  # noqa: E402
from hadoopmapreduce_spark.session import get_spark  # noqa: E402

HEADLINERS = [
    ("ctr_flagship", "the [REF] pipeline: scan→filter→distinct→left join→flag→avg"),
    ("agg_pricing_summary", "TPC-H Q1 shape: pushdown + pruning + partial agg"),
    ("q5_local_supplier_volume", "six-table join tree with broadcast dims"),
    ("join_broadcast_dim_chain", "explicit broadcast star-dim chain"),
    ("sort_topk_orders", "global top-k via TakeOrderedAndProject"),
    ("window_topk_per_group", "top-k per group: one shuffle + rank filter"),
    ("minhash_lsh_dedup", "banded LSH join — no cartesian anywhere"),
    ("knn_cosine_topk", "broadcast probes + single-scan scoring"),
    ("q10_returned_items", "fact-fact join + agg + bounded top-20"),
    ("vocab_coverage", "bounded top-N vocab broadcast against token stream"),
    ("graph_copurchase_triangles", "degree-oriented adjacency intersection — no wedge shuffle, no cartesian"),
    ("ts_gapfill_locf", "spine explode + LOCF window, every exchange keyed on user_id"),
    ("incremental_agg_merge", "algebraic partial-state merge: partial+final hash aggregates"),
    ("graph_bfs_distances", "per-round lineage cut: final agg reads a materialized-RDD label table, not 2^rounds of recomputed joins"),
    ("ts_rollup_time_hierarchy", "ROLLUP(y,m,d): one Expand + partial/final agg — all levels in one pass"),
    ("agg_cms_heavy_hitters", "constant-size sketch grid: explode probes + hash agg + broadcast-back min-probe"),
    ("simhash_dedup", "banded fingerprint self-join over a checkpointed fingerprint table — equi-join fan-out only"),
    ("streaming_merge_upsert", "foreachBatch CDC fold; the returned plan is the versioned snapshot scan the merge materialized"),
    ("pipeline_training_data_prep", "the nightly composite: dedup + quality gate + split + rollup in one DAG (one scan, two shuffles)"),
    ("agg_bitmap_distinct", "exact distinct via mergeable bitmap words: two partial+final hash aggregates, no Expand"),
    ("dedup_substring_spans", "char-linear position explode (repartition-before-fanout) + gram hash agg + interval merge"),
    ("join_bloom_multiprobe", "k=3 bloom: dense word-array scalar broadcast, 3 codegen probe conjuncts, no probe-side join"),
    ("agg_weighted_quantile_exact", "decimal cumulative-weight window over unique (group, value) rows"),
    ("join_interval_overlap", "interval bucket explode + equi-join (no nested loop) + canonical-bucket dedup"),
    ("mm_cdc_chunking", "content-defined boundaries: position explode, boundary filter, one LEAD window per doc"),
    ("scan_nested_struct_pruned", "nested read pruned to 2 leaf columns (cust.c_mktsegment, items.l_quantity)"),
    ("join_partition_pruned_dynamic", "DPP: broadcast dim keys injected as a runtime partition filter on the month-partitioned fact"),
    ("window_running_distinct", "running COUNT(DISTINCT) via first-occurrence flag: two user-keyed windows, no global sort"),
    ("graph_kcore_peel_trace", "bounded-round degree peel: final census reads materialized node-sized tables, constant plan per round"),
    ("sink_textkv_writer_roundtrip", "Python DataSource writer roundtrip: byte-range read partitions over the committed part files"),
    ("fn_xxhash64_suite", "xxhash64 differential: one projection, pure codegen, no shuffle"),
    ("agg_decile_lift_table", "global decile rank via range repartition + per-partition row_number — no single-partition NTILE window"),
    ("dedup_minhash_eval", "LSH candidates (tuple-band equi-join) semi-joined against exact truth; counts only cross the final stage"),
    ("join_broadcast_fallback", "size-gated strategy: broadcast under the measured-dim threshold (fallback branch pinned in tests)"),
    ("dedup_incremental_corpus", "delta-vs-base band join + candidate-only exact verify — ingest cost scales with the batch"),
    ("graph_wcc_components", "star-contraction CC: per-round checkpoint, census over node-sized tables"),
    ("text_bpe_learn_merges", "BPE round: vocab-sized pair explode + partial-agg count; merge fold is pure codegen with literal pair"),
    ("agg_pareto_frontier_2d", "two-phase skyline: bucket-threshold broadcast prune, then exact sweep over the survivor set only"),
    ("fin_prorate_largest_remainder", "three per-order windows + digest agg sharing ONE orderkey exchange (pinned <=2 exchanges)"),
    ("dedup_prefix_filter_jaccard", "rarest-shingle prefix equi-join + candidate-only exact verify — no cartesian, no Python"),
    ("text_bm25_topk", "BM25 postings join: broadcast query panel against (doc, term) tf — per-query work = 3 terms' postings"),
    ("image_bmp_rle8_decode", "codec posture: one pruned scan into Arrow-batched mapInPandas, shuffle-free"),
    ("eval_bleu_components", "one explode emits 4 tagged n-gram orders; (pair, gram) hash join; conditional pivot to p1..p4"),
    # round-13 (VERDICT r12 ask #6: the two r12 post-close registrations,
    # plus this round's additions)
    ("graph_louvain_multilevel", "level-1 sweep + phase-2 contraction, then the same sweep (4 weighted rounds) ON the community graph; _stats_clean on every label checkpoint"),
    ("graph_leiden_refine", "intra-community edge filter (broadcast label joins) -> the shared sweep from a singleton seed; one seed action and one trace collect"),
    ("retrieval_rrf_fusion", "RRF: both ranked panels bounded; full outer join on (query, item) + one bounded window — upstream plans unchanged"),
    ("ann_lsh_eval", "LSH tuning referee: (table, sig) bucket equi-join candidates semi-joined vs exact-knn truth; counts only cross the final stage"),
    ("text_bpe_train_merges", "marked BPE round: vocab-sized pair explode + partial-agg argmax; substr-fold rewrite is pure codegen with literal pair"),
    ("image_jpeg_huffman_decode", "baseline-JPEG entropy decode: one pruned scan into Arrow-batched mapInPandas, shuffle-free"),
    ("retrieval_rbo_overlap", "RBO agreement: compacted lexical panel joined to semantic panel on (query, item); suffix-sum contributions, bounded rollup"),
    ("text_wordpiece_train_merges", "WordPiece round: vocab-sized pair + symbol-count aggregates, broadcast count joins, quantized-likelihood argmax, codegen fold"),
    ("eval_chrf_components", "one explode emits 4 tagged char-gram orders; (pair, gram) hash join; three per-pair rollups"),
    ("archive_deflate_decode", "from-spec inflate: one pruned scan into Arrow-batched mapInPandas, shuffle-free"),
    ("archive_deflate_dynamic_decode", "dynamic-Huffman inflate: same shuffle-free Arrow-batched codec posture"),
    ("eval_pass_at_k", "pass@k: pure codegen falling-factorial arithmetic over the task table, no shuffle"),
    ("text_utf8_validate", "UTF-8 ingest gate: one pruned scan into Arrow-batched mapInPandas, shuffle-free"),
    ("image_jpeg_restart_decode", "restart-interval JPEG decode: shuffle-free Arrow-batched codec posture"),
    ("archive_warc_probe", "WARC record walk: shuffle-free Arrow-batched codec posture"),
    ("text_kneser_ney_bigrams", "KN bigram LM: (doc, pos+1) self-join -> bigram agg; vocab-sized context/continuation joins; bounded top-20"),
    ("archive_gzip_member_probe", "gzip member walk over from-scratch inflate + CRC gate: shuffle-free Arrow-batched codec posture"),
    ("graph_boruvka_round", "Boruvka round: node-keyed min-edge window; 9 component-sized pointer-jump self-joins, checkpointed; component-keyed rollup"),
    # round-13: queries the close sidecar's ambient-loaded early segment
    # pushed over the 1.5 s coverage threshold (all re-read at their r12
    # levels standalone — see COMPARE_r13.json; plans documented regardless)
    ("agg_count_distinct", "COUNT(DISTINCT) via Expand + two-phase hash aggregate, one fact scan"),
    ("dq_k_anonymity", "QI-keyed aggregates under the (nation, segment) quasi-identifier; classes bounded by the QI domain"),
    ("dq_mad_outliers", "exact median/MAD via two bounded percentile aggregates + broadcast stats join"),
    ("dq_referential_integrity", "orphan audit: left anti joins against each parent dim, counts only cross the final stage"),
    ("dq_uniqueness_audit", "PK audit: distinct-agg legs over one scan"),
    ("embedding_label_centroids", "per-label integer-grid centroid sums: one scan, posexplode, (label, dim)-keyed agg"),
    ("embedding_quantize_int8", "per-row HOF arithmetic (scale/code/dequant/error) — no shuffle, no Python"),
    ("encode_decode_kv_roundtrip", "[REF] KV codec roundtrip: pure-codegen encode/decode projections, equality audit"),
    ("join_semi_urgent_customers", "LEFT SEMI on the urgent-orders subquery, broadcast below threshold"),
    ("join_temporal_scd2_fact", "event-time dim lookup: equi-join + validity-window residual over broadcast history"),
    ("knn_filtered_topk", "metadata predicate pushed to scan, broadcast probes, bounded per-query top-k"),
    ("lang_id_markers", "marker-ngram language ID: per-row codegen scoring + lang-domain rollup"),
    ("q3_shipping_priority", "TPC-H Q3: two broadcast-filtered joins + date predicates pushed, bounded top-10"),
    ("q8_market_share", "TPC-H Q8: eight-table join tree, dims broadcast, year pivot in one aggregate"),
    ("q9_product_profit", "TPC-H Q9: part-filtered six-table tree; profit expression folded before the (nation, year) rollup"),
    ("scan_fixed_width_source", "fixed-width text source roundtrip: format_string writer + codegen substring/trim/cast reader"),
    ("text_lm_surprise", "bigram-LM surprise: checkpointed tokenize feeds unigram+bigram aggs + scoring join; bounded top-k"),
    # round-12: queries the r11 sidecar pushed over the 1.5 s coverage
    # threshold (ambient-loaded run — plans documented regardless)
    ("agg_cube", "CUBE over two dims: one Expand + partial/final hash aggregate, no extra shuffles"),
    ("doc_fingerprint", "rolling-hash shingle fingerprints: position explode + per-doc hash agg, one shuffle"),
    ("dq_observe_metrics", "observe() metrics ride the scan: zero extra passes, metrics surface via the returned summary"),
    ("eval_matryoshka_truncation", "4 broadcast-probe scoring passes (one per dim prefix) over a single corpus scan each"),
    ("eval_mrr_label_match", "shared broadcast probe-panel top-k; everything downstream is a panel-sized groupBy"),
    ("eval_ndcg_label_match", "same broadcast probe-panel top-k; NDCG folds per-probe over rank-indexed integers"),
    ("graph_label_propagation", "bounded LPA rounds: per-round neighbor-majority agg over the cached edge table, checkpointed labels"),
    ("graph_louvain_phase1", "the shared sweep: 6 conflict-free move rounds over checkpointed inputs; returned trace is a LocalTableScan (rounds ran eagerly)"),
    ("graph_louvain_phase2_aggregate", "its own phase-1 sweep, then ONE community-keyed contraction aggregate over the final labels"),
    ("merge_upsert", "MERGE emulation: versioned snapshot read-back after the foldLeft of upsert batches"),
    ("streaming_join_right_outer_expiry", "stream-stream right outer join; returned plan is the margin-filtered epoch-sink read-back"),
    ("streaming_join_full_outer_expiry", "stream-stream full outer join; same epoch-sink read-back shape as the one-sided forms"),
    ("streaming_sliding_counts", "sliding windowed counts; returned plan scans the append sink"),
    ("streaming_sliding_topk", "sliding windows + per-window rank filter; returned plan scans the append sink"),
    ("streaming_windowed_counts", "tumbling windowed counts; returned plan scans the append sink"),
    ("dq_completeness_profile", "single scan through Expand multi-distinct + stack to long format"),
    ("event_markov_transitions", "one user-keyed lead window; transition matrix bounded by |types|^2"),
    ("agg_rfm_segmentation", "quartile thresholds broadcast against the per-customer aggregate — no ranking window"),
    ("ts_cusum_alerts", "cumsum + floored running-min windows over the calendar-bounded daily series"),
    ("scan_schema_evolution_union", "mergeSchema read over two snapshot schemas; NULL-filled columnar scan"),
    ("fin_fifo_inventory_match", "FIFO interval alignment: per-side part-keyed windows + co-partitioned equi-join with overlap predicates"),
    ("sample_weighted_bottomk", "weighted bottom-k: per-group window, map-side local heaps bound the shuffle"),
    ("event_funnel_24h", "cascaded argmin stages, all user-keyed — state shrinks down the funnel"),
    ("text_trigram_novelty", "gram ladder + gram-keyed left join; partial dedup absorbs Zipf skew"),
    ("pipeline_curriculum_mix", "global curriculum position from broadcast tier offsets — no global sort"),
    ("graph_neighbor_jaccard_top", "brand scope pushed into BOTH wedge inputs before the quadratic fan-out; bounded top-N"),
    ("sort_collation_unicode", "ICU-collated top-k rides the same bounded-heap TakeOrderedAndProject as binary sorts"),
    ("graph_ppr_seeded", "per-iteration join+agg on the cached edge partitioning; checkpointed seed set broadcast each round"),
    ("fin_lifo_periodic_match", "FIFO's interval-join shape with the receipt axis reversed — same exchanges, same overlap predicates"),
    ("dedup_chunk_rewrite", "chunk-hash window marks first occurrences; doc-keyed join + per-doc sort/fold reassembly; <=2 document scans"),
    ("text_bpe_apply_tokenize", "vocab-sized merge loop, then ONE broadcast join tokenizes the corpus — no corpus-keyed shuffle"),
    ("sample_poisson_bootstrap", "x8 replicate explode + hoisted md5 draw; partial agg collapses the shuffle to 8 rows"),
    ("udf_arrow_token_stats", "mapInArrow boundary: scan batches straight into pyarrow kernels, no shuffle, no pandas"),
    ("agg_time_decay_revenue", "scan + 5-group partial agg; decay weight is a codegen integer shift"),
    ("eval_lang_confusion", "classifier scan + |langs|^2 groupBy + two window sums over the tiny matrix"),
    ("dq_ks_drift", "banded ECDF: value-keyed agg, per-band windows, broadcast band offsets, bounded top-1"),
    ("graph_modularity_brand", "two broadcast label joins on the shared cached edge table; checkpointed three-consumer intermediate"),
    ("graph_random_walks", "ranked adjacency materialized once; seed-sized hop joins with linear lineage"),
    ("maintenance_targeted_delete", "_metadata.file_path pruning: only files holding doomed keys are re-read and rewritten"),
    ("eval_auc_rank", "exact Mann-Whitney AUC: rank window reads the domain-bounded score-class aggregate, never corpus rows"),
    ("eval_gains_deciles", "gains/CAP table: broadcast class-offset table + score-keyed row_number — no single-partition NTILE"),
    ("eval_knn_label_noise", "label-noise audit: probe panel broadcast against one corpus scan, vote windows keyed on probe"),
    ("eval_calibration_bins", "reliability diagram: one scan into a 10-group partial+final aggregate — no window, no join"),
    ("graph_clustering_coefficient", "per-node triangle credit: output-bounded intersection explode over the broadcast adjacency"),
    ("scan_xml_roundtrip", "XML text-source roundtrip: explicit-schema read, projected before the aggregate"),
    ("maintenance_snapshot_expire", "retention expiry: the returned plan reads only the retained latest snapshot"),
    ("pipeline_mixture_cap_rebalance", "water-filling mixture: every window over the language-sized rollup, one corpus shuffle"),
    ("eval_pr_threshold_sweep", "operating-point sweep: constant threshold table broadcast against the bounded score-class rollup"),
    # round-8 additions
    ("dedup_semantic_clustered", "SemDeDup: in-row argmax over a 1-row broadcast centroid array (zero corpus-side shuffle), one cluster-keyed exchange into the per-cluster Gram kernel"),
    ("ts_survival_km", "KM: user-keyed life-table aggregates; recursion scans the checkpointed <=12-row step table, one-row join per step"),
    ("agg_kmv_set_intersect", "KMV sketches: three TakeOrderedAndProject bottom-K passes off one membership aggregate — no global sort"),
    ("event_match_recognize_funnel", "CEP A B* C: one user-keyed exchange shared by row_number and both carry windows"),
    ("incremental_join_maintenance", "bilinear delta rule: four join terms, customer side broadcast in each, one final segment aggregate"),
    ("mm_image_resize_nn", "decode+resize: one pruned scan into mapInPandas — shuffle-free"),
    ("image_jpeg_probe_features", "JPEG marker walk + scan unstuffing: one pruned scan into mapInPandas — shuffle-free"),
    # round-9 additions
    ("dedup_semantic_eval", "SemDeDup audit: cluster-size aggregate (no pair materialization) + kernel hit sum + block-paired exact referee"),
    ("ann_pq_topk", "PQ ANN: in-row encode against a 1-row broadcast codebook, LUT equi-join + pivoted ADC adds, bounded shortlist + exact re-rank"),
    ("ts_acf_lags", "ACF: one day-grain shuffle, then broadcast stats/lag-spine + self-equi-join on the bounded daily table"),
    ("image_tiff_exif_probe", "TIFF IFD walk (both byte orders): one pruned scan into mapInPandas — shuffle-free"),
    ("mm_audio_resample_nn", "decode+resample: one pruned scan into mapInPandas — shuffle-free"),
    ("streaming_dedup_within_watermark", "watermark-bounded streaming dedup; returned plan scans the append-sink parquet"),
    ("embedding_top_component", "power iteration: returned plan is the collected 64-row component (LocalTableScan); the per-iteration matvec is scan -> posexplode -> dim-keyed hash agg, cost = fixed job overhead x iterations"),
    ("dedup_semantic_multiprobe", "multi-probe SemDeDup: top-2 in-row folds over the 1-row broadcast centroid array (zero corpus-side exchange), narrow probe explode, one cluster-keyed exchange into the pair kernel, distinct-OR of pair verdicts"),
    ("ann_ivfadc_topk", "IVFADC: probed-cells broadcast join prunes the corpus before the ADC LUT equi-join; shortlist + exact re-rank unchanged from PQ"),
    ("sample_importance_dsir", "DSIR importance selection: bigram explode, 64-row bucket model broadcast back, per-row threshold — no global rank"),
    ("image_gif_lzw_decode", "GIF LZW: real entropy decode in shuffle-free mapInPandas over one pruned scan"),
    ("agg_hll_portable_estimate", "portable HLL: two hash aggregates over constant 64-register state; one exact-int harmonic sum"),
    ("graph_louvain_move_pass", "Louvain move pass: node-keyed candidate joins + argmax window, division-free integer gains"),
    ("streaming_join_left_outer_expiry", "stream-stream left outer join; the returned plan is the margin-filtered read-back of the epoch sink"),
    # round-8: crossed the 1.5 s coverage threshold in the r8 bench run
    ("knn_maxsim_multivector", "MaxSim re-rank: broadcast probe sub-vector bag, map-side per-(q,d,qsub) max, fixed-order sum — pair fan-out linear in corpus"),
    ("maintenance_compact_roundtrip", "small-file compaction: coalesce rewrite (narrow, no shuffle); returned plan scans the compacted files"),
    ("q18_large_volume_customers", "TPC-H Q18: semi-join on the HAVING subquery before the 3-way join; bounded top-100"),
    ("event_attribution_time_decay", "recency-weighted credits: user-keyed equi-join + three purchase-keyed windows, integer-shift weights"),
    ("ts_rolling_trend_28d", "rolling OLS: five RANGE-frame moments sharing one type-keyed sort over the daily rollup"),
    ("sql_shared_grouping_sets", "explicit GROUPING SETS: one Expand into a single partial+final aggregate, one fact scan"),
    ("sql_shared_lateral", "LATERAL top-1 decorrelated to WindowGroupLimit — never a per-outer-row rescan"),
    # round-6 (VERDICT r5 ask #7): every query >1.5 s in bench_full.json gets
    # a snapshot — the only plan defect ever shipped (BFS, r4) was in an
    # un-snapshotted query.  Coverage is asserted in main().
    ("graph_pagerank_int", "per-iteration join+agg on the cached edge partitioning; integer mass, linear lineage via checkpointed ranks"),
    ("dedup_clusters", "star-contraction components: per-round checkpoint cuts lineage, O(log n) rounds, node-keyed exchanges only"),
    ("dedup_clusters_twostar", "alternating big-star/small-star rounds; 2-scalar convergence probe reads a count, not the cluster table"),
    ("scan_textkv_source", "Python DataSource reader: newline-aligned byte-range partitions stream k<TAB>v lines; Arrow-batched both directions"),
    ("streaming_view_purchase_join", "stream-stream interval join with watermarks both sides; state bounded by the join window"),
    ("streaming_late_data_audit", "watermark audit: on-time rows aggregate in-stream, late rows land in a side output, totals reconciled"),
    ("streaming_dim_refresh_enrich", "foreachBatch dim refresh: each micro-batch broadcast-joins the CURRENT dim snapshot"),
    ("streaming_pyds_replay", "Python DataSource STREAM reader: offset-tracked rate-limited partitions replay the parquet as micro-batches"),
    ("ann_ivf_topk", "IVF: centroid assignment prunes to nprobe cells; per-cell exact scoring, bounded rerank heap"),
    ("join_bucketed_colocated", "bucketed co-located join: both sides pre-bucketed on the key — no exchange before the join"),
    ("agg_collation_ci_groups", "UNICODE_CI grouping: collated key exchange + binary-MIN representative, one aggregate pass"),
    ("scan_orc_roundtrip", "ORC write/read roundtrip: pushdown + pruned ReadSchema on the ORC scan, parquet-oracle equality"),
    ("ngram_jaccard_pairs", "DELIBERATE quadratic differential baseline for the banded path — bounded by the blocking key"),
    ("embedding_near_dup", "DELIBERATE exact all-pairs cosine baseline for the LSH path — bounded probe set"),
    # round-7: queries that crossed the 1.5 s coverage threshold in a
    # CPU-contended bench run — snapshotted so coverage is robust to
    # in-suite timing noise, not just to steady-state costs
    ("agg_moments", "exact-decimal variance/stddev/corr: one partial+final aggregate, decimal-domain sums"),
    ("doc_containment_pairs", "checkpointed shingle table + ordered-pair join; both directions from one intersection count"),
    ("dq_fact_detail_reconcile", "fact-side rollup vs detail-side rollup, one equi-join on the reconcile key"),
    ("graph_basket_lift_top", "order-key self-join pair counts + min-support HAVING before any dim join; bounded top-N"),
    ("q2_min_cost_supplier", "TPC-H Q2: correlated min-cost subquery decorrelated to a window-MIN over the pre-aggregated cost table"),
    ("udaf_tdigest_quantiles", "applyInPandas partial t-digests per bucket, <=delta centroids cross the merge shuffle"),
    ("contamination_check", "benchmark gram set broadcast; corpus grams deduped array-side before the explode — zero extra shuffle"),
    ("graph_degree_assortativity", "two broadcast degree joins on the shared cached edge table; exact-integer covariance identity"),
    ("sample_coreset_kcenter", "K bounded rounds: cached corpus scan x broadcast <=K-row center set; argmax is TakeOrderedAndProject top-1"),
    ("graph_harmonic_centrality", "per-seed bounded-radius BFS: relax-then-min rounds keyed on (seed, node); per-round materialize"),
    ("dedup_golden_record", "ER survivorship: bounded variant explode + three rule windows sharing one cluster-keyed exchange"),
    ("doc_repetition_signals", "Gopher repetition signals: gram ladders built array-side, one doc-keyed aggregate pass"),
    ("join_skew_salted", "manual skew salting: build side replicated xSALT, probe salt from pmod(hash) — one hot key spreads over SALT reducers"),
    ("streaming_session_windows", "session_window aggregation on the event replay; watermark bounds state; epoch parquet sink"),
    ("streaming_stateful_user_totals", "applyInPandasWithState running counter; update-mode epochs reconciled by max(n) per user"),
    # round-7 registrations: the real-codec quartet (VERDICT r6 ask #3)
    ("audio_decode_features", "real WAV decode in mapInPandas Arrow batches — shuffle-free, embarrassingly parallel"),
    ("image_decode_features", "real PNG chunk/CRC/inflate/unfilter in mapInPandas — shuffle-free; pure-Python unfilter is the constant factor"),
    ("video_probe_features", "ISO-BMFF box walk in mapInPandas — container metadata only, no frame decode, no shuffle"),
    ("zip_manifest_features", "stdlib zipfile central-directory walk + per-member CRC verify per blob — one manifest row per archive, never exploded into the shuffle"),
    ("agg_equidepth_histogram", "exact NTILE via distributed_ntile (range repartition + prefix offsets) — no single-partition window since r7"),
    ("layout_zorder_stats", "Morton-key audit; buckets via distributed_ntile over zval — the range exchange IS the production Z-order shuffle"),
]


def check_coverage() -> None:
    """Every query >1.5 s in the sf0.1 bench sidecar must have a section
    (VERDICT r5 ask #7) — fail generation, not review, when one is missing."""
    import json

    sidecar = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_full.json",
    )
    if not os.path.exists(sidecar):
        return
    data = json.load(open(sidecar))
    if data.get("sf") not in (None, 0.1, "0.1"):  # only the sf0.1 protocol counts
        return
    covered = {name for name, _ in HEADLINERS}
    slow = sorted(
        k for k, v in data["queries"].items() if v > 1.5 and k not in covered
    )
    if slow:
        # SystemExit, not assert: the gate must survive ``python -O``
        # (the same hazard the textkv writer guards against).
        raise SystemExit(
            f"queries >1.5s in bench_full.json without a PLANS.md section: {slow}"
        )


def main() -> None:
    sf_dir = "/root/testdata/sf0.01"
    registry.load_all()
    names = [n for n, _ in HEADLINERS]
    dups = sorted({n for n in names if names.count(n) > 1})
    if dups:
        # a duplicate renders the same query twice with (likely) stale
        # prose on one copy — the r7 review found exactly this
        raise SystemExit(f"duplicate HEADLINERS entries: {dups}")
    check_coverage()
    spark = get_spark("gen-plans", cpus=4, shuffle_partitions=8)
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `python scripts/gen_plans.py` (sf0.01, local[4], AQE on).",
        "What to look for per plan is noted inline; the machine-checked",
        "versions of these properties live in tests/test_plans.py.",
        "",
    ]
    for name, note in HEADLINERS:
        df = registry.QUERIES[name](spark, sf_dir)
        out.append(f"## {name}\n\n*{note}*\n")
        out.append("```")
        out.append(physical_plan(df).strip())
        out.append("```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
