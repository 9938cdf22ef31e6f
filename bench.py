#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is executed to completion via a count-style action (the driver
never sees the rows; we still force full materialization of the result).

Outlier self-adjudication (VERDICT r6 ask #4): any query whose in-suite
best-of-N exceeds the PRIOR run's sidecar number by >1.3x is re-measured
standalone — best-of-4 in a FRESH subprocess (own JVM, no suite cache
pressure) — and both numbers land in the artifact, so in-suite noise is
adjudicated by data, not NOTES.md prose.
``python bench.py --standalone <query>`` is that subprocess entry point.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoopmapreduce_spark import registry  # noqa: E402
from hadoopmapreduce_spark.session import get_spark  # noqa: E402

SIDECAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")

# 1-min loadavg above which a starting bench run is considered contaminated
# (VERDICT r8 ask #5); override for CI boxes with a different idle floor
LOAD_GATE_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0"))

# outlier criteria: >1.3x the prior sidecar AND slow enough that the delta
# is not timer noise; cap the re-runs so a pathological round stays bounded
OUTLIER_RATIO = 1.3
OUTLIER_FLOOR_SEC = 0.75
OUTLIER_MAX_RERUNS = 8

# byte budget for the PRINTED summary line: the driver's artifact keeps a
# ~2000-char stdout tail, so a longer line loses its head and the round's
# "parsed" payload with it (BENCH_r07..r09).  1800 leaves margin for the
# trailing newline and any stray progress-bar bytes on the same capture.
LINE_BUDGET = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BUDGET", "1800"))

# Canary normalization (VERDICT r11 ask #2): three gate-ok strict runs of
# IDENTICAL code read 614/410/435 s — the guest-side loadavg gate cannot see
# host co-tenancy, so "keep the fastest" was a biased estimator adjudicated
# by prose every round.  The fix: re-run ONE fixed cheap query every
# CANARY_EVERY suite queries and record the series in the artifact.  The
# canary's drift over the run IS the host-load signal; a canary-normalized
# total (each inter-sample segment scaled by canary_min / bracketing-canary)
# estimates the idle-host-equivalent wall so cross-round comparison needs no
# hand adjudication.  ctr_flagship is the canary: sub-second, cache-free,
# stable across all 11 rounds of history.
CANARY_QUERY = "ctr_flagship"
CANARY_EVERY = int(os.environ.get("SPARK_GRAFT_BENCH_CANARY_EVERY", "25"))


def _run_canary(spark, sf_dir: str) -> float:
    """Best-of-2 wall for the canary query (warm JVM; noop sink like the
    suite).  Returns -1.0 on failure so normalization can degrade to raw."""
    fn = registry.QUERIES.get(CANARY_QUERY)
    if fn is None:
        return -1.0
    best = -1.0
    for _ in range(2):
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:
            print(f"bench: canary run failed: {e}", file=sys.stderr)
            return -1.0
        dt = time.perf_counter() - t0
        best = dt if best < 0 else min(best, dt)
    return best


def canary_normalize(
    segment_walls: list[float], series: list[list[float]]
) -> float | None:
    """Idle-host-equivalent total: scale each inter-sample segment's summed
    query wall by canary_min / mean(bracketing canary samples).

    ``series`` is [[after_n_queries, canary_sec], ...] with the sample at
    index k closing segment k (segment k's queries ran between sample k-1
    and sample k; segment 0 is opened by the post-warm-up baseline sample).
    Returns None when any sample failed (<=0) — raw totals stand alone."""
    samples = [s[1] for s in series]
    if len(samples) < 2 or any(t <= 0 for t in samples) or len(segment_walls) != len(samples) - 1:
        return None
    lo = min(samples)
    total = 0.0
    for k, wall in enumerate(segment_walls):
        bracket = (samples[k] + samples[k + 1]) / 2.0
        total += wall * (lo / bracket)
    return round(total, 3)


def run_standalone(name: str) -> None:
    """Subprocess mode: best-of-4 for ONE query in a fresh JVM; prints one
    JSON line {"query": ..., "best": ...} on stdout."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    spark = get_spark("hadoopmapreduce-spark-bench-standalone")
    fn = registry.QUERIES[name]
    best = None
    for _ in range(4):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(json.dumps({"query": name, "best": round(best, 3)}))


def adjudicate_outliers(
    timings: dict[str, float], prior: dict, sf: str
) -> dict[str, dict[str, float]]:
    """Fresh-process re-measurement for in-suite regressions vs the prior
    sidecar.  Returns {query: {in_suite, prior, standalone}}."""

    def _sf_key(v):  # "1" and 1.0 are the same protocol; compare as floats
        try:
            return float(v)
        except (TypeError, ValueError):
            return str(v)

    if _sf_key(prior.get("sf")) != _sf_key(sf):  # different protocol
        return {}
    prev: dict[str, float] = prior.get("queries") or {}
    outliers = sorted(
        (
            n
            for n, t in timings.items()
            if t > OUTLIER_FLOOR_SEC
            and prev.get(n, 0) > 0
            and t > OUTLIER_RATIO * prev[n]
        ),
        key=lambda n: -(timings[n] / prev[n]),
    )
    dropped = outliers[OUTLIER_MAX_RERUNS:]
    if dropped:
        print(f"bench: outlier re-run cap hit; not re-run: {dropped}", file=sys.stderr)
    result: dict[str, dict[str, float]] = {}
    for n in outliers[:OUTLIER_MAX_RERUNS]:
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--standalone", n],
                capture_output=True,
                text=True,
                timeout=600,
            )
            line = proc.stdout.strip().splitlines()[-1]
            standalone = float(json.loads(line)["best"])
        except Exception as e:
            print(f"bench: standalone re-run of {n} failed: {e}", file=sys.stderr)
            standalone = -1.0
        result[n] = {
            "in_suite": timings[n],
            "prior": prev[n],
            "standalone": standalone,
        }
    return result


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    registry.load_all()
    # the PRIOR run's sidecar (committed from the previous round) is the
    # outlier baseline — read it before this run overwrites the file
    prior: dict = {}
    if os.path.exists(SIDECAR):
        try:
            prior = json.load(open(SIDECAR))
        except Exception:
            prior = {}
    # ambient-load attribution (VERDICT r7 ask #5): the sf0.1 totals on a
    # shared host swing 10-15% with load; recording 1/5/15-min loadavg
    # before and after makes a contaminated run self-evident in the
    # artifact without prose.
    load_before = [round(v, 2) for v in os.getloadavg()]
    # ambient-load GATE (VERDICT r8 ask #5): r8's driver artifact ran at
    # loadavg ~4 and the round's only >0.3s "regression" dissolved under
    # the fresh-process outlier re-measurement.  A run started above the
    # threshold is self-flagging (load_gate="contaminated" in the artifact
    # and a stderr warning); under --strict it refuses to run at all so a
    # committed sidecar can never silently carry contaminated numbers.
    load_gate = "ok" if load_before[0] <= LOAD_GATE_MAX else "contaminated"
    if load_gate != "ok":
        msg = (
            f"bench: loadavg {load_before[0]} exceeds gate "
            f"{LOAD_GATE_MAX} — timings will reflect ambient load"
        )
        if "--strict" in sys.argv:
            print(f"{msg}; refusing under --strict", file=sys.stderr)
            sys.exit(2)
        print(f"{msg}; annotating artifact", file=sys.stderr)
    spark = get_spark("hadoopmapreduce-spark-bench")

    timings: dict[str, float] = {}
    # warm the JVM + parquet footer caches once so per-query numbers measure
    # the query, not session startup
    try:
        registry.QUERIES["ctr_flagship"](spark, sf_dir).count()
    except Exception as e:
        print(f"bench: warm-up failed ({e}); continuing", file=sys.stderr)

    cold: dict[str, float] = {}
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # canary baseline sample opens segment 0 (post-warm-up, pre-suite)
    canary_series: list[list[float]] = [[0, round(_run_canary(spark, sf_dir), 3)]]
    segment_walls: list[float] = [0.0]
    n_done = 0
    for name in sorted(registry.QUERIES):
        fn = registry.QUERIES[name]
        best = None
        for i in range(runs):  # best-of-N: first run pays JIT/codegen warm-up
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # record failures, don't kill the bench
                best = -1.0
                print(f"bench: {name} FAILED: {e}", file=sys.stderr)
                break
            dt = time.perf_counter() - t0
            if i == 0:
                cold[name] = round(dt, 3)
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        if best >= 0:
            segment_walls[-1] += best
        n_done += 1
        if n_done % CANARY_EVERY == 0:
            canary_series.append([n_done, round(_run_canary(spark, sf_dir), 3)])
            segment_walls.append(0.0)
    # closing sample bounds the last (possibly short) segment
    canary_series.append([n_done, round(_run_canary(spark, sf_dir), 3)])

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    cold_total = round(sum(t for t in cold.values() if t >= 0), 3)
    n_failed = sum(1 for t in timings.values() if t < 0)

    # Round-1 lesson (BENCH_r01 "parsed": null): a line embedding all ~90
    # per-query timings was long enough to be truncated by the driver's
    # capture.  Print a SHORT line with only the headline queries; the full
    # per-query map goes to a sidecar file next to this script.
    headline = [
        "ctr_flagship", "q3_shipping_priority", "q5_local_supplier_volume",
        "minhash_lsh_dedup", "simhash_dedup", "knn_cosine_topk",
        "ann_lsh_topk", "exact_dedup", "topk_terms", "lang_id_markers",
        "sessionize_events", "agg_pricing_summary",
        "graph_copurchase_triangles", "graph_pagerank_int",
        "ts_gapfill_locf", "join_bucketed_colocated",
        "graph_bfs_distances", "join_bloom_prefilter",
        "event_attribution_last_touch",
        # round-5 continuation families
        "dedup_substring_spans", "mm_cdc_chunking", "join_interval_overlap",
        "agg_weighted_quantile_exact", "join_partition_pruned_dynamic",
        "window_running_distinct", "sql_shared_revenue",
        # fifth-session families
        "fin_fifo_inventory_match", "graph_neighbor_jaccard_top",
        "sort_collation_unicode", "graph_ppr_seeded", "dq_chisq_drift",
        "dedup_linkage_score_fs",
        # sixth-session families
        "dedup_chunk_rewrite", "text_bpe_apply_tokenize",
        "sample_poisson_bootstrap", "dq_ks_drift", "graph_random_walks",
        "scan_orc_roundtrip",
        # seventh-session families
        "eval_auc_rank", "eval_knn_label_noise",
        "graph_clustering_coefficient", "scan_xml_roundtrip",
        "pipeline_mixture_cap_rebalance",
        # round-6: the bounded-top-k rewrite (VERDICT r5 ask #2) — surfaced
        # so the driver artifact records its post-fix cost
        "pmi_top_pairs",
        # round-6 second session: the Arrow/byte-range/pushdown rework of
        # the Python Data Source paths — surfaced for the same reason
        "scan_textkv_source", "sink_textkv_writer_roundtrip",
        "streaming_pyds_replay",
        # round-7: the real-codec quartet registrations + the hardened
        # schema-evolution scan (the r6 red, re-checked this round)
        "audio_decode_features", "image_decode_features",
        "video_probe_features", "zip_manifest_features",
        "scan_schema_evolution_union",
        # round-8: the five new operators + the six late-r7 registrations
        # the r8 window adjudicates
        "dedup_semantic_clustered", "ts_survival_km",
        "agg_kmv_set_intersect", "event_match_recognize_funnel",
        "incremental_join_maintenance", "mm_image_resize_nn",
        "image_jpeg_probe_features",
        "text_lm_surprise",
        "graph_harmonic_centrality", "dedup_golden_record",
        "join_temporal_scd2_fact", "sample_neyman_allocation",
        "ts_time_weighted_avg",
        # round-9 registrations + the r9-deferred four the r10 window
        # adjudicates
        "dedup_semantic_eval", "ann_pq_topk", "ts_acf_lags",
        "image_tiff_exif_probe", "mm_audio_resample_nn",
        "dq_k_anonymity", "embedding_top_component", "ts_holt_linear",
        "scan_fixed_width_source",
        # round-10 registrations
        "dedup_semantic_multiprobe", "ann_ivfadc_topk",
        "sample_importance_dsir", "image_gif_lzw_decode",
        "streaming_join_left_outer_expiry", "agg_hll_portable_estimate",
        "ts_changepoint_cusum", "eval_rouge2_pairs",
        "graph_louvain_move_pass", "eval_matryoshka_truncation",
        # round-11 registrations the r12 window adjudicates
        "streaming_join_right_outer_expiry",
        "streaming_join_full_outer_expiry", "graph_louvain_phase1",
        "graph_louvain_phase2_aggregate", "image_gif_interlaced_decode",
        "eval_mrr_label_match", "pipeline_temperature_mix",
        # round-12 registrations
        "graph_louvain_multilevel", "text_bm25_topk",
        "image_bmp_rle8_decode", "eval_bleu_components",
        "graph_leiden_refine",
    ]
    outliers = adjudicate_outliers(timings, prior, sf)
    samples = sorted(s[1] for s in canary_series if s[1] > 0)
    canary_min = samples[0] if samples else -1.0
    canary_med = samples[len(samples) // 2] if samples else -1.0
    norm_total = canary_normalize(segment_walls, canary_series)
    canary = {
        "query": CANARY_QUERY,
        "every": CANARY_EVERY,
        "series": canary_series,
        "min": canary_min,
        "median": canary_med,
        # drift >~1.3 over the run means the host sped up/slowed mid-suite —
        # the co-tenancy signature the loadavg gate can't see
        "drift": round(canary_med / canary_min, 3) if canary_min > 0 else -1.0,
        "normalized_total": norm_total,
    }
    summary = {
        "metric": "full_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {q: timings[q] for q in headline if q in timings},
        "n_queries": len(timings),
        "n_failed": n_failed,
        "cold_total": cold_total,
        "outliers": outliers,
        "loadavg_before": load_before,
        "loadavg_after": [round(v, 2) for v in os.getloadavg()],
        "load_gate": load_gate,
        "canary_min": canary_min,
        "canary_drift": canary["drift"],
        "canary_norm_total": norm_total,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    with open(SIDECAR, "w") as f:
        json.dump(
            {**summary, "queries": timings, "cold": cold, "canary": canary},
            f,
            indent=1,
        )
    # Round-9 lesson (BENCH_r07..r09 "parsed": null): the driver keeps only
    # the last ~2000 chars of stdout, and the printed line had outgrown that
    # (60 headline entries + up to 8 outlier-detail dicts), so three rounds
    # of artifacts lost their parsed payload.  The PRINTED line now carries
    # an outlier COUNT (full detail stays in the sidecar) and elides the
    # OLDEST headline entries until the line fits the capture budget —
    # "queries_elided" records how many were dropped, and every elided
    # number is still in bench_full.json.
    # Deep-copy the queries dict too: the elision loop below deletes keys
    # from it, and a shallow copy would mutate summary["queries"] in place.
    printed = {**summary, "queries": dict(summary["queries"])}
    printed["outliers"] = len(outliers)
    elided = 0
    line = json.dumps(printed)
    while len(line) > LINE_BUDGET and printed["queries"]:
        first = next(iter(printed["queries"]))
        del printed["queries"][first]
        elided += 1
        printed["queries_elided"] = elided
        line = json.dumps(printed)
    print(line)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--standalone":
        run_standalone(sys.argv[2])
    else:
        main()
