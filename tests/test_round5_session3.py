"""Behavioral invariants for the third round-5 session's operators —
properties the differential oracle cannot express (conservation laws,
monotonicity, strategy equivalence)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_decile_lift_invariants(spark, sf_dir):
    from hadoopmapreduce_spark.operators.aggregates import agg_decile_lift_table

    rows = {r["decile"]: r for r in agg_decile_lift_table(spark, sf_dir).collect()}
    assert sorted(rows) == list(range(1, 11))
    sizes = [rows[d]["n_customers"] for d in sorted(rows)]
    # NTILE: tile sizes differ by at most 1 and are non-increasing
    assert max(sizes) - min(sizes) <= 1
    assert sizes == sorted(sizes, reverse=True)
    shares = [rows[d]["cum_share_ppm"] for d in sorted(rows)]
    assert shares == sorted(shares), "cumulative share must be monotone"
    assert shares[-1] == 1_000_000
    # lift: the top decile must out-earn the bottom one
    assert rows[1]["decile_revenue"] > rows[10]["decile_revenue"]


def test_minhash_eval_bounds(spark, sf_dir):
    from hadoopmapreduce_spark.operators.dedup import dedup_minhash_eval

    r = dedup_minhash_eval(spark, sf_dir).collect()[0]
    assert r["n_hits"] <= r["n_candidates"]
    assert r["n_hits"] <= r["n_truth"]
    # banding at (r=3, b=24) has ~1-2e-14 recall on the fixture's >=0.9-j
    # duplicates — anything below full recall means the banding broke
    assert r["recall_ppm"] == 1_000_000
    assert 0 <= r["precision_ppm"] <= 1_000_000


def test_linear_attribution_conserves_credit(spark, sf_dir):
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.windows import event_attribution_linear

    out = event_attribution_linear(spark, sf_dir)
    total = out.agg(F.sum("micro_credit")).collect()[0][0]
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    # largest-remainder rounding conserves exactly 1e6 per purchase
    assert total == 1_000_000 * n_purchases


def test_incremental_corpus_partitions_delta(spark, sf_dir):
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.dedup import dedup_incremental_corpus

    out = {r["status"]: r for r in dedup_incremental_corpus(spark, sf_dir).collect()}
    n_delta = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .count()
    )
    assert sum(r["n_docs"] for r in out.values()) == n_delta
    assert set(out) <= {"exact_dup", "near_dup", "new"}
    assert "new" in out and out["new"]["n_docs"] > 0


def test_max_drawdown_on_signed_flows(spark):
    from hadoopmapreduce_spark.operators.windows import max_drawdown
    from pyspark.sql import functions as F

    # equity: 10 -> 30 -> 15 -> 25 -> 5: peak 30, max drawdown 25
    flows = [(1, "2024-01-01", 10), (1, "2024-01-02", 20),
             (1, "2024-01-03", -15), (1, "2024-01-04", 10),
             (1, "2024-01-05", -20)]
    daily = spark.createDataFrame(
        flows, ["book", "d", "flow_cents"]
    ).withColumn("d", F.to_date("d"))
    r = max_drawdown(daily).collect()[0]
    assert r["max_drawdown_cents"] == 25
    assert r["peak_cents"] == 30
    assert r["n_days"] == 5


def test_gini_and_hhi_bounds(spark, sf_dir):
    from hadoopmapreduce_spark.operators.aggregates import (
        agg_gini_coefficient,
        agg_herfindahl_index,
    )

    g = agg_gini_coefficient(spark, sf_dir).collect()[0]
    assert 0 <= g["gini_ppm"] < 1_000_000
    h = agg_herfindahl_index(spark, sf_dir).collect()[0]
    # k segments: 1e6/k <= HHI <= 1e6 (floor-division slack on the floor)
    assert 1_000_000 // h["n_segments"] - 1 <= h["hhi_ppm"] <= 1_000_000
