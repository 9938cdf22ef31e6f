"""Round-7 second-session operators: behavioral invariants beyond the
DuckDB parity gate (which tests/test_parity.py applies to all of these).

* knn_maxsim_multivector — late-interaction MaxSim re-rank
* graph_label_propagation — deterministic synchronous LPA
* pipeline_pii_scrub — redaction removes every detected span
* sample_coreset_kcenter — farthest-point coverage radius is monotone

(A Count-Min token audit written this session was REMOVED before
registration review completed: ``agg_cms_heavy_hitters`` already covers
the CMS-audit shape — same sketch, same md5-prefix buckets, same
exact-vs-estimate report — and a second instance would be padding.)
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hadoopmapreduce_spark import registry


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all()


def test_maxsim_bounds_and_shape(spark, sf_dir):
    rows = registry.QUERIES["knn_maxsim_multivector"](spark, sf_dir).collect()
    assert len(rows) == 10 * 5  # N_QUERIES x TOP_K
    for r in rows:
        # sum of 4 cosines: each in [-1, 1]
        assert -4.0 - 1e-9 <= r["maxsim"] <= 4.0 + 1e-9
        assert 1 <= r["rk"] <= 5
        assert r["neighbor_id"] != r["query_id"]  # self excluded
    # within a query, rank order matches maxsim order (ties by neighbor_id)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rk"])
        for a, b in zip(rs, rs[1:]):
            assert (a["maxsim"], -a["neighbor_id"]) >= (
                b["maxsim"],
                -b["neighbor_id"],
            )


def test_maxsim_dominates_single_vector_cosine(spark, sf_dir):
    """MaxSim >= plain full-vector cosine * SUBVECS is NOT an identity, but
    MaxSim of a vector against itself (were it allowed) would be exactly
    SUBVECS; instead pin the weaker invariant that every reported score is
    achieved by genuine per-subvector maxima: recompute one (query,
    neighbor) score by brute force and compare exactly."""
    from hadoopmapreduce_spark.operators.similarity import (
        MAXSIM_SUBDIM,
        MAXSIM_SUBVECS,
        _embeddings,
    )
    import math

    top = registry.QUERIES["knn_maxsim_multivector"](spark, sf_dir).collect()[0]
    vecs = {
        r["vec_id"]: r["v"]
        for r in _embeddings(spark, sf_dir)
        .filter(F.col("vec_id").isin([top["query_id"], top["neighbor_id"]]))
        .collect()
    }

    def subs(v):
        return [
            v[i * MAXSIM_SUBDIM : (i + 1) * MAXSIM_SUBDIM]
            for i in range(MAXSIM_SUBVECS)
        ]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    q, d = subs(vecs[top["query_id"]]), subs(vecs[top["neighbor_id"]])
    expect = sum(max(cos(qs, ds) for ds in d) for qs in q)
    assert abs(expect - top["maxsim"]) < 1e-9


def test_label_propagation_census_conserves_nodes(spark, sf_dir):
    # the SAME shared edge builder the operator uses — not a third copy
    from hadoopmapreduce_spark.operators.graph import (
        thresholded_copurchase_edges,
    )

    out = registry.QUERIES["graph_label_propagation"](spark, sf_dir)
    rows = out.collect()
    edges = thresholded_copurchase_edges(spark, sf_dir)
    n_nodes = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .distinct()
        .count()
    )
    assert sum(r["n_members"] for r in rows) == n_nodes
    assert all(r["n_members"] >= 1 for r in rows)
    # labels are node ids — every label must be a real node id
    node_ids = {
        r["x"]
        for r in edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .distinct()
        .collect()
    }
    assert all(r["label"] in node_ids for r in rows)


def test_pii_scrub_redaction_is_complete(spark, sf_dir):
    """Re-run the detectors over the REDACTED text: zero residual matches
    — the audit counts and the rewrite must agree."""
    from hadoopmapreduce_spark.operators.textops import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
        PII_SSN_RE,
    )
    from hadoopmapreduce_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
        ).alias("t"),
    )
    red = aug.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
                    PII_PHONE_RE,
                    "<PHONE>",
                ),
                PII_SSN_RE,
                "<SSN>",
            ),
            PII_IP_RE,
            "<IP>",
        ).alias("red")
    )
    residual = red.select(
        sum(
            F.sum(F.regexp_count(F.col("red"), F.lit(p)))
            for p in (PII_EMAIL_RE, PII_PHONE_RE, PII_SSN_RE, PII_IP_RE)
        ).alias("n")
    ).collect()[0]["n"]
    assert residual == 0
    # and the registered rollup sees at least the injected emails
    out = {
        r["lang"]: r
        for r in registry.QUERIES["pipeline_pii_scrub"](spark, sf_dir).collect()
    }
    injected_emails = d.filter(F.col("doc_id") % 3 == 0).count()
    assert sum(r["n_emails"] for r in out.values()) >= injected_emails


def test_kcenter_coverage_radius_monotone(spark, sf_dir):
    rows = sorted(
        registry.QUERIES["sample_coreset_kcenter"](spark, sf_dir).collect(),
        key=lambda r: r["pick"],
    )
    assert [r["pick"] for r in rows] == list(range(8))
    # seed is MIN(vec_id) — literal 0 on the driver fixtures, but derive
    # it so the test holds on 1-based fixture generations too
    from hadoopmapreduce_spark.operators.similarity import _embeddings

    seed = _embeddings(spark, sf_dir).agg(F.min("vec_id")).collect()[0][0]
    assert rows[0]["vec_id"] == seed and rows[0]["dist2"] == 0.0
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)  # no re-picks
    # greedy FPS: the farthest remaining distance never increases
    d = [r["dist2"] for r in rows[1:]]
    assert all(a >= b - 1e-9 for a, b in zip(d, d[1:])), d
    assert all(x > 0 for x in d)


def test_distributed_ntile_matches_window_ntile(spark):
    """Differential: distributed_ntile must be bit-identical to
    F.ntile over the same total order — across remainder cases
    (n % k != 0), duplicate keys, and n < k."""
    from pyspark.sql import Window

    from hadoopmapreduce_spark.functions.ranks import distributed_ntile

    cases = [
        (103, 10),  # n % k = 3
        (40, 8),    # n % k = 0
        (5, 10),    # n < k
        (64, 7),
    ]
    for n, k in cases:
        # duplicate-heavy values force ties; id is the tie-break
        df = spark.range(n).select(
            (F.col("id") % 9).alias("val"), F.col("id").alias("tid")
        )
        expect = {
            (r["val"], r["tid"]): r["b"]
            for r in df.withColumn(
                "b", F.ntile(k).over(Window.orderBy("val", "tid"))
            ).collect()
        }
        got = {
            (r["val"], r["tid"]): r["bucket"]
            for r in distributed_ntile(df, k, ["val", "tid"]).collect()
        }
        assert got == expect, (n, k)


def test_perf_weak_ntile_queries_have_no_global_window(spark, sf_dir):
    """The two former perf-weak global-NTILE queries must now plan with
    NO single-partition exchange AT ALL (their windows partition by the
    range-partition id, their aggregates by the bucket key — nothing in
    either plan legitimately funnels to one reducer), and the range
    exchange that replaces the global sort must be present."""
    from hadoopmapreduce_spark.operators.aggregates import (
        agg_equidepth_histogram,
    )
    from hadoopmapreduce_spark.operators.layout import layout_zorder_stats
    from hadoopmapreduce_spark.plans import physical_plan

    for fn in (agg_equidepth_histogram, layout_zorder_stats):
        plan = physical_plan(fn(spark, sf_dir))
        assert "Exchange SinglePartition" not in plan, fn.__name__
        # since the ADVICE-r7 hardening the range exchange runs inside
        # distributed_ntile's EAGER localCheckpoint (lineage severed so
        # eviction can't silently re-sample); the returned plan scans
        # the checkpointed RDD instead of re-shuffling
        assert (
            "rangepartitioning" in plan.lower()
            or "existingrdd" in plan.lower()
        ), (fn.__name__, plan)


def test_lm_surprise_invariants(spark, sf_dir):
    """Surprise is a floor-log2 likelihood ratio on exact counts: every
    per-doc sum is >= 0 (c_xy <= c(w1) always), the x1000 mean matches
    the integer-division identity, and the result is the top-20 by
    (surprise_x1000 DESC, doc_id)."""
    rows = registry.QUERIES["text_lm_surprise"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert r["surprise_sum"] >= 0
        assert r["n_bigrams"] >= 1
        assert (
            r["surprise_x1000"]
            == r["surprise_sum"] * 1000 // r["n_bigrams"]
        )
    keys = [(-r["surprise_x1000"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_harmonic_centrality_invariants(spark, sf_dir):
    """Per-seed harmonic sums: exactly HARMONIC_SEEDS rows; the seed with
    more reached nodes at the same radius can't have a lower bound than
    n_reached * (1e6 div radius); every ppm sum <= n_reached * 1e6."""
    from hadoopmapreduce_spark.operators.graph import (
        HARMONIC_RADIUS,
        HARMONIC_SEEDS,
    )

    rows = registry.QUERIES["graph_harmonic_centrality"](
        spark, sf_dir
    ).collect()
    assert len(rows) == HARMONIC_SEEDS
    for r in rows:
        assert r["n_reached"] >= 1
        # each reached node contributes between 1e6/radius and 1e6
        assert (
            r["n_reached"] * (1_000_000 // HARMONIC_RADIUS)
            <= r["harmonic_ppm"]
            <= r["n_reached"] * 1_000_000
        )


def test_golden_record_rules(spark, sf_dir):
    """Survivorship rules hold row-by-row: one golden row per entity,
    n_sources = custkey%3+1, segment never null (the non-null rule),
    the truncated legacy name never survives when a longer one exists,
    and the balance comes from the most recent variant."""
    from hadoopmapreduce_spark.catalog import load_table

    rows = {
        r["custkey"]: r
        for r in registry.QUERIES["dedup_golden_record"](
            spark, sf_dir
        ).collect()
    }
    base = {
        r["c_custkey"]: r
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    assert set(rows) == set(base)
    for k, r in rows.items():
        n = k % 3 + 1
        assert r["n_sources"] == n
        assert r["golden_segment"] == base[k]["c_mktsegment"]  # non-null rule
        # longest-name rule: the 8-char truncation never wins; with the
        # upper-cased variant present (n >= 2) the tie breaks to the
        # lexicographically smaller of original vs upper
        cand = [base[k]["c_name"]]
        if n >= 2:
            cand.append(base[k]["c_name"].upper())
        assert r["golden_name"] == min(cand, key=lambda s: (-len(s), s))
        # recency rule: balance from the newest variant (src_id = n-1)
        assert r["golden_acctbal_cents"] == round(
            (base[k]["c_acctbal"] + (n - 1)) * 100
        )


def test_temporal_scd2_fact_conserves_orders(spark, sf_dir):
    """Every order matches EXACTLY ONE dimension version (the validity
    intervals partition the timeline), so the rollup's order count and
    cents total equal the fact table's."""
    from hadoopmapreduce_spark.catalog import load_table

    rows = registry.QUERIES["join_temporal_scd2_fact"](
        spark, sf_dir
    ).collect()
    o = load_table(spark, sf_dir, "orders")
    n_orders = o.count()
    total_cents = o.select(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c")
    ).collect()[0]["c"]
    assert sum(r["n_orders"] for r in rows) == n_orders
    assert sum(r["revenue_cents"] for r in rows) == total_cents
    versions = {r["version"] for r in rows}
    assert versions == {"v1", "v2"}  # both temporal branches carry traffic
    assert all(
        r["segment"] == "UPGRADED" for r in rows if r["version"] == "v2"
    )


def test_neyman_allocation_conserves_budget(spark, sf_dir):
    """Largest-remainder conservation: allocations sum to the budget
    (unless a stratum cap binds), every allocation is within [0, N_h],
    and higher N_h*S_h never gets a smaller allocation (monotone in the
    weight, modulo the +-1 remainder step)."""
    from hadoopmapreduce_spark.operators.aggregates import NEYMAN_BUDGET

    rows = registry.QUERIES["sample_neyman_allocation"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 5  # order priorities
    total = sum(r["alloc_n"] for r in rows)
    capped = any(r["alloc_n"] == r["n_total"] for r in rows)
    assert total == NEYMAN_BUDGET or (capped and total < NEYMAN_BUDGET)
    for r in rows:
        assert 0 <= r["alloc_n"] <= r["n_total"]
        assert (
            r["sampling_rate_ppm"] == r["alloc_n"] * 1_000_000 // r["n_total"]
        )
    by_w = sorted(rows, key=lambda r: r["weight_c"])
    for a, b in zip(by_w, by_w[1:]):
        assert a["alloc_n"] <= b["alloc_n"] + 1  # weight-monotone mod the +-1


def test_twap_duration_conservation(spark, sf_dir):
    """Every user-day's hold durations tile the interval from the user's
    first event to midnight exactly once, so total_dur_s equals
    sum over user-days of (day_end - first_event_sec); and the division
    contract precondition holds (values non-negative)."""
    from hadoopmapreduce_spark.catalog import load_table

    rows = registry.QUERIES["ts_time_weighted_avg"](spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.col("ts").cast("bigint").alias("sec"),
        "value",
    )
    assert e.filter(F.col("value") < 0).count() == 0  # div contract
    expect = (
        e.groupBy("user_id", "day")
        .agg(F.min("sec").alias("first_sec"))
        .select(
            "day",
            (
                F.col("day").cast("timestamp").cast("bigint")
                + 86400
                - F.col("first_sec")
            ).alias("span"),
        )
        .groupBy("day")
        .agg(F.sum("span").alias("total"))
        .collect()
    )
    expect = {r["day"]: r["total"] for r in expect}
    for r in rows:
        assert r["total_dur_s"] == expect[r["day"]], r["day"]
        assert r["twap_micro"] == (
            r["weighted_cents_s"] * 1_000_000 // r["total_dur_s"]
        )
