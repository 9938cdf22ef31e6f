"""Behavioral invariants for the fifth round-5 session's operators —
properties the differential oracle cannot express (conservation laws,
mergeability, boundary semantics, the hub-cap's active region)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def test_fifo_conserves_min_side_per_part(spark, sf_dir):
    """FIFO matching must consume EXACTLY min(total receipts, total issues)
    per part — the overlap of the two cumulative axes is [0, min(R, I)) by
    construction, so any other total means lost or double-counted stock."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.joins import fin_fifo_inventory_match

    li = load_table(spark, sf_dir, "lineitem")
    sides = (
        li.groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(
                F.when(F.col("l_linenumber") % 2 == 1, F.col("l_quantity"))
                .otherwise(0)
                .cast("bigint")
            ).alias("r_total"),
            F.sum(
                F.when(F.col("l_linenumber") % 2 == 0, F.col("l_quantity"))
                .otherwise(0)
                .cast("bigint")
            ).alias("i_total"),
        )
        .withColumn("expect", F.least("r_total", "i_total"))
    )
    got = fin_fifo_inventory_match(spark, sf_dir)
    joined = got.join(sides, "part", "outer")
    bad = joined.where(
        F.coalesce(F.col("qty_matched"), F.lit(0))
        != F.coalesce(F.col("expect"), F.lit(0))
    ).count()
    assert bad == 0, f"{bad} parts violate FIFO conservation"


def test_fifo_hand_computed_example(spark, tmp_path):
    """Crafted 4-row flow with a hand-derived matching:
    receipts [0,10)@d0, [10,15)@d2; issues [0,8)@d1, [8,12)@d3
    -> matches 8 (age 1), 2 (age 3), 2 (age 1): qty 12, qty*age 16."""
    from hadoopmapreduce_spark.operators.joins import fin_fifo_inventory_match

    d = datetime.datetime
    rows = [
        # (part, order, line, ship, qty): odd line = receipt, even = issue
        (1, 101, 1, d(2024, 1, 1), 10.0),
        (1, 102, 3, d(2024, 1, 3), 5.0),
        (1, 103, 2, d(2024, 1, 2), 8.0),
        (1, 104, 4, d(2024, 1, 4), 4.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_partkey long, l_orderkey long, l_linenumber int, "
        "l_shipdate timestamp, l_quantity double",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    out = fin_fifo_inventory_match(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_matches"], r["qty_matched"], r["qty_age_days"]) == (3, 12, 16)


def test_weighted_bottomk_is_mergeable(spark, sf_dir):
    """The distributed-reservoir property: per-group bottom-k of the union
    of two halves' bottom-k's equals the direct bottom-k (what lets every
    partition keep only k rows)."""
    from hadoopmapreduce_spark.operators.sorts import sample_weighted_bottomk
    from pyspark.sql import Window as W

    direct = sample_weighted_bottomk(spark, sf_dir)
    # rebuild the scored base the operator ranks over
    from hadoopmapreduce_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    w_cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey").alias("orderkey"),
        w_cents.alias("w_cents"),
        h.alias("h"),
    ).withColumn("pri", F.expr("h div w_cents"))

    def bottomk(df):
        rn = F.row_number().over(
            W.partitionBy("priority").orderBy("pri", "h", "orderkey")
        )
        return df.withColumn("rn", rn).where(F.col("rn") <= 20).drop("rn")

    halves = bottomk(base.where(F.col("orderkey") % 2 == 0)).unionByName(
        bottomk(base.where(F.col("orderkey") % 2 == 1))
    )
    merged = bottomk(halves).select("priority", "orderkey", "w_cents", "pri")
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_funnel_24h_ordering_and_deadlines(spark, sf_dir):
    """Every completed chain obeys the strict ordering and both 24h
    deadlines, and completions never exceed the viewing population."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.windows import event_funnel_24h

    df = event_funnel_24h(spark, sf_dir)
    day = F.expr("INTERVAL 24 HOURS")
    bad = df.where(
        ~(
            (F.col("t1") < F.col("t2"))
            & (F.col("t2") <= F.col("t1") + day)
            & (F.col("t2") < F.col("t3"))
            & (F.col("t3") <= F.col("t2") + day)
        )
    ).count()
    assert bad == 0
    e = load_table(spark, sf_dir, "events")
    n_viewers = (
        e.where(F.col("event_type") == "view").select("user_id").distinct().count()
    )
    assert df.count() <= n_viewers
    # t1 really is the user's first view
    firsts = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    assert df.join(firsts, "user_id").where(
        F.col("t1") != F.col("first_view")
    ).count() == 0


def test_zipf_fit_internally_consistent(spark, sf_dir):
    """The replicated fit columns must agree with a Python recomputation
    from the bucket census' underlying points, and the bucket census must
    cover the whole vocabulary."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.textops import text_zipf_fit, _tokens

    rows = text_zipf_fit(spark, sf_dir).collect()
    assert rows
    den = rows[0]["slope_den"]
    num = rows[0]["slope_num"]
    milli = rows[0]["slope_milli"]
    assert den > 0
    # truncation-toward-zero contract (both engines' integer division)
    expect_milli = (
        (1000 * num) // den if num >= 0 else -((1000 * -num) // den)
    )
    assert milli == expect_milli
    # recompute the regression in Python over exact points
    d = load_table(spark, sf_dir, "documents")
    uni = (
        d.select(F.explode(_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .count()
        .collect()
    )
    freqs = sorted((r["count"], r["t"]) for r in uni)
    ranked = sorted(freqs, key=lambda cf: (-cf[0], cf[1]))
    pts = [
        ((rk + 1).bit_length() - 1, c.bit_length() - 1)
        for rk, (c, _) in enumerate(ranked)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    assert num == n * sxy - sx * sy
    assert den == n * sxx - sx * sx
    assert sum(r["n_terms"] for r in rows) == n


def test_trigram_novelty_bounds_and_split(spark, sf_dir):
    """novelty_ppm in [0, 1e6]; n_novel <= n_trigrams; candidate docs are
    exactly the >=3-token docs in the >=11-nibble split."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.textops import text_trigram_novelty

    df = text_trigram_novelty(spark, sf_dir)
    assert df.where(
        (F.col("novelty_ppm") < 0) | (F.col("novelty_ppm") > 1000000)
    ).count() == 0
    assert df.where(F.col("n_novel") > F.col("n_trigrams")).count() == 0
    d = load_table(spark, sf_dir, "documents")
    nib = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10
    ).cast("int")
    expected = d.where(
        (nib >= 11) & (F.size(F.split(F.col("text"), r"\s+")) >= 3)
    ).count()
    assert df.count() == expected


def test_curriculum_mix_positions_and_tiers(spark, sf_dir):
    """Positions are a contiguous 1..N permutation; tiers are contiguous
    blocks (all of tier r before any of tier r+1); within a language the
    curriculum order follows the quality ranking."""
    from hadoopmapreduce_spark.operators.textops import pipeline_curriculum_mix

    rows = pipeline_curriculum_mix(spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r["position"] for r in rows) == list(range(1, n + 1))
    by_tier = {}
    for r in rows:
        by_tier.setdefault(r["rn"], []).append(r["position"])
    tiers = sorted(by_tier)
    for a, b in zip(tiers, tiers[1:]):
        assert max(by_tier[a]) < min(by_tier[b])
    # within a lang, position increases with rn
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append((r["rn"], r["position"]))
    for lang, ps in by_lang.items():
        ps.sort()
        pos = [p for _, p in ps]
        assert pos == sorted(pos), f"{lang} violates curriculum order"


def test_jaccard_hub_cap_active_region(spark, tmp_path, monkeypatch):
    """Crafted double-star: two hub parts each co-purchased with the same
    10 leaves -> every leaf pair has exactly 2 common neighbors (the hubs).
    With the cap above hub degree the pairs appear; with the cap below it
    the hub centers are excluded and the result is empty — the filter's
    active region, unreachable on the fixture graph, is exercised here."""
    import hadoopmapreduce_spark.operators.graph as G

    rows = []
    order = 1
    for hub in (1001, 1002):
        for leaf in range(1, 11):
            rows.append((order, hub))
            rows.append((order, leaf))
            order += 1
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    parts = spark.createDataFrame(
        [(k, "Brand#1") for k in [1001, 1002] + list(range(1, 11))],
        "p_partkey long, p_brand string",
    )
    parts.write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")

    monkeypatch.setattr(G, "JACCARD_HUB_CAP", 64)
    got = G.graph_neighbor_jaccard_top(spark, str(tmp_path)).collect()
    # 45 leaf pairs (common = the 2 hubs) + the hub pair (common = 10 leaves)
    assert len(got) == 46
    assert sorted(r["common"] for r in got) == [2] * 45 + [10]

    monkeypatch.setattr(G, "JACCARD_HUB_CAP", 5)
    # hubs (deg 10) excluded as centers: leaf pairs lose their only common
    # neighbors; the hub pair survives via the 10 leaf centers (deg 2)
    survivors = G.graph_neighbor_jaccard_top(spark, str(tmp_path)).collect()
    assert [(r["u"], r["v"], r["common"]) for r in survivors] == [
        (1001, 1002, 10)
    ]


def test_jaccard_fixture_sanity(spark, sf_dir):
    """common <= min(deg) and jaccard <= 1e6 on the fixture graph."""
    from hadoopmapreduce_spark.operators.graph import graph_neighbor_jaccard_top

    df = graph_neighbor_jaccard_top(spark, sf_dir)
    assert df.where(
        F.col("common") > F.least(F.col("deg_u"), F.col("deg_v"))
    ).count() == 0
    assert df.where(F.col("jaccard_ppm") > 1000000).count() == 0


def test_collated_order_differs_from_binary(spark, sf_dir):
    """Non-vacuity: the UNICODE-collated top-100 must differ from what a
    binary sort would pick/rank (uppercase variants sort adjacent to their
    lowercase twins under ICU, far away under binary), and rk must be the
    contiguous 1..100 prefix."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.sorts import sort_collation_unicode

    rows = sort_collation_unicode(spark, sf_dir).collect()
    assert [r["rk"] for r in sorted(rows, key=lambda r: r["rk"])] == list(
        range(1, len(rows) + 1)
    )
    collated = [r["s"] for r in sorted(rows, key=lambda r: r["rk"])]
    p = load_table(spark, sf_dir, "part")
    binary = [
        r["s"]
        for r in (
            p.select(F.col("p_name").alias("s"))
            .unionAll(p.select(F.upper(F.col("p_name")).alias("s")))
            .distinct()
            .orderBy("s")
            .limit(len(rows))
            .collect()
        )
    ]
    assert collated != binary
    # ICU adjacency: a lowercase name and its uppercase twin both in the
    # top-k must sit next to each other
    for i, s in enumerate(collated[:-1]):
        if s.upper() in collated and s != s.upper():
            assert abs(collated.index(s.upper()) - i) == 1
            break


def test_ppr_seeded_properties(spark, sf_dir):
    """Ranks strictly positive and non-increasing; result deterministic
    across invocations; seeds appearing in the top-20 carry at least the
    restart base (they re-receive it every round)."""
    import hadoopmapreduce_spark.operators.graph as G
    from hadoopmapreduce_spark.catalog import load_table

    rows = G.graph_ppr_seeded(spark, sf_dir).collect()
    ranks = [r["rank"] for r in rows]
    assert all(x > 0 for x in ranks)
    assert ranks == sorted(ranks, reverse=True)
    part = load_table(spark, sf_dir, "part")
    min_brand = part.agg(F.min("p_brand")).collect()[0][0]
    seeds = {
        r["p_partkey"]
        for r in part.where(F.col("p_brand") == min_brand)
        .select("p_partkey")
        .collect()
    }
    for r in rows:
        if r["node"] in seeds:
            assert r["rank"] >= 150_000_000_000
    again = G.graph_ppr_seeded(spark, sf_dir).collect()
    assert [(r["node"], r["rank"]) for r in rows] == [
        (r["node"], r["rank"]) for r in again
    ]


def test_fifo_matches_sequential_simulation(spark, tmp_path):
    """Differential check of the interval-alignment formulation against a
    literal sequential FIFO simulation on a pseudo-random multi-part flow
    (deterministic seed) — the textbook algorithm and the relational one
    must agree match-for-match in aggregate."""
    import random

    from hadoopmapreduce_spark.operators.joins import fin_fifo_inventory_match

    rng = random.Random(20260814)
    d0 = datetime.datetime(2023, 1, 1)
    rows = []
    order = 1
    for part in range(1, 8):
        for _ in range(rng.randint(3, 25)):
            line = rng.randint(1, 7)
            rows.append(
                (
                    part,
                    order,
                    line,
                    d0 + datetime.timedelta(days=rng.randint(0, 400)),
                    float(rng.randint(1, 50)),
                )
            )
            order += 1
    df = spark.createDataFrame(
        rows,
        "l_partkey long, l_orderkey long, l_linenumber int, "
        "l_shipdate timestamp, l_quantity double",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")

    # sequential simulation: consume receipts oldest-first per issue
    expect = {}
    by_part = {}
    for part, order, line, ship, qty in rows:
        by_part.setdefault(part, []).append((ship, order, line, int(qty)))
    for part, flows in by_part.items():
        flows.sort()
        receipts = [
            [ship, int(q)] for ship, o, l, q in flows if l % 2 == 1
        ]
        issues = [[ship, int(q)] for ship, o, l, q in flows if l % 2 == 0]
        n = qty_m = age_m = 0
        ri = 0
        for iship, iq in issues:
            while iq > 0 and ri < len(receipts):
                rship, rq = receipts[ri]
                take = min(iq, rq)
                n += 1
                qty_m += take
                age_m += take * (iship - rship).days
                receipts[ri][1] -= take
                iq -= take
                if receipts[ri][1] == 0:
                    ri += 1
        if n:
            expect[part] = (n, qty_m, age_m)

    got = {
        r["part"]: (r["n_matches"], r["qty_matched"], r["qty_age_days"])
        for r in fin_fifo_inventory_match(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_chisq_drift_matches_python_float_reference(spark, sf_dir):
    """The exact-integer chi-square must agree with a float reference to
    well under a micro unit per cell (truncation bounds the gap), and the
    md5 split must cover every order exactly once."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.aggregates import dq_chisq_drift

    rows = dq_chisq_drift(spark, sf_dir).collect()
    n_total = sum(r["n_a"] + r["n_b"] for r in rows)
    assert n_total == load_table(spark, sf_dir, "orders").count()
    ta = sum(r["n_a"] for r in rows)
    tb = sum(r["n_b"] for r in rows)
    chi2_float = 0.0
    for r in rows:
        ni = r["n_a"] + r["n_b"]
        for o, th in ((r["n_a"], ta), (r["n_b"], tb)):
            e = th * ni / n_total
            chi2_float += (o - e) ** 2 / e
        # per-cell integer contribution is the floor of the float one
        ea = ta * ni / n_total
        ca_float = (r["n_a"] - ea) ** 2 / ea * 1_000_000
        assert 0 <= ca_float - r["contrib_a_micro"] < 1 + 1e-6
    assert rows[0]["chi2_micro"] == rows[-1]["chi2_micro"]  # replicated
    assert abs(rows[0]["chi2_micro"] - chi2_float * 1_000_000) < len(rows) * 2 + 1


def test_linkage_weights_reflect_field_skew(spark, sf_dir):
    """u-probability ordering must show in the weights: the 5-value
    segment field is more likely to agree by chance than the 25-value
    nation field, so w_segment < w_nation; scores decompose exactly into
    the agreement flags times the weights."""
    from hadoopmapreduce_spark.operators.dedup import dedup_linkage_score_fs

    rows = dedup_linkage_score_fs(spark, sf_dir).collect()
    assert rows
    r0 = rows[0]
    assert r0["w_segment"] < r0["w_nation"]
    for r in rows:
        assert r["score"] == (
            r["agree_nation"] * r["w_nation"]
            + r["agree_segment"] * r["w_segment"]
            + r["agree_band"] * r["w_band"]
        )
        assert all(r[f] in (0, 1) for f in ("agree_nation", "agree_segment", "agree_band"))


def test_ci_groups_fold_exactly_case_variants(spark, sf_dir):
    """Every CI class must contain exactly the binary-distinct case
    variants of one name: n_rows = 2 * occurrences(name), canonical is
    the uppercase form (binary min), and class count equals the distinct
    lower-cased name count."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.sorts import agg_collation_ci_groups

    rows = agg_collation_ci_groups(spark, sf_dir).collect()
    part = load_table(spark, sf_dir, "part")
    names = [r["p_name"] for r in part.select("p_name").collect()]
    from collections import Counter

    freq = Counter(n.lower() for n in names)
    assert len(rows) == len(freq)
    for r in rows:
        assert r["canonical"] == r["canonical"].upper()
        assert r["n_rows"] == 2 * freq[r["canonical"].lower()]
        assert r["n_case_variants"] == 2
