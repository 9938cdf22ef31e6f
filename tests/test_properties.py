"""Property-based tests (hypothesis): the deterministic-numeric layer and
the sequential-fold operators hold their contracts on adversarial inputs,
not just the fixtures.

Each example batches many generated cases into ONE Spark job (a local[8]
round trip costs ~0.5 s, so per-case jobs would be prohibitive)."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hadoopmapreduce_spark.functions.numeric import davg, dsum, lavg, lsum
from hadoopmapreduce_spark.operators.windows import (
    EWMA_ALPHA,
    FUNNEL_STEPS,
    ewma_fold,
    funnel_fold,
)

# doubles that survive a decimal(18,4) cast: bounded magnitude, no NaN/inf
_vals = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(_vals, min_size=1, max_size=40), min_size=1, max_size=12))
def test_lsum_equals_dsum_within_bound(spark, batches):
    """The long-scaled fast path must be bit-identical to the decimal path
    for any input within its documented bound — on the same partitioning."""
    rows = [(i, v) for i, vs in enumerate(batches) for v in vs]
    df = spark.createDataFrame(rows, "grp int, x double")
    out = (
        df.groupBy("grp")
        .agg(
            # strategy worst case: 40 values of |x| <= 1e6 per group → 4e7,
            # far inside lsum's 9.0e11 exactness window at scale 4
            dsum("x", 4).alias("d"),
            lsum("x", 4, max_group_sum=4e7).alias("l"),
            davg("x", 6).alias("da"),
            lavg("x", 6, max_group_sum=4e7).alias("la"),
        )
        .collect()
    )
    for r in out:
        assert r["d"] == r["l"], f"grp {r['grp']}: {r['d']!r} != {r['l']!r}"
        # within the bound the scaled sums are identical doubles, so the
        # averages (sum / same count) must be too — keeps lavg's contract
        # exercised now that production call sites use davg
        assert r["da"] == r["la"], f"grp {r['grp']}: {r['da']!r} != {r['la']!r}"


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(_vals, min_size=1, max_size=30), min_size=1, max_size=12))
def test_ewma_fold_matches_python_model(spark, batches):
    df = spark.createDataFrame(
        [(i, vs) for i, vs in enumerate(batches)], "i int, vals array<double>"
    )
    out = {r["i"]: r["e"] for r in df.select("i", ewma_fold(F.col("vals")).alias("e")).collect()}
    for i, vs in enumerate(batches):
        expect = vs[0]
        for v in vs[1:]:
            expect = expect * (1 - EWMA_ALPHA) + v * EWMA_ALPHA
        assert out[i] == expect and math.isfinite(out[i])


_evt = st.sampled_from(list(FUNNEL_STEPS) + ["signup", "error"])


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(_evt, min_size=0, max_size=25), min_size=1, max_size=15))
def test_funnel_fold_matches_python_model(spark, batches):
    df = spark.createDataFrame(
        [(i, ts) for i, ts in enumerate(batches)], "i int, types array<string>"
    )
    out = {
        r["i"]: int(r["s"])
        for r in df.select("i", funnel_fold(F.col("types")).alias("s")).collect()
    }
    for i, ts in enumerate(batches):
        stage = 0
        for t in ts:
            if stage < 3 and t == FUNNEL_STEPS[stage]:
                stage += 1
        assert out[i] == stage


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(_evt, min_size=0, max_size=25), min_size=1, max_size=15))
def test_funnel_fold_monotone_under_extension(spark, batches):
    """Appending events can only advance the funnel, never regress it."""
    df = spark.createDataFrame(
        [(i, ts, ts + ["purchase", "view", "click"]) for i, ts in enumerate(batches)],
        "i int, a array<string>, b array<string>",
    )
    rows = df.select(
        funnel_fold(F.col("a")).alias("sa"), funnel_fold(F.col("b")).alias("sb")
    ).collect()
    for r in rows:
        assert int(r["sb"]) >= int(r["sa"])


@settings(max_examples=5, deadline=None)
@given(
    st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=20,
    )
)
def test_triangle_count_matches_bruteforce(spark, pairs):
    """Degree-oriented adjacency-intersection census == the O(n^3) python
    count on arbitrary small graphs (clique-ish, sparse, disconnected)."""
    from itertools import combinations

    from hadoopmapreduce_spark.operators.graph import triangle_count

    edges = {(min(u, v), max(u, v)) for u, v in pairs}
    nodes = sorted({n for e in edges for n in e})
    expect = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in edges and (a, c) in edges and (b, c) in edges
    )
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    row = triangle_count(df).collect()[0]
    assert row.n_triangles == expect, (sorted(edges), row.n_triangles, expect)
    assert row.n_edges == len(edges) and row.n_nodes == len(nodes)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
                min_size=1, max_size=50))
def test_morton_key_bijective_and_monotone_in_blocks(spark, points):
    """One Spark job per example: the codegen Morton key must equal the
    python interleave for arbitrary 16-bit inputs (bijectivity follows)."""
    from hadoopmapreduce_spark.operators.layout import _z_spark

    def py_z(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(points, "x long, y long").withColumn(
        "z", F.expr(_z_spark("x", "y"))
    )
    for r in df.collect():
        assert r.z == py_z(r.x, r.y)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 4000)),
        min_size=1,
        max_size=300,
    )
)
def test_bitmap_distinct_equals_count_distinct(spark, pairs):
    """The bitmap OR-aggregation must equal COUNT(DISTINCT) for ANY dense
    non-negative id multiset, including adversarial duplicate patterns —
    the exactness claim behind agg_bitmap_distinct."""
    df = spark.createDataFrame(pairs, "grp string, uid long")
    words = df.select(
        "grp",
        (F.col("uid") / 64).cast("long").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(uid % 64 as int))").alias(
            "mask"
        ),
    )
    via_bitmap = {
        r["grp"]: r["n"]
        for r in words.groupBy("grp", "word")
        .agg(F.bit_or("mask").alias("bits"))
        .groupBy("grp")
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("n"))
        .collect()
    }
    exact = {
        r["grp"]: r["n"]
        for r in df.groupBy("grp")
        .agg(F.countDistinct("uid").alias("n"))
        .collect()
    }
    assert via_bitmap == exact


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4", "w5"]), min_size=3, max_size=12),
        min_size=2,
        max_size=10,
    )
)
def test_containment_bounds_and_self_identity(spark, docs):
    """Containment semantics on generated corpora: every emitted value is in
    (0, 1]; and a document whose shingle set is a subset of another's has
    containment exactly 1.0 in that direction (append a known superset pair
    to every corpus to keep the assertion non-vacuous)."""
    from hadoopmapreduce_spark.operators.dedup import CONTAINMENT_THRESHOLD

    texts = [" ".join(d) for d in docs]
    base = "x1 x2 x3 x4 x5 x6"
    texts.append(base)                     # doc N-2 (subset)
    texts.append(base + " x7 x8 x9")       # doc N-1 (superset)
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # inline the operator pipeline over the generated frame (the registered
    # query is fixture-bound; semantics are what we pin here)
    ts = F.split(F.col("text"), r"\s+")
    n = F.size(ts)
    sh3 = F.zip_with(
        F.zip_with(
            F.slice(ts, 1, n - 2), F.slice(ts, 2, n - 2),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice(ts, 3, n - 2),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    sh = df.select("doc_id", F.explode(F.array_distinct(sh3)).alias("s"))
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = inter.join(
        cnt.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    ).select(
        "doc_a", "doc_b",
        (F.col("c").cast("double") / F.col("na")).alias("containment"),
    ).collect()
    subset_id, superset_id = len(texts) - 2, len(texts) - 1
    got = {(r["doc_a"], r["doc_b"]): r["containment"] for r in out}
    assert all(0.0 < v <= 1.0 for v in got.values())
    assert got[(subset_id, superset_id)] == 1.0
    assert CONTAINMENT_THRESHOLD <= 1.0


@settings(max_examples=5, deadline=None)
@given(
    st.integers(min_value=1, max_value=120),  # n rows
    st.integers(min_value=1, max_value=16),   # k buckets
    st.integers(min_value=1, max_value=9),    # duplicate density modulus
)
def test_distributed_ntile_property(spark, n, k, mod):
    """Property: functions.ranks.distributed_ntile is bit-identical to
    F.ntile over the same total order for ANY (n, k, tie density) — the
    differential the fixed-case test samples, generalized."""
    from pyspark.sql import Window

    from hadoopmapreduce_spark.functions import ranks

    df = spark.range(n).select(
        (F.col("id") % mod).alias("val"), F.col("id").alias("tid")
    )
    expect = {
        (r["val"], r["tid"]): r["b"]
        for r in df.withColumn(
            "b", F.ntile(k).over(Window.orderBy("val", "tid"))
        ).collect()
    }
    got = {
        (r["val"], r["tid"]): r["bucket"]
        for r in ranks.distributed_ntile(df, k, ["val", "tid"]).collect()
    }
    assert got == expect, (n, k, mod)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # life table: (duration bucket, death flag)
        st.tuples(st.integers(min_value=0, max_value=12),
                  st.integers(min_value=0, max_value=1)),
        min_size=1, max_size=60,
    )
)
def test_km_curve_property(spark, life):
    """Property: functions km_curve == pure-Python Kaplan-Meier (integer
    stepwise floor product) for ANY life table — the fixed-fixture
    differential of test_round8_session2, generalized."""
    from hadoopmapreduce_spark.operators.timeseries import km_curve

    df = spark.createDataFrame(life, "t int, death int")
    got = [
        (r["t_bucket"], r["n_at_risk"], r["d_events"], r["survival_x1e9"])
        for r in km_curve(df).orderBy("t_bucket").collect()
    ]
    expect, s = [], 10**9
    for t in sorted({t for t, d in life if d}):
        n = sum(1 for tt, _ in life if tt >= t)
        d = sum(1 for tt, dd in life if tt == t and dd)
        s = s * (n - d) // n
        expect.append((t, n, d, s))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # flat event log: (user, type code) in arrival order
        st.tuples(st.integers(min_value=0, max_value=3),
                  st.sampled_from(["view", "click", "purchase", "error"])),
        min_size=1, max_size=80,
    )
)
def test_match_recognize_property(spark, log):
    """Property: the window-composed 'view click* purchase' matcher ==
    a brute-force per-user state machine for ANY event sequence."""
    from hadoopmapreduce_spark.operators.windows import match_funnel_runs

    rows = [
        (uid, et, i, i)  # ts == event_id == arrival index: total order
        for i, (uid, et) in enumerate(log)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_type string, ts int, event_id int"
    )
    got = {
        r["user_id"]: (
            r["n_matches"], r["max_clicks_in_match"], r["total_clicks_matched"]
        )
        for r in match_funnel_runs(df).collect()
    }
    expect = {}
    by_user: dict[int, list[str]] = {}
    for uid, et in log:
        by_user.setdefault(uid, []).append(et)
    for uid, seq in by_user.items():
        matches, last_nonclick, clicks = [], None, 0
        for et in seq:
            if et == "purchase" and last_nonclick == "view":
                matches.append(clicks)
            if et == "click":
                clicks += 1
            else:
                last_nonclick, clicks = et, 0
        if matches:
            expect[uid] = (len(matches), max(matches), sum(matches))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=10**15), min_size=1, max_size=200),
    st.sets(st.integers(min_value=0, max_value=10**15), min_size=1, max_size=200),
)
def test_kmv_set_stats_property(spark, ha, hb):
    """Property: the KMV core == a pure-Python bottom-k sketch estimator
    for ANY pair of distinct-hash sets (hashes generated directly — the
    estimator doesn't care they're md5-derived).  Doubles compare
    EXACTLY: both sides divide the same mantissa-exact operands."""
    from hadoopmapreduce_spark.operators.aggregates import (
        KMV_HASH_SPACE,
        KMV_K,
        kmv_set_stats,
    )

    universe = sorted(ha | hb)
    rows = [(int(h in ha), int(h in hb), h) for h in universe]
    df = spark.createDataFrame(rows, "in_a int, in_b int, hv long")
    got = kmv_set_stats(df).collect()[0].asDict()

    def est(hashes):
        hs = sorted(hashes)[:KMV_K]
        if len(hs) < KMV_K:
            return float(len(hs))
        return float(KMV_K - 1) * float(KMV_HASH_SPACE) / float(hs[-1])

    union_k = universe[:KMV_K]
    matches = sum(1 for h in union_k if h in ha and h in hb)
    est_union = est(universe)
    expect = {
        "k": KMV_K,
        "exact_a": len(ha),
        "exact_b": len(hb),
        "exact_intersect": len(ha & hb),
        "est_a": est(ha),
        "est_b": est(hb),
        "est_union": est_union,
        "kmv_matches": matches,
        "est_intersect": (
            float(matches)
            if len(universe) < KMV_K
            else (float(matches) * est_union) / KMV_K
        ),
    }
    assert got == expect, (got, expect)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 99)),
             min_size=0, max_size=40),  # A rows: (key, payload)
    st.lists(st.tuples(st.integers(0, 9), st.integers(0, 99)),
             min_size=0, max_size=40),  # B rows
    st.integers(0, 9),   # A partition cutoff (payload-based)
    st.integers(0, 9),   # B partition modulus pivot
)
def test_bilinear_join_view_property(spark, a_rows, b_rows, a_cut, b_piv):
    """Property: the bilinear delta rule == the plain join, as a
    MULTISET, for ANY tables and ANY partition predicates — the algebra
    incremental_join_maintenance relies on, generalized."""
    from collections import Counter

    from hadoopmapreduce_spark.operators.aggregates import bilinear_join_view

    a = spark.createDataFrame(
        [(k, p) for k, p in a_rows] or [(None, None)],
        "ak int, ap int",
    ).filter(F.col("ak").isNotNull())
    b = spark.createDataFrame(
        [(k, p) for k, p in b_rows] or [(None, None)],
        "bk int, bp int",
    ).filter(F.col("bk").isNotNull())
    a_pred = F.col("ap") < a_cut * 10
    b_pred = F.col("bp") % 10 <= b_piv
    v = bilinear_join_view(
        a.filter(a_pred), a.filter(~a_pred),
        b.filter(b_pred), b.filter(~b_pred),
        on=(F.col("ak") == F.col("bk")),
        cols=["ak", "ap", "bp"],
    )
    got = Counter((r["ak"], r["ap"], r["bp"]) for r in v.collect())
    expect = Counter(
        (ka, pa, pb)
        for ka, pa in a_rows
        for kb, pb in b_rows
        if ka == kb
    )
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # one cluster's members: small-int vectors, fixed dim 4
        st.tuples(st.integers(0, 7), st.integers(0, 7),
                  st.integers(0, 7), st.integers(0, 7)),
        min_size=1, max_size=25,
    )
)
def test_semdedup_kernel_property(vecs):
    """Property: the numpy Gram kernel == a pure-Python keep-first scan
    with the SAME dimension-major double accumulation, for ANY cluster
    content (exact float equality — both sides run identical IEEE op
    sequences).  Zero vectors are excluded: cosine is undefined there and
    the quantizer upstream can never emit one (norms are > 0 by the
    argmax-assignment construction)."""
    import math

    import pandas as pd

    from hadoopmapreduce_spark.operators.dedup import (
        SEMDEDUP_TAU,
        semdedup_kernel,
    )

    vecs = [v for v in vecs if any(v)] or [(1, 0, 0, 0)]
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "cluster": [0] * len(vecs),
            "v": [[float(x) for x in v] for v in vecs],
        }
    )
    got = {
        int(r.vec_id): (int(r.n_earlier_dups), int(r.kept))
        for r in semdedup_kernel(pdf).itertuples()
    }

    def dot(u, w):  # dimension-major, same add order as the kernel
        acc = 0.0
        for x, y in zip(u, w):
            acc += x * y
        return acc

    expect = {}
    fv = [[float(x) for x in v] for v in vecs]
    for j, vj in enumerate(fv):
        n = 0
        for i in range(j):
            vi = fv[i]
            cos = dot(vi, vj) / (math.sqrt(dot(vi, vi)) * math.sqrt(dot(vj, vj)))
            if cos >= SEMDEDUP_TAU:
                n += 1
        expect[j] = (n, int(n == 0))
    assert got == expect
