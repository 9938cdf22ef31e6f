"""Round-10 session 1: ADVICE r9 regression pins.

Each test pins one of the round-9 advisor findings so the fix cannot
silently regress: TIFF word alignment, the km_curve temp-view leak, and
the bench printed-line byte budget.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- ADVICE r9: TIFF 6.0 requires word-aligned offsets --------------------


@pytest.mark.parametrize(
    "w,h,dl",
    [
        (5, 5, 7),   # odd strip length (25) — the flagged case
        (5, 5, 8),   # odd strip + even desc
        (7, 3, 3),   # odd strip + inline desc (count 4)
        (6, 5, 16),  # even strip, odd out-of-line ASCII (count 17)
    ],
)
def test_tiff_offsets_word_aligned(w, h, dl):
    """Every offset a reader follows (IFD, out-of-line values) must begin
    on an even byte (TIFF 6.0 §2); an odd width*height used to place the
    IFD at an odd offset."""
    from hadoopmapreduce_spark.operators.multimodal import (
        _TIFF_SOFTWARE,
        parse_tiff_features,
        synthesize_tiff,
    )

    for le in (True, False):
        payload = synthesize_tiff(w, h, 123, le, dl)
        e = "<" if le else ">"
        ifd_off = struct.unpack_from(e + "I", payload, 4)[0]
        assert ifd_off % 2 == 0, f"IFD at odd offset {ifd_off}"
        # walk the IFD and check every out-of-line value offset
        (n_tags,) = struct.unpack_from(e + "H", payload, ifd_off)
        for i in range(n_tags):
            off = ifd_off + 2 + i * 12
            tag, typ, cnt = struct.unpack_from(e + "HHI", payload, off)
            type_size = {2: 1, 3: 2, 4: 4}[typ]
            if cnt * type_size > 4:  # value stored out of line
                (voff,) = struct.unpack_from(e + "I", payload, off + 8)
                assert voff % 2 == 0, f"tag {tag} value at odd offset {voff}"
        # the strict parser still accepts the padded layout and the
        # features are unchanged by the (outside-count) pad bytes
        feats = parse_tiff_features(payload)
        assert feats["n_pixels"] == w * h
        assert feats["desc_len"] == dl
        assert feats["n_tags"] == n_tags
    assert _TIFF_SOFTWARE.endswith(b"\x00")


# --- ADVICE r9: km_curve must not pin one temp view per call --------------


def test_km_curve_drops_its_temp_view(spark):
    """km_curve creates a per-call unique temp view over the checkpointed
    step table; it must drop it before returning (the analyzed plan has
    already inlined the view), or views + resident checkpoint blocks
    accumulate for the session lifetime."""
    from hadoopmapreduce_spark import registry

    registry.load_all()
    fn = registry.QUERIES["ts_survival_km"]
    for _ in range(2):
        assert fn(spark, "/root/testdata/sf0.001").count() > 0
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("km_steps_")
    ]
    assert leaked == [], f"km_curve leaked temp views: {leaked}"


# --- VERDICT r9 ask #3: power-iteration int64 headroom is ENFORCED --------


def test_pi_grid_shift_bound_holds_adversarially():
    """For adversarial (N, vmax, dim) combinations the derived exponent
    must keep the PROVEN bound N*2*dim*vmax^2*2^q + N/2 below 2^62."""
    from hadoopmapreduce_spark.operators.similarity import pi_grid_shift

    cases = [
        (500, 0.9, 64),          # fixture shape -> full 2^30 grid
        (30_000_000, 1.0, 64),   # the r9 documented cliff
        (3_000_000_000, 1.0, 64),  # 100 TB-class corpus
        (100, 1.0e6, 64),        # adversarial magnitude
        (10**12, 2.0, 64),       # trillion rows
        (40, 1.3, 8),            # the convergence test's shape
    ]
    for n, vmax, dim in cases:
        q = pi_grid_shift(n, vmax, dim)
        assert 1 <= q <= 30, (n, vmax, dim, q)
        bound = n * 2 * dim * (vmax ** 2) * (2 ** q) + n / 2
        assert bound < 2 ** 62, (n, vmax, dim, q, bound)
    # fixture-scale inputs keep the historical 2^30 grid (results frozen)
    assert pi_grid_shift(500, 0.9, 64) == 30
    assert pi_grid_shift(5000, 0.9, 64) == 30
    # beyond-int64 territory refuses loudly instead of wrapping
    with pytest.raises(ValueError):
        pi_grid_shift(10**18, 1.0e9, 64)


def test_pi_grid_sql_twin_matches_python():
    """The oracle's SQL derivation of the grid must equal pi_grid_shift
    on the same relation — run both over synthetic corpora in DuckDB."""
    import duckdb

    from hadoopmapreduce_spark.operators.similarity import (
        _pi_grid_sql,
        pi_grid_shift,
    )

    for vmax, n, dim in [(0.9, 500, 64), (123456.7, 100, 64), (3.2, 7, 64)]:
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE src AS SELECT i, [CAST(? AS DOUBLE), 0.1, -0.2] "
            "AS v FROM range(?) t(i)",
            [vmax, n],
        )
        sql = (
            "WITH e AS (SELECT v FROM src), "
            + _pi_grid_sql(dim)
            + " SELECT qd FROM grid"
        )
        (qd,) = con.execute(sql).fetchone()
        assert qd == float(1 << pi_grid_shift(n, vmax, dim)), (vmax, n)


# --- VERDICT r9 ask #2: SemDeDup multi-probe assignment -------------------


def test_multiprobe_nprobe_probes_primary_matches_single(spark):
    """Each vector gets exactly SEMDEDUP_NPROBE probes (fixture has
    K >= NPROBE clusters), the rank-1 probe IS the single-probe
    assignment, and every vector's probed clusters are distinct."""
    from hadoopmapreduce_spark.operators.dedup import (
        SEMDEDUP_NPROBE,
        semantic_assignment,
        semantic_assignment_multiprobe,
    )

    sf = "/root/testdata/sf0.001"
    probes = semantic_assignment_multiprobe(spark, sf)
    per_vec: dict = {}
    for r in probes.collect():
        per_vec.setdefault(r["vec_id"], {})[r["probe_rank"]] = r["cluster"]
    assert all(len(v) == SEMDEDUP_NPROBE for v in per_vec.values())
    assert all(
        len(set(v.values())) == SEMDEDUP_NPROBE for v in per_vec.values()
    )
    single = {r["vec_id"]: r["cluster"] for r in semantic_assignment(
        spark, sf).collect()}
    assert {vid: v[1] for vid, v in per_vec.items()} == single


def test_multiprobe_only_drops_more(spark):
    """Every single-probe duplicate pair is also co-probed (rank-1 probes
    are included), so multiprobe n_earlier_dups >= single-probe per
    vector and kept(multiprobe) => kept(single) can only flip 1 -> 0."""
    from hadoopmapreduce_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    single = {
        r["vec_id"]: r
        for r in registry.QUERIES["dedup_semantic_clustered"](
            spark, sf
        ).collect()
    }
    multi = {
        r["vec_id"]: r
        for r in registry.QUERIES["dedup_semantic_multiprobe"](
            spark, sf
        ).collect()
    }
    assert set(single) == set(multi)
    for vid, s in single.items():
        m = multi[vid]
        assert m["cluster"] == s["cluster"]  # primary assignment shared
        assert m["n_earlier_dups"] >= s["n_earlier_dups"], vid
        if s["kept"] == 0:
            assert m["kept"] == 0, vid


def test_multiprobe_recall_materially_higher(spark):
    """The point of the extra probes: recall vs the global exact referee
    must rise materially (sf0.01 ladder: 261,992 single-probe -> 634,686
    top-2 -> 881,918 at the registered top-3)."""
    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.operators.dedup import SEMDEDUP_NPROBE

    registry.load_all()
    row = (
        registry.QUERIES["dedup_semantic_eval"](
            spark, "/root/testdata/sf0.01"
        )
        .collect()[0]
        .asDict()
    )
    assert row["recall_multiprobe_ppm"] >= row["recall_ppm"] + 100_000, row
    assert row["recall_multiprobe_ppm"] >= 800_000, row  # r10 ask #3 bar
    assert row["n_hits_multiprobe"] >= row["n_hits"]
    # the work trade stays bounded: probe rows are nprobe x, pair work
    # ~nprobe^2 x (sf0.01 measures 9.002x at nprobe=3 — slightly over
    # nprobe^2 because probe rows concentrate in the larger clusters);
    # allow the skew a 10% margin
    assert row["n_candidates_multiprobe"] <= (
        1.1 * SEMDEDUP_NPROBE**2 * row["n_candidates"]
    )


def test_multiprobe_assignment_is_shuffle_free(spark):
    """Same pin as the single-probe assignment (VERDICT r8 ask #3): the
    top-2 runs as in-row folds over the 1-row broadcast centroid array —
    no corpus-side exchange, no window; the only hashpartitioning is the
    cluster-keyed exchange into the pair kernel.  The query reads its
    probe table through ``catalog.materialize``, so the assignment's own
    plan is checked too."""
    from hadoopmapreduce_spark.operators.dedup import (
        dedup_semantic_multiprobe,
        semantic_assignment_multiprobe,
    )
    from hadoopmapreduce_spark.plans.explain import physical_plan

    sf_dir = "/root/testdata/sf0.001"
    plan = physical_plan(dedup_semantic_multiprobe(spark, sf_dir))
    assign = physical_plan(semantic_assignment_multiprobe(spark, sf_dir))
    for p in (plan, assign):
        assert "hashpartitioning(vec_id" not in p, p
        assert "Window" not in p, p
    assert "BroadcastNestedLoopJoin" in assign, assign
    # the kernel exchange, once
    assert plan.count("hashpartitioning(cluster") == 1, plan


# --- VERDICT r9 ask #4: IVFADC — cell filter composed with the ADC scan ---


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_ivfadc_recall_floor(spark, sf):
    """IVFADC recall@5 vs the exact scorer must hold the PQ-alone 0.84
    floor (measured 0.84/0.84 at sf0.001/sf0.01 with nprobe=6,
    massign=2) — the cell filter may not cost recall below the
    already-pinned PQ baseline."""
    from hadoopmapreduce_spark import registry

    registry.load_all()
    sf_dir = f"/root/testdata/sf{sf}"
    exact = registry.QUERIES["knn_cosine_topk"](spark, sf_dir).collect()
    approx = registry.QUERIES["ann_ivfadc_topk"](spark, sf_dir).collect()
    ex: dict = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ap: dict = {}
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(
        len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex
    ) / len(ex)
    assert recall >= 0.8, recall  # floor with head-room under the 0.84 measured
    # every returned cosine is a TRUE cosine (the exact re-rank contract):
    # any (query, neighbor) IVFADC shares with the exact scorer must carry
    # the identical score
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    shared = [
        r for r in approx if (r["query_id"], r["neighbor_id"]) in exact_cos
    ]
    assert shared, "no overlap would mean recall 0"
    for r in shared:
        assert r["cosine"] == exact_cos[(r["query_id"], r["neighbor_id"])]


def test_ivfadc_candidates_are_cell_bounded(spark):
    """The ADC scan must only ever touch probed-cell members: every
    returned neighbor shares at least one of its (multi-assigned) cells
    with the query's probed set."""
    import pyspark.sql.functions as F

    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.operators.similarity import (
        IVFADC_MASSIGN,
        IVFADC_NPROBE,
    )

    registry.load_all()
    sf_dir = "/root/testdata/sf0.001"
    # reconstruct the corpus multi-assignment with the SAME top-2 helper
    # ann_ivfadc_topk uses (semantic_assignment_multiprobe now probes
    # SEMDEDUP_NPROBE=3 for the dedup family; IVFADC stays massign=2)
    from hadoopmapreduce_spark.operators.dedup import (
        _semantic_assignment_parts,
        multiprobe_from_parts,
    )

    e0, cent0, nrm0, scored0, _g0 = _semantic_assignment_parts(
        spark, sf_dir
    )
    cells: dict = {}
    for r in multiprobe_from_parts(e0, cent0, nrm0, scored0).collect():
        cells.setdefault(r["vec_id"], set()).add(r["cluster"])
    assert all(len(v) == IVFADC_MASSIGN for v in cells.values())
    out = registry.QUERIES["ann_ivfadc_topk"](spark, sf_dir).collect()
    # reconstruct each query's probed set from the same assignment parts
    from hadoopmapreduce_spark.operators.dedup import (
        _semantic_assignment_parts,
    )

    e2, cent1, nrm2, scored_arr, _g = _semantic_assignment_parts(
        spark, sf_dir
    )
    qs = (
        e2.filter(F.col("vec_id") < 10)
        .withColumn("nrm", nrm2)
        .crossJoin(F.broadcast(cent1))
        .select(F.col("vec_id").alias("query_id"), F.explode(scored_arr).alias("sc"))
        .select("query_id", F.col("sc.cos").alias("cos"), F.col("sc.cluster").alias("cell"))
        .collect()
    )
    probed: dict = {}
    for qid in {r["query_id"] for r in qs}:
        ranked = sorted(
            (r for r in qs if r["query_id"] == qid),
            key=lambda r: (-r["cos"], r["cell"]),
        )
        probed[qid] = {r["cell"] for r in ranked[:IVFADC_NPROBE]}
    for r in out:
        assert cells[r["neighbor_id"]] & probed[r["query_id"]], r


def test_ivfadc_code_table_never_shuffles(spark):
    """The candidate set is bounded (|Q| x nprobe x cell size) and rides
    as a broadcast, so the 8N-row code table must never enter a shuffle
    join — the first draft's SortMergeJoin against cand cost 2.4x at
    sf0.1."""
    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.plans.explain import physical_plan

    registry.load_all()
    plan = physical_plan(
        registry.QUERIES["ann_ivfadc_topk"](spark, "/root/testdata/sf0.001")
    )
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


# --- VERDICT r9 ask #6: fixed-width writer rejects unrepresentable values -


@pytest.mark.parametrize(
    "bad", [" leading", "trailing ", "embed\nnewline", "embed\rcr", " "]
)
def test_fixed_width_guard_rejects_space_fringed_values(spark, bad):
    """A value with leading/trailing spaces or a line break cannot
    round-trip through space-padded fixed-width framing — the writer
    must raise, not let the reader's trim corrupt it silently."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from hadoopmapreduce_spark.operators.layout import _fw_guard
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(bad,)], "v string").select(
        _fw_guard(F.col("v"), "v").alias("v")
    )
    with pytest.raises(SparkRuntimeException, match="not representable"):
        df.collect()


def test_fixed_width_guard_passes_clean_values(spark):
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.layout import _fw_guard

    vals = ["1-URGENT", "F", "inner space ok", ""]
    df = spark.createDataFrame([(v,) for v in vals], "v string").select(
        _fw_guard(F.col("v"), "v").alias("v")
    )
    assert [r["v"] for r in df.collect()] == vals


# --- VERDICT r9 ask #7: sampled-audit fraction on the quadratic referees --


def test_audit_fraction_default_matches_registered(spark):
    """fraction=1.0 must be the identity — the registered, adjudicated
    result (hash-compared via collected rows)."""
    from hadoopmapreduce_spark.operators.dedup import (
        dedup_minhash_eval,
        dedup_semantic_eval,
    )

    sf = "/root/testdata/sf0.001"
    assert (
        dedup_semantic_eval(spark, sf).collect()
        == dedup_semantic_eval(spark, sf, audit_fraction=1.0).collect()
    )
    assert (
        dedup_minhash_eval(spark, sf).collect()
        == dedup_minhash_eval(spark, sf, audit_fraction=1.0).collect()
    )


def test_audit_fraction_sample_is_coherent(spark):
    """At fraction<1 every side (candidates, hits, truth) measures the
    SAME deterministic sub-corpus: counts bound above by the full run,
    and the sampled truth equals the full truth restricted to sampled
    endpoints."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.dedup import (
        SEMDEDUP_TAU,
        _audit_sample,
        dedup_semantic_eval,
        exact_cosine_pairs,
    )

    sf = "/root/testdata/sf0.001"
    frac = 0.5
    full = dedup_semantic_eval(spark, sf).collect()[0].asDict()
    samp = dedup_semantic_eval(spark, sf, audit_fraction=frac).collect()[0].asDict()
    for k in ("n_candidates", "n_truth", "n_hits", "n_hits_multiprobe"):
        assert samp[k] <= full[k], (k, samp, full)
    assert samp["n_truth"] > 0  # the sample still sees signal at sf0.001
    # sampled truth == full truth restricted to sampled endpoints
    full_pairs = exact_cosine_pairs(spark, sf, SEMDEDUP_TAU)
    restricted = full_pairs.filter(
        _audit_sample(F.col("vec_a"), frac) & _audit_sample(F.col("vec_b"), frac)
    ).count()
    assert samp["n_truth"] == restricted


# --- DSIR importance selection ---------------------------------------------


def test_dsir_selects_target_language_preferentially(spark):
    """The point of the importance weights: the target language's kept
    rate must strictly exceed every other language's (sf0.01 measured:
    en 141/218 vs de 21/70, es 24/73, fr 32/64, zh 18/75)."""
    from hadoopmapreduce_spark import registry

    registry.load_all()
    rows = registry.QUERIES["sample_importance_dsir"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    by_lang: dict = {}
    for r in rows:
        kept, total = by_lang.get(r["lang"], (0, 0))
        by_lang[r["lang"]] = (kept + r["kept"], total + 1)
        # the flag is exactly the score sign
        assert r["kept"] == (1 if r["dsir_score"] >= 0 else 0)
        assert r["n_bigrams"] > 0  # <2-token docs carry no features
    from hadoopmapreduce_spark.operators.textops import DSIR_TARGET_LANG

    rates = {l: k / t for l, (k, t) in by_lang.items()}
    target = rates.pop(DSIR_TARGET_LANG)
    assert all(target > r for r in rates.values()), (target, rates)
    assert target > 0.5  # the target corpus mostly survives its own filter


# --- GIF LZW: real entropy decode, codec family #7 -------------------------


def test_lzw_round_trip_exhaustive_tails():
    """Encoder/decoder width sync at EVERY stream-tail position: the
    first draft desynced when the 2^width boundary fell exactly between
    the final data code and EOI (the decoder adds a table entry after
    every data code, the encoder's flush didn't mirror it) — sweep every
    length so that class of bug cannot return."""
    from hadoopmapreduce_spark.operators.multimodal import (
        lzw_decode,
        lzw_encode,
    )

    for n in range(1, 400):
        seq = [(i * 7 + i // 3) % 4 for i in range(n)]
        assert lzw_decode(lzw_encode(seq, 2), 2, n) == seq, n


def test_lzw_round_trip_kwkwk_and_cap_reset():
    """The code==next_code self-reference case (runs of one symbol) and
    the 4096-entry CLEAR-reset path (incompressible long streams — never
    reachable at fixture image sizes, so it is pinned here)."""
    import random

    from hadoopmapreduce_spark.operators.multimodal import (
        GIF_MAX_CODE,
        lzw_decode,
        lzw_encode,
    )

    for n in (1, 2, 3, 10, 1000):
        seq = [1] * n
        assert lzw_decode(lzw_encode(seq, 2), 2, n) == seq
    rng = random.Random(7)
    seq = [rng.randrange(256) for _ in range(60000)]
    enc = lzw_encode(seq, 8)
    assert lzw_decode(enc, 8, len(seq)) == seq
    assert GIF_MAX_CODE == 4096  # the spec cap the reset path honors


@pytest.mark.parametrize("w,h,seed,nc", [(4, 4, 0, 4), (5, 7, 123, 8),
                                         (14, 10, 255, 4), (9, 4, 77, 8)])
def test_gif_synthesize_parse_round_trip(w, h, seed, nc):
    from hadoopmapreduce_spark.operators.multimodal import (
        parse_gif_features,
        synthesize_gif,
    )

    f = parse_gif_features(synthesize_gif(w, h, seed, nc))
    exp = [(x + y + seed) % nc for y in range(h) for x in range(w)]
    assert f["width"] == w and f["height"] == h and f["ncolors"] == nc
    assert f["n_pixels"] == w * h
    assert f["sum_idx"] == sum(exp)
    assert f["max_idx"] == max(exp)
    assert f["poschk"] == sum((i + 1) * v for i, v in enumerate(exp)) % 1000000007


def test_gif_parser_rejects_malformed():
    """The fail-loudly codec contract: structural violations raise, never
    emit garbage features."""
    from hadoopmapreduce_spark.operators.multimodal import (
        parse_gif_features,
        synthesize_gif,
    )

    good = bytearray(synthesize_gif(5, 5, 9, 4))
    with pytest.raises(ValueError):
        parse_gif_features(b"GIF89a" + bytes(good[6:]))  # wrong version
    bad = bytearray(good)
    bad[-1] = 0x00  # trailer clobbered
    with pytest.raises(ValueError):
        parse_gif_features(bytes(bad))
    bad = bytearray(good)
    bad[6] += 1  # screen width != image width
    with pytest.raises(ValueError):
        parse_gif_features(bytes(bad))
    # truncated LZW stream: chop the last sub-block byte
    with pytest.raises(ValueError):
        parse_gif_features(bytes(good[:-3]) + b"\x00\x3b")


# --- streaming left-outer join: watermark-driven null emission -------------


def test_streaming_left_outer_emits_expired_and_holds_tail(spark):
    """Null-extended rows appear ONLY for views the watermark proved
    unmatchable; unmatched views within the trailing 2 h window stay in
    state at query stop and must NOT appear.  Matched pairs equal the
    batch inner join exactly."""
    import pyspark.sql.functions as F

    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.catalog import load_table

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    out = registry.QUERIES["streaming_join_left_outer_expiry"](
        spark, sf
    ).collect()
    matched = {(r["view_id"], r["purchase_id"]) for r in out if r["matched"]}
    nulls = {r["view_id"] for r in out if not r["matched"]}
    for r in out:  # matched rows carry a delta, null rows don't
        assert (r["delta_us"] is not None) == bool(r["matched"])
    e = load_table(spark, sf, "events")
    v = e.filter("event_type='view'").selectExpr(
        "event_id vid", "user_id uid", "ts vts"
    )
    p = e.filter("event_type='purchase'").selectExpr(
        "event_id pid", "user_id puid", "ts pts"
    )
    ref = v.join(
        p,
        (F.col("uid") == F.col("puid"))
        & (F.col("pts") >= F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).collect()
    ref_matched = {(r["vid"], r["pid"]) for r in ref if r["pid"] is not None}
    assert matched == ref_matched
    maxts = e.agg(F.max("ts")).collect()[0][0]
    import datetime

    margin = maxts - datetime.timedelta(hours=2, minutes=1)
    ref_unmatched_under = {
        r["vid"] for r in ref if r["pid"] is None and r["vts"] <= margin
    }
    ref_unmatched_tail = {
        r["vid"] for r in ref if r["pid"] is None and r["vts"] > margin
    }
    assert nulls == ref_unmatched_under  # every expired view emitted
    assert not (nulls & ref_unmatched_tail)  # held state never leaks


# --- portable HLL -----------------------------------------------------------


def _hll_python_referee(values):
    """Pure-Python walk of the exact estimator pipeline (same constants)."""
    import hashlib

    from hadoopmapreduce_spark.operators.aggregates import (
        HLL_A_NUM,
        HLL_LC_X1E6,
        HLL_M,
        HLL_REST_BITS,
        HLL_SMALL_RANGE_X1E6,
    )

    regs: dict = {}
    for v in set(values):
        h48 = int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)
        bucket = h48 >> HLL_REST_BITS
        rest = h48 & ((1 << HLL_REST_BITS) - 1)
        rho = (HLL_REST_BITS + 1) - rest.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    n_set = len(regs)
    v_zero = HLL_M - n_set
    s = sum(1 << (50 - m) for m in regs.values()) + v_zero * (1 << 50)
    import math

    raw = math.floor(float(HLL_A_NUM) / float(s) * 1e6)
    if raw <= HLL_SMALL_RANGE_X1E6 and v_zero > 0:
        return v_zero, s, HLL_LC_X1E6[v_zero - 1]
    return v_zero, s, raw


def test_hll_matches_python_referee_on_fixture(spark):
    """The distributed sketch must equal a pure-Python walk of the same
    arithmetic bit for bit — registers only ever mix through MAX and the
    harmonic sum is exact int64, so partitioning cannot matter."""
    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.catalog import load_table

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    got = {
        r["status"]: r
        for r in registry.QUERIES["agg_hll_portable_estimate"](
            spark, sf
        ).collect()
    }
    o = load_table(spark, sf, "orders").select(
        "o_orderstatus", "o_custkey"
    ).collect()
    by_status: dict = {}
    for r in o:
        by_status.setdefault(r["o_orderstatus"], []).append(r["o_custkey"])
    for status, vals in by_status.items():
        v_zero, s, est = _hll_python_referee(vals)
        g = got[status]
        assert (g["v_zero"], g["s_scaled"], g["estimate_x1e6"]) == (
            v_zero,
            s,
            est,
        ), status
        # the standard error bound 1.04/sqrt(64) ~ 13%, asserted with slack
        n = g["n_exact"]
        assert abs(g["estimate_x1e6"] - n * 1_000_000) <= 0.25 * n * 1_000_000


def test_hll_linear_counting_branch(spark):
    """Small cardinalities take the linear-counting table (never reached
    on the fixtures where every register is set) — drive the ORACLE SQL
    on a tiny synthetic relation and referee it in Python, so both the
    branch predicate and the precomputed micro-nat table are pinned."""
    import duckdb

    from hadoopmapreduce_spark.operators.aggregates import _hll_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT 'X' AS o_orderstatus,"
        " DATE '1995-03-15' AS o_orderdate, i % 20 AS o_custkey"
        " FROM range(200) t(i)"
    )
    row = con.execute(_hll_oracle()).fetchone()
    status, n_set, v_zero, s, est, n_exact, err = row
    assert n_exact == 20
    v_zero_ref, s_ref, est_ref = _hll_python_referee(list(range(20)))
    assert (v_zero, s, est) == (v_zero_ref, s_ref, est_ref)
    assert v_zero > 0  # the branch actually fired
    from hadoopmapreduce_spark.operators.aggregates import (
        HLL_LC_X1E6,
        HLL_SMALL_RANGE_X1E6,
    )

    assert est == HLL_LC_X1E6[v_zero - 1]  # table lookup, not the raw path
    assert est <= HLL_SMALL_RANGE_X1E6
    # linear counting is tight at this density: within 15% of exact
    assert abs(est - n_exact * 1_000_000) <= 0.15 * n_exact * 1_000_000


# --- CUSUM changepoint -------------------------------------------------------


def test_changepoint_finds_planted_shift():
    """On a synthetic series with a known mean shift the argmax must land
    exactly on the boundary — driven through the ORACLE SQL so the
    criterion itself is pinned engine-independently."""
    import duckdb

    from hadoopmapreduce_spark import registry

    registry.load_all()
    sql = registry.ORACLES["ts_changepoint_cusum"]
    con = duckdb.connect()
    # 60 days at $100/day, then 40 days at $250/day (one order per day)
    con.execute(
        "CREATE VIEW orders AS SELECT DATE '2020-01-01' + INTERVAL (i) DAY"
        " AS o_orderdate, CASE WHEN i < 60 THEN 100.0 ELSE 250.0 END AS"
        " o_totalprice FROM range(100) t(i)"
    )
    row = con.execute(sql).fetchone()
    split_day, n_left, n_right, ml, mr, delta = row
    assert str(split_day) == "2020-02-29"  # day index 59 — the boundary
    assert (n_left, n_right) == (60, 40)
    assert (ml, mr, delta) == (10000, 25000, 15000)


def test_changepoint_matches_python_referee(spark):
    """The distributed argmax must equal a pure-Python CUSUM walk over
    the same daily aggregate (exact integer arithmetic end to end)."""
    from decimal import Decimal

    import pyspark.sql.functions as F

    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.catalog import load_table

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    got = registry.QUERIES["ts_changepoint_cusum"](spark, sf).collect()[0]
    o = load_table(spark, sf, "orders")
    daily = sorted(
        (r["day"], int(r["rev"]))
        for r in o.groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev"
            )
        )
        .collect()
    )
    n = len(daily)
    s = sum(v for _, v in daily)
    best = None
    s_l = 0
    for i, (day, v) in enumerate(daily[:-1], start=1):
        s_l += v
        stat = abs(n * s_l - i * s)
        if best is None or stat > best[0]:
            best = (stat, day, i, s_l)
    _, day, n_l, s_l = best
    assert got["split_day"].date() == (
        day.date() if hasattr(day, "date") else day
    ) or got["split_day"] == day
    assert got["n_left"] == n_l
    assert got["mean_left_cents"] == s_l // n_l
    assert got["mean_right_cents"] == (s - s_l) // (n - n_l)


# --- ROUGE-2 -----------------------------------------------------------------


def test_rouge2_hand_computed_identities():
    """Identical pair scores 1.0 across the board; disjoint pair scores
    0; a half-overlap pair matches the hand computation — driven through
    the oracle SQL so the metric definition is engine-independent."""
    import duckdb

    from hadoopmapreduce_spark import registry

    registry.load_all()
    sql = registry.ORACLES["eval_rouge2_pairs"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, 'a b c d'), (1, 'a b c d'), "          # identical
        "(2, 'a b c'),   (3, 'x y z'), "            # disjoint
        "(4, 'a b c d'), (5, 'a b x y')"            # 1 of 3 vs 3 grams
        ") t(doc_id, text)"
    )
    rows = {r[0]: r for r in con.execute(sql).fetchall()}
    # identical: 3 bigrams each, all common
    assert rows[0][2:] == (3, 3, 3, 1000000, 1000000, 1000000)
    # disjoint: 2 bigrams each, none common
    assert rows[2][2:] == (2, 2, 0, 0, 0, 0)
    # half: cand {ab,bc,cd}, ref {ab,bx,xy} -> common {ab}
    n_cand, n_ref, n_common, rec, prec, f1 = rows[4][2:]
    assert (n_cand, n_ref, n_common) == (3, 3, 1)
    assert rec == prec == 1000000 // 3
    assert f1 == 2 * 1000000 // 6


# --- Matryoshka truncation eval ----------------------------------------------


def test_matryoshka_full_prefix_is_perfect_and_monotone_tail(spark):
    """The 64-prefix rows must recall 1.0 by construction (truncated
    search == the truth search), every recall is a multiple of 1/k, and
    the mean recall at 32 dims must beat 8 dims on this fixture (the
    measured curve: 0.08 / 0.08 / 0.30 / 1.00)."""
    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.operators.evals import MRL_TOP_K

    registry.load_all()
    rows = registry.QUERIES["eval_matryoshka_truncation"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    by_prefix: dict = {}
    for r in rows:
        assert 0 <= r["n_hits"] <= MRL_TOP_K
        assert r["recall_ppm"] == r["n_hits"] * 1_000_000 // MRL_TOP_K
        by_prefix.setdefault(r["dim_prefix"], []).append(r["n_hits"])
    assert all(h == MRL_TOP_K for h in by_prefix[64])
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert mean(by_prefix[32]) > mean(by_prefix[8])


# --- registry hygiene: the decorator-adjacency guard ------------------------


def test_registered_function_names_match_query_ids():
    """Every @query decorator must sit DIRECTLY on the function it names:
    this session a helper inserted between a decorator and its def got
    registered under the query's name (the driver would have run the
    helper).  Pinning name == __name__ makes that class of mishap a test
    failure instead of a driver red."""
    from hadoopmapreduce_spark import registry

    registry.load_all()
    mismatched = {
        name: fn.__name__
        for name, fn in registry.QUERIES.items()
        if fn.__name__ != name
    }
    assert not mismatched, mismatched


# --- BENCH pipeline: the printed line must fit the driver's tail capture --


def test_bench_line_budget_constant():
    import bench

    assert bench.LINE_BUDGET <= 1900  # driver keeps a ~2000-char tail


def test_sync_baseline_scrapes_truncated_tails():
    """BENCH_r07..r09 lost their parsed payload to tail truncation; the
    baseline sync must recover the scalar fields that survive in the
    tail so the bench table carries a row for every round."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import sync_baseline

    for n, want_queries in ((7, 302), (8, 309), (9, 319)):
        data = json.load(open(os.path.join(REPO, f"BENCH_r0{n}.json")))
        assert data["parsed"] is None  # the historical artifacts stay as-is
        scraped = sync_baseline._scrape_tail(data["tail"])
        assert scraped["n_queries"] == want_queries
        assert scraped["n_failed"] == 0
        assert scraped["cold_total"] > 0
    # r9 additionally preserved its contamination flag
    r9 = json.load(open(os.path.join(REPO, "BENCH_r09.json")))
    assert sync_baseline._scrape_tail(r9["tail"])["load_gate"] == "contaminated"


def test_bench_printed_line_elides_to_budget(monkeypatch):
    """The elision loop drops the OLDEST headline entries first and
    records how many were dropped."""
    # simulate: a queries map far over budget
    queries = {f"q{i:03d}_{'x' * 20}": 1.234 for i in range(200)}
    summary = {
        "metric": "full_suite_wall_seconds",
        "value": 1.0,
        "unit": "sec",
        "queries": dict(queries),
        "n_queries": 200,
        "n_failed": 0,
        "cold_total": 2.0,
        "outliers": 0,
        "loadavg_before": [0.0, 0.0, 0.0],
        "loadavg_after": [0.0, 0.0, 0.0],
        "load_gate": "ok",
        "sf": 0.1,
    }
    import bench

    printed = dict(summary)
    elided = 0
    line = json.dumps(printed)
    while len(line) > bench.LINE_BUDGET and printed["queries"]:
        first = next(iter(printed["queries"]))
        del printed["queries"][first]
        elided += 1
        printed["queries_elided"] = elided
        line = json.dumps(printed)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["queries_elided"] == elided > 0
    # newest entries survive; oldest were dropped
    kept = list(parsed["queries"])
    assert kept == list(queries)[-len(kept):]
