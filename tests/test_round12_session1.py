"""Round-12 session 1 tests.

* bench.py canary normalization (VERDICT r11 ask #2): the series math is
  pure and pinned exactly here; the integration (series lands in the
  sidecar with the right shape) is pinned by the sf0.001 smoke in the
  round notes.
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_canary_normalize_exact_math():
    # two segments: seg0 ran under 2x host load (canary 0.4 vs min 0.2),
    # seg1 at min speed.  seg0's 10s scales by 0.2/mean(0.4,0.2)=2/3 -> but
    # bracketing mean is (0.4+0.2)/2=0.3 so factor 0.2/0.3; seg1 bracketed
    # by (0.2+0.2)/2=0.2 -> factor 1.
    series = [[0, 0.4], [25, 0.2], [30, 0.2]]
    walls = [10.0, 5.0]
    got = bench.canary_normalize(walls, series)
    assert got == round(10.0 * (0.2 / 0.3) + 5.0 * 1.0, 3)


def test_canary_normalize_identity_when_flat():
    # flat canary -> normalized total == raw total
    series = [[0, 0.5], [25, 0.5], [50, 0.5], [60, 0.5]]
    walls = [7.0, 8.0, 3.0]
    assert bench.canary_normalize(walls, series) == 18.0


def test_canary_normalize_degrades_on_failed_sample():
    assert bench.canary_normalize([10.0], [[0, -1.0], [25, 0.2]]) is None
    assert bench.canary_normalize([10.0], [[0, 0.2]]) is None  # <2 samples
    # segment/sample count mismatch must not silently misalign
    assert bench.canary_normalize([10.0, 5.0], [[0, 0.2], [25, 0.2]]) is None


def test_canary_normalized_never_exceeds_raw():
    # factors are min/bracket <= 1, so normalization can only deflate
    series = [[0, 0.3], [25, 0.6], [50, 0.2], [60, 0.9]]
    walls = [10.0, 10.0, 10.0]
    got = bench.canary_normalize(walls, series)
    assert got is not None and got <= 30.0


def test_canary_constants():
    assert bench.CANARY_QUERY == "ctr_flagship"
    assert bench.CANARY_EVERY == int(
        os.environ.get("SPARK_GRAFT_BENCH_CANARY_EVERY", "25")
    )


def test_bench_printed_line_carries_canary_scalars():
    """The PRINTED line (not just the sidecar) must carry the three canary
    scalars so the driver artifact is self-adjudicating even when the
    sidecar is later overwritten."""
    src = open(os.path.join(REPO, "bench.py")).read()
    for key in ("canary_min", "canary_drift", "canary_norm_total"):
        assert f'"{key}"' in src


def _registry():
    from hadoopmapreduce_spark import registry

    registry.load_all()
    return registry


# --- BM25 ranked retrieval (VERDICT r11 ask #5) -----------------------------


def test_bm25_self_retrieval_and_shape(spark, sf_dir):
    """Each probe queries with its own top keywords, so it should retrieve
    itself: at the fixture every one of the 8 probes has itself in its
    top-5 (pinned with a 6/8 margin for fixture drift); output is exactly
    panel x top_k rows with ranks 1..k and positive integer scores."""
    from hadoopmapreduce_spark.operators import textops as T

    registry = _registry()
    rows = registry.QUERIES["text_bm25_topk"](spark, sf_dir).collect()
    assert len(rows) == T.BM25_PANEL * T.BM25_TOP_K
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_doc, []).append(r)
    assert len(by_q) == T.BM25_PANEL
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == list(range(1, T.BM25_TOP_K + 1))
        # ranks ordered by (score desc, doc_id asc)
        rs = sorted(rs, key=lambda r: r.rank)
        for a, b in zip(rs, rs[1:]):
            assert (a.score_mppm, -a.doc_id) >= (b.score_mppm, -b.doc_id)
        assert all(r.score_mppm > 0 for r in rs)
        assert all(1 <= r.n_terms <= T.BM25_QTERMS for r in rs)
    n_self = sum(1 for rs in by_q.values() if any(r.is_self for r in rs))
    assert n_self >= 6


def test_bm25_integer_bounds_at_fixture(spark, sf_dir):
    """The docstring's int64 bound, checked live: the largest intermediate
    20·tf·T·1e6 must clear int64 with margin at fixture scale."""
    import pyspark.sql.functions as F

    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.textops import _tokens

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    mx = tf.agg(F.max("tf").alias("m")).first()["m"]
    total = tf.agg(F.sum("tf").alias("s")).first()["s"]
    assert 20 * mx * total * 1_000_000 < 2**62


# --- BMP/RLE8 codec family #8 (VERDICT r11 ask #7) ---------------------------


def test_bmp_rle8_both_packet_modes_present():
    """The pixel law must force BOTH RLE8 packet types into every image:
    encoded packets (count>0) from the even rows' length-4 blocks and at
    least one absolute-mode packet (00, count>=3) from the odd rows."""
    from hadoopmapreduce_spark.operators.multimodal import synthesize_bmp_rle8

    for w, h, seed, nc in [(4, 4, 0, 5), (16, 8, 99, 16), (9, 7, 201, 5)]:
        payload = synthesize_bmp_rle8(w, h, seed, nc)
        import struct

        data_off = struct.unpack_from("<I", payload, 10)[0]
        stream = payload[data_off:]
        has_encoded = has_absolute = False
        pos = 0
        while pos + 2 <= len(stream):
            b0, b1 = stream[pos], stream[pos + 1]
            pos += 2
            if b0 > 0:
                has_encoded = True
            elif b1 >= 3:
                has_absolute = True
                pos += b1 + (b1 % 2)
            elif b1 == 1:
                break
        assert has_encoded and has_absolute, (w, h, seed, nc)


def test_bmp_rle8_decoder_rejects_structural_violations():
    import struct

    import pytest

    from hadoopmapreduce_spark.operators.multimodal import (
        parse_bmp_features,
        rle8_decode,
        synthesize_bmp_rle8,
    )

    good = synthesize_bmp_rle8(8, 5, 7, 5)
    parse_bmp_features(good)  # sanity
    # truncation
    with pytest.raises(ValueError):
        parse_bmp_features(good[:-3])
    # delta escape
    with pytest.raises(ValueError, match="delta"):
        rle8_decode(b"\x00\x02\x01\x01\x00\x01", 4, 1)
    # EOL before the row is full
    with pytest.raises(ValueError, match="EOL"):
        rle8_decode(b"\x02\x01\x00\x00\x00\x01", 4, 1)
    # trailing garbage after EOB
    with pytest.raises(ValueError, match="trailing"):
        rle8_decode(b"\x04\x01\x00\x01\xde\xad", 4, 1)
    # biSizeImage mismatch
    bad = bytearray(good)
    struct.pack_into("<I", bad, 14 + 20, 1)
    with pytest.raises(ValueError, match="biSizeImage"):
        parse_bmp_features(bytes(bad))


def test_bmp_bottom_up_flip_is_load_bearing():
    """poschk is defined in SCREEN space while the file stores rows
    bottom-up — a decoder that skips the flip must land a DIFFERENT
    poschk (the GIF-interlace-style differential)."""
    from hadoopmapreduce_spark.operators.multimodal import (
        parse_bmp_features,
        rle8_decode,
        synthesize_bmp_rle8,
    )
    import struct

    w, h, seed, nc = (9, 6, 42, 16)
    payload = synthesize_bmp_rle8(w, h, seed, nc)
    f = parse_bmp_features(payload)
    data_off = struct.unpack_from("<I", payload, 10)[0]
    idx_screen = rle8_decode(payload[data_off:], w, h)
    # un-flip: reconstruct the naive (file-order) reading
    naive = []
    for yf in range(h):
        row = idx_screen[(h - 1 - yf) * w : (h - yf) * w]
        naive.extend(row)
    pos_naive = sum((i + 1) * v for i, v in enumerate(naive)) % 1000000007
    assert pos_naive != f["poschk"]


def test_bmp_absolute_mode_padding_roundtrip():
    """Odd-length absolute packets carry a word-boundary pad byte; an
    odd-width image with per-pixel variation exercises it on every odd
    row (w=7 -> 7 literals -> 1 pad)."""
    from hadoopmapreduce_spark.operators.multimodal import (
        bmp_pixel_law,
        parse_bmp_features,
        synthesize_bmp_rle8,
    )

    w, h, seed, nc = (7, 5, 3, 5)
    f = parse_bmp_features(synthesize_bmp_rle8(w, h, seed, nc))
    assert f["sum_idx"] == sum(
        bmp_pixel_law(x, y, seed, nc) for y in range(h) for x in range(w)
    )


# --- BLEU components (eval-family completion) --------------------------------


def test_bleu_components_semantics(spark, sf_dir):
    """Fixture pins on the clipped-precision decomposition: p1 >= p2 >=
    p3 >= p4 on every pair of THIS corpus (matching a higher-order gram
    requires matching its constituents, so precision falls with order on
    natural-ish data; clipping admits contrived exceptions, hence a
    fixture pin, not a theorem claim); each pn in [0, 1e6];
    brevity_ppm = 1e6*len_c div len_r exactly; one row per even/odd
    adjacent pair."""
    registry = _registry()
    rows = registry.QUERIES["eval_bleu_components"](spark, sf_dir).collect()
    assert rows, "no pairs"
    for r in rows:
        assert r.cand_id % 2 == 0 and r.ref_id == r.cand_id + 1
        ps = [r.p1_ppm, r.p2_ppm, r.p3_ppm, r.p4_ppm]
        assert all(p is not None and 0 <= p <= 1_000_000 for p in ps), r
        assert ps == sorted(ps, reverse=True), r
        assert r.brevity_ppm == r.len_c * 1_000_000 // r.len_r
    # the corpus is word soup: unigram overlap is substantial, 4-gram
    # overlap is rare — the decomposition must show the spread
    import statistics

    assert statistics.median(r.p1_ppm for r in rows) > 300_000
    assert statistics.median(r.p4_ppm for r in rows) < 200_000
