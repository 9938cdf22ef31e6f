"""Round-13 session-1 pins.

Covers the ADVICE r12 fixes (BLEU short-doc guard, comparator defaults)
and the round's new operators as they land.
"""

from __future__ import annotations

import importlib
import os

import pytest


def _registry():
    from hadoopmapreduce_spark import registry

    registry.load_all()
    return registry


# --- BLEU short-doc guard (ADVICE r12, medium) --------------------------------


def test_bleu_components_short_docs(spark, tmp_path):
    """ADVICE r12: sequence(1, stop) DESCENDS when stop < 1, so an
    unguarded doc shorter than n tokens evaluated element_at at index 0
    and past the end — INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI.
    The per-order IF guard must yield zero grams instead: p_n is NULL
    (0-denominator) for every order longer than the candidate, and the
    populated orders still score exactly."""
    registry = _registry()
    docs = spark.createDataFrame(
        [
            (0, "a b c"),  # cand: 3 tokens -> p4 NULL
            (1, "a b d"),  # ref
            (2, "x"),  # cand: 1 token -> p2..p4 NULL
            (3, "x"),  # ref
            (4, "p q"),  # cand: 2 tokens -> p3, p4 NULL
            (5, "q r s t"),  # ref longer than cand
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r.cand_id: r
        for r in registry.QUERIES["eval_bleu_components"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == {0, 2, 4}

    r0 = rows[0]  # 3-token pair: unigrams a,b,c vs a,b,d -> 2/3 clipped
    assert r0.p1_ppm == 2 * 1_000_000 // 3
    assert r0.p2_ppm == 1_000_000 // 2  # "a b" matches, "b c" doesn't
    assert r0.p3_ppm == 0  # "a b c" vs "a b d"
    assert r0.p4_ppm is None  # no 4-grams in a 3-token doc
    assert r0.brevity_ppm == 1_000_000

    r2 = rows[2]  # 1-token exact match
    assert r2.p1_ppm == 1_000_000
    assert r2.p2_ppm is None and r2.p3_ppm is None and r2.p4_ppm is None

    r4 = rows[4]  # 2 tokens vs 4: q matches, "p q" doesn't
    assert r4.p1_ppm == 500_000
    assert r4.p2_ppm == 0
    assert r4.p3_ppm is None and r4.p4_ppm is None
    assert r4.brevity_ppm == 2 * 1_000_000 // 4


# --- compare_bench default arguments (ADVICE r12, low) ------------------------


def test_compare_bench_defaults(tmp_path, monkeypatch, capsys):
    """ADVICE r12: the docstring advertises zero-arg defaults but main()
    exited with a usage error.  Defaults are now real: OLD = committed
    bench_full.json (git show HEAD:...), NEW = working tree; the last
    stdout line is one machine-readable JSON verdict (VERDICT r12 ask
    #7)."""
    import json
    import subprocess
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    import compare_bench

    importlib.reload(compare_bench)

    def mk(qs, cmin):
        return {
            "queries": qs,
            "canary": {"min": cmin, "series": []},
        }

    monkeypatch.chdir(tmp_path)
    subprocess.run(["git", "init", "-q"], check=True)
    subprocess.run(["git", "config", "user.email", "t@t"], check=True)
    subprocess.run(["git", "config", "user.name", "t"], check=True)
    (tmp_path / "bench_full.json").write_text(
        json.dumps(mk({"q": 1.0, "r": 2.0}, 0.4))
    )
    subprocess.run(["git", "add", "-A"], check=True)
    subprocess.run(["git", "commit", "-qm", "prior"], check=True)
    # working tree: host 2x slower by canary; code unchanged
    (tmp_path / "bench_full.json").write_text(
        json.dumps(mk({"q": 2.0, "r": 4.0}, 0.8))
    )
    monkeypatch.setattr(sys, "argv", ["compare_bench.py"])
    assert compare_bench.main() == 0
    out = capsys.readouterr().out
    res = json.loads(out.splitlines()[-1])
    assert res["old"] == "git:HEAD:bench_full.json"
    assert res["median_ratio_raw"] == pytest.approx(2.0)
    assert res["canary_anchor"] == pytest.approx(2.0)
    assert res["median_ratio_anchored"] == pytest.approx(1.0)
    # one arg is still a usage error
    monkeypatch.setattr(sys, "argv", ["compare_bench.py", "x.json"])
    assert compare_bench.main() == 2


# --- retrieval_rrf_fusion (VERDICT r12 ask #4) ---------------------------------


def test_rrf_fusion_semantics(spark, sf_dir):
    """RRF invariants on the fixture: every fused row's rrf_units equals
    the exact reciprocal sum recomputed from its contributing ranks; the
    probe never appears in its own fused list; items present in BOTH
    panels outrank any single-panel item with the same best rank; ranks
    are dense 1..k per query over the shared probe set."""
    from hadoopmapreduce_spark.operators.retrieval import (
        RRF_K,
        RRF_TOP_K,
        RRF_UNIT,
    )

    registry = _registry()
    rows = registry.QUERIES["retrieval_rrf_fusion"](spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r.item_id != r.query_id
        expect = sum(
            RRF_UNIT // (RRF_K + rk)
            for rk in (r.lex_rank, r.sem_rank)
            if rk is not None
        )
        assert r.rrf_units == expect and expect > 0, r
        assert r.lex_rank is not None or r.sem_rank is not None
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= RRF_TOP_K
        # fused order is non-increasing in units with item_id tiebreak
        units = [r.rrf_units for r in rs]
        assert units == sorted(units, reverse=True)
    # both panels contribute somewhere (the fusion isn't degenerate)
    assert any(r.lex_rank is not None and r.sem_rank is None for r in rows)
    assert any(r.sem_rank is not None and r.lex_rank is None for r in rows)


def test_rrf_unit_is_exact_lcm():
    """Every reciprocal the fused score sums must be an exact integer in
    RRF_UNIT units — the no-float-rank-arithmetic guarantee."""
    from hadoopmapreduce_spark.operators.retrieval import (
        RRF_K,
        RRF_TOP_K,
        RRF_UNIT,
    )

    for r in range(1, RRF_TOP_K + 1):
        assert RRF_UNIT % (RRF_K + r) == 0


# --- retrieval_rbo_overlap ------------------------------------------------------


def test_rbo_constants_exact():
    """The RBO@5, p=1/2 integerization: per-depth coefficients 1920/(2^d·d),
    suffix sums for first-counted depth m, and the full-agreement total
    (1 - p^D)·RBO_UNIT = 1860."""
    from hadoopmapreduce_spark.operators.retrieval import (
        RBO_DEPTH,
        RBO_SUFFIX,
        RBO_UNIT,
    )

    assert RBO_UNIT == 1920
    coeff = [RBO_UNIT // (2**d * d) for d in range(1, RBO_DEPTH + 1)]
    assert all(RBO_UNIT % (2**d * d) == 0 for d in range(1, RBO_DEPTH + 1))
    assert RBO_SUFFIX == [sum(coeff[m - 1 :]) for m in range(1, RBO_DEPTH + 1)]
    assert RBO_SUFFIX == [1322, 362, 122, 42, 12]
    # identical lists: item at rank r first counted at depth r
    assert sum(RBO_SUFFIX) == 1860 == RBO_UNIT - RBO_UNIT // 2**RBO_DEPTH


def test_rbo_fixture_bounds(spark, sf_dir):
    registry = _registry()
    rows = registry.QUERIES["retrieval_rbo_overlap"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.rbo_units <= 1860
        assert 0 <= r.top1_match <= 1
        assert (r.n_common == 0) == (r.rbo_units == 0)
        # minimum possible nonzero contribution is the depth-5 suffix
        if r.n_common:
            assert r.rbo_units >= 12 * r.n_common


# --- ann_lsh_eval (VERDICT r12 ask #3) ------------------------------------------


def test_lsh_eval_signature_paths_agree(spark, sf_dir):
    """The eval's order-pinned fold signatures and production
    ann_lsh_topk's GEMM signatures must assign every fixture vector the
    same (table, sig) — BLAS summation order only matters when a
    projection sits within one ulp-reorder of zero, and any such
    near-boundary flip must surface here, not in a 100 TB run."""
    import numpy as np

    from hadoopmapreduce_spark.operators import similarity as S

    registry = _registry()  # noqa: F841 - ensures registration side-effects
    n = S._embeddings(spark, sf_dir)
    exact = {
        (r.vec_id, r.table_id): r.sig
        for r in S._lsh_sig_exact(n.select("vec_id", "v")).collect()
    }
    planes = np.array(
        [
            S._hyperplane(t, b)
            for t in range(S.LSH_TABLES)
            for b in range(S.LSH_BITS)
        ]
    )
    bit_weights = np.array([1 << b for b in range(S.LSH_BITS)])
    rows = n.select("vec_id", "v").collect()
    V = np.stack([np.array(r.v) for r in rows])
    proj = V @ planes.T >= 0
    sigs = (
        proj.reshape(len(V), S.LSH_TABLES, S.LSH_BITS) * bit_weights
    ).sum(axis=2)
    gemm = {
        (r.vec_id, t): int(sigs[i, t])
        for i, r in enumerate(rows)
        for t in range(S.LSH_TABLES)
    }
    assert exact == gemm


def test_lsh_eval_recall_floor(spark, sf_dir):
    """The banding scheme's measured recall on the fixture (0.90 at
    sf0.001, 0.98 at sf0.01 — the numbers the module header documents)
    must stay above the 0.8 floor test_similarity.py pins for the
    production query, now read off the adjudicated metric row."""
    registry = _registry()
    row = registry.QUERIES["ann_lsh_eval"](spark, sf_dir).collect()[0]
    assert row.n_truth > 0
    assert row.recall_ppm >= 800_000
    assert 0 < row.n_hits <= row.n_candidates


# --- text_bpe_train_merges (VERDICT r12 ask #2) ---------------------------------


def test_bpe_train_marker_semantics(spark, sf_dir):
    """Structural pins on the marked trainer: a marker-bearing symbol is
    word-final so it can NEVER be a pair's lhs (nothing follows it);
    merged = lhs||rhs; rounds dense from 1; n_symbols grows by at most 1
    per round (merging adds one type, may absorb lhs/rhs types); the
    fixture trace exercises BOTH regimes (word-final and mid-word
    merges)."""
    registry = _registry()
    rows = registry.QUERIES["text_bpe_train_merges"](spark, sf_dir).collect()
    assert rows
    rows.sort(key=lambda r: r.round)
    assert [r.round for r in rows] == list(range(1, len(rows) + 1))
    from hadoopmapreduce_spark.operators.textops import BPE_EOW

    for r in rows:
        assert BPE_EOW not in r.lhs, r
        assert r.merged == r.lhs + r.rhs
        assert r.pair_count > 0 and r.n_symbols > 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_symbols <= prev.n_symbols + 1
    assert any(r.merged.endswith(BPE_EOW) for r in rows)
    assert any(not r.merged.endswith(BPE_EOW) for r in rows)


def test_bpe_train_hand_computed_and_exhaustion(spark, tmp_path):
    """Hand-computable corpus: 'ab ab b a' has vocab {ab:2, b:1, a:1};
    the only adjacent pair is (a, b$) with weight 2, so round 1 merges
    ab$ (symbols afterwards: ab$, b$, a$ -> 3 types) and the trainer must
    then STOP (pair exhaustion), emitting exactly one trace row — the
    oracle's empty b2 likewise ends its UNION."""
    registry = _registry()
    docs = spark.createDataFrame(
        [(0, "ab ab b a", "en", "t", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = registry.QUERIES["text_bpe_train_merges"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.round, r.lhs, r.rhs, r.merged) == (1, "a", "b$", "ab$")
    assert r.pair_count == 2 and r.n_symbols == 3


# --- image_jpeg_huffman_decode (VERDICT r12 ask #5, codec family #9) ------------


def _jpeg_expected(wb, hb, seed):
    from hadoopmapreduce_spark.operators.multimodal import _jpeg_coeff_law

    nb = wb * hb
    dc = dc_final = sum_dc = dc_poschk = 0
    n_ac = sum_acd = ac_poschk = 0
    for b, (diff, acs) in enumerate(_jpeg_coeff_law(nb, seed)):
        dc += diff
        sum_dc += dc
        dc_poschk += (b + 1) * dc
        for p, v in acs:
            n_ac += 1
            sum_acd += v * (p + 1)
            ac_poschk += (64 * b + p) * v
        dc_final = dc
    return dict(
        n_blocks=nb,
        dc_final=dc_final,
        sum_dc_dequant=sum_dc,
        dc_poschk=dc_poschk,
        n_nonzero_ac=n_ac,
        sum_ac_dequant=sum_acd,
        ac_poschk=ac_poschk,
    )


def test_jpeg_huffman_roundtrip_exact():
    """Encode→decode must reproduce the coefficient law exactly for every
    (grid, seed) the fixture generates, including seeds whose scans carry
    stuffed 0xFF bytes and every block's forced ZRL gap."""
    from hadoopmapreduce_spark.operators.multimodal import (
        decode_jpeg_huffman,
        synthesize_jpeg_baseline,
    )

    stuffed = 0
    for doc_id in range(256):
        wb, hb, s = doc_id % 3 + 1, doc_id % 2 + 1, doc_id % 256
        payload = synthesize_jpeg_baseline(wb, hb, s)
        if b"\xff\x00" in payload[2:-2]:
            stuffed += 1
        assert decode_jpeg_huffman(payload) == _jpeg_expected(wb, hb, s)
    # the law must actually drive the unstuff path somewhere in the corpus
    assert stuffed > 0


def test_jpeg_huffman_structural_violations():
    """Corruptions must FAIL LOUDLY, not produce plausible numbers: a
    truncated scan exhausts the bit reader; a bogus in-scan marker is
    rejected; a DHT symbol-count mismatch is rejected; and flipping one
    magnitude bit shifts a checksum (the decode is bit-load-bearing)."""
    from hadoopmapreduce_spark.operators.multimodal import (
        decode_jpeg_huffman,
        synthesize_jpeg_baseline,
    )

    good = synthesize_jpeg_baseline(2, 2, 37)
    base = decode_jpeg_huffman(good)

    # truncate the entropy scan (drop 3 bytes before EOI)
    with pytest.raises(ValueError):
        decode_jpeg_huffman(good[:-5] + good[-2:])
    # corrupt a stuffed/scan byte into a marker: find a non-FF scan byte
    # near the end and make it FF followed by a non-0/EOI byte
    bad = bytearray(good)
    bad[-4] = 0xFF
    bad[-3] = 0xC3
    with pytest.raises(ValueError):
        decode_jpeg_huffman(bytes(bad))
    # DHT mismatch: claim one more length-6 code than symbols provided
    dht_at = good.index(bytes((0xFF, 0xC4)))
    bad2 = bytearray(good)
    # BITS array starts at dht_at+5 (marker, len16, tc_th); bump a count
    bad2[dht_at + 5] += 1
    with pytest.raises(ValueError):
        decode_jpeg_huffman(bytes(bad2))
    # flip one bit in the second-to-last scan byte (the LAST byte's low
    # bits are 1-padding the decoder never consumes, so flip before it):
    # either the decode fails (broken symbol) or a checksum moves
    bad3 = bytearray(good)
    bad3[-4] ^= 0x01
    try:
        got = decode_jpeg_huffman(bytes(bad3))
        assert got != base
    except ValueError:
        pass


def test_jpeg_huffman_tables_read_from_stream():
    """The decoder must derive its Huffman tables from DHT, not constants:
    permuting the DHT symbol order (a different but valid canonical
    table) while re-encoding with the permuted codes must still decode
    exactly."""
    from hadoopmapreduce_spark.operators import multimodal as M

    # rebuild a payload whose AC DHT lists symbols in REVERSED order;
    # encode with the matching codes — a table-faithful decoder is
    # invariant, a constants-assuming one breaks
    orig = M._JPEG_HUFF_AC_SYMBOLS
    try:
        M._JPEG_HUFF_AC_SYMBOLS = tuple(reversed(orig))
        payload = M.synthesize_jpeg_baseline(3, 2, 91)
    finally:
        M._JPEG_HUFF_AC_SYMBOLS = orig
    assert M.decode_jpeg_huffman(payload) == _jpeg_expected(3, 2, 91)


# --- text_wordpiece_train_merges ------------------------------------------------


def test_wordpiece_train_semantics(spark, sf_dir):
    """Structural pins: score_key is exactly the quantized likelihood
    (cnt << 30) div (lc·rc); marker discipline (lhs never word-final);
    merged = lhs||rhs; rounds dense; and the DIFFERENTIAL that defines
    the operator — the likelihood argmax picks a different round-1 merge
    than BPE's count argmax on the same corpus (BPE learns the most
    COMMON pair; WordPiece learns the most EXCLUSIVE one)."""
    from hadoopmapreduce_spark.operators.textops import (
        BPE_EOW,
        WP_SCORE_SHIFT,
    )

    registry = _registry()
    wp = registry.QUERIES["text_wordpiece_train_merges"](
        spark, sf_dir
    ).collect()
    assert wp
    wp.sort(key=lambda r: r.round)
    assert [r.round for r in wp] == list(range(1, len(wp) + 1))
    for r in wp:
        assert BPE_EOW not in r.lhs
        assert r.merged == r.lhs + r.rhs
        assert r.score_key == (r.pair_count << WP_SCORE_SHIFT) // (
            r.lhs_count * r.rhs_count
        )
        assert 0 < r.pair_count <= min(r.lhs_count, r.rhs_count)
    bpe = registry.QUERIES["text_bpe_train_merges"](spark, sf_dir).collect()
    bpe.sort(key=lambda r: r.round)
    assert (wp[0].lhs, wp[0].rhs) != (bpe[0].lhs, bpe[0].rhs)
    # composition across rounds: at least one later merge consumes an
    # earlier round's merged symbol (the w+in -> win -> wind chain)
    merged_syms = {r.merged for r in wp}
    assert any(
        r.lhs in merged_syms or r.rhs in merged_syms for r in wp[1:]
    )


# --- eval_chrf_components -------------------------------------------------------


def test_chrf_components_semantics(spark, sf_dir):
    """Per pair: matches are symmetric-clipped so m_n <= min(total_c,
    total_r) implies p_n and r_n <= 1e6; m is non-increasing in order on
    this corpus (matching an n-gram requires matching its chars);
    p/r NULL only when the corresponding total is 0 (never on fixture
    docs)."""
    registry = _registry()
    rows = registry.QUERIES["eval_chrf_components"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.ref_id == r.cand_id + 1
        ms = [r.m1, r.m2, r.m3, r.m4]
        assert ms == sorted(ms, reverse=True), r
        for n in (1, 2, 3, 4):
            p, rr = getattr(r, f"p{n}_ppm"), getattr(r, f"r{n}_ppm")
            assert p is not None and 0 <= p <= 1_000_000
            assert rr is not None and 0 <= rr <= 1_000_000


def test_chrf_short_strings(spark, tmp_path):
    """The BLEU short-doc lesson applied at build time: a candidate with
    fewer than n chars (after whitespace removal) contributes zero
    n-grams for that order — p_n NULL via the 0 denominator — and exact
    hand-computed values on a 2-char pair."""
    registry = _registry()
    docs = spark.createDataFrame(
        [
            (0, "a b", "en", "t", 3),   # cs = 'ab' -> no 3/4-grams
            (1, "ab", "en", "t", 2),    # cs = 'ab'
            (2, "x", "en", "t", 1),     # cs = 'x' -> only unigrams
            (3, "y z", "en", "t", 3),   # cs = 'yz'
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r.cand_id: r
        for r in registry.QUERIES["eval_chrf_components"](
            spark, str(tmp_path)
        ).collect()
    }
    r0 = rows[0]  # 'ab' vs 'ab': perfect through order 2, no order 3/4
    assert (r0.m1, r0.m2, r0.m3, r0.m4) == (2, 1, 0, 0)
    assert r0.p1_ppm == r0.r1_ppm == 1_000_000
    assert r0.p2_ppm == r0.r2_ppm == 1_000_000
    assert r0.p3_ppm is None and r0.r3_ppm is None
    r2 = rows[2]  # 'x' vs 'yz': no overlap anywhere
    assert r2.m1 == 0 and r2.p1_ppm == 0
    assert r2.r1_ppm == 0  # 0 matches over 2 ref unigrams
    assert r2.p2_ppm is None  # cand has no bigrams
    assert r2.r2_ppm == 0  # ref has one bigram, zero matched


# --- archive_deflate_decode (codec family #10) ----------------------------------


def test_deflate_roundtrip_and_zlib_conformance():
    """Two-sided proof: (1) the from-scratch decoder reproduces the byte
    law exactly; (2) stdlib zlib decodes the SAME synthesized streams to
    the SAME bytes — the encoder emits real RFC 1951 DEFLATE, not a
    private dialect."""
    import zlib

    from hadoopmapreduce_spark.operators import multimodal as M

    for seed in range(256):
        payload = M.synthesize_deflate(seed)
        law = M._deflate_law(seed)[0]
        assert zlib.decompress(payload, -15) == law
        got = M.inflate(payload)
        a32 = zlib.adler32(law)
        assert got["adler_a"] == a32 & 0xFFFF
        assert got["adler_b"] == a32 >> 16
        assert got["n_bytes"] == len(law)
        assert got["n_matches"] == 1 and got["n_blocks"] == 2


def test_deflate_structural_violations():
    """LEN/NLEN corruption, truncation, distance-beyond-window, and the
    dynamic BTYPE must all fail loudly; a flipped literal bit must shift
    a checksum or break a code."""
    from hadoopmapreduce_spark.operators import multimodal as M

    good = M.synthesize_deflate(42)
    base = M.inflate(good)

    # corrupt NLEN (bytes 1-4 after the 3 header bits + align = offset 1)
    bad = bytearray(good)
    bad[3] ^= 0xFF  # NLEN low byte
    with pytest.raises(ValueError):
        M.inflate(bytes(bad))
    # truncate mid-fixed-block
    with pytest.raises(ValueError):
        M.inflate(good[: len(good) - 3])
    # overlapping copies are load-bearing: a memcpy-style copy (read the
    # window BEFORE the copy grows it) would diverge from the law because
    # every stream's distance < length
    l, d = M._deflate_law(42)[3]
    assert d < l
    # flip one bit mid-stream: either invalid code or different output
    bad2 = bytearray(good)
    bad2[len(bad2) // 2] ^= 0x10
    try:
        assert M.inflate(bytes(bad2)) != base
    except ValueError:
        pass


def test_deflate_canonical_matches_spec_fixed_table():
    """The canonical construction must reproduce RFC 1951 §3.2.6's fixed
    code table at its four published anchor points."""
    from hadoopmapreduce_spark.operators.multimodal import (
        _deflate_canonical,
        _fixed_litlen_lengths,
    )

    codes = _deflate_canonical(_fixed_litlen_lengths())
    assert codes[0] == (0b00110000, 8)      # literal 0
    assert codes[143] == (0b10111111, 8)    # literal 143
    assert codes[144] == (0b110010000, 9)   # literal 144
    assert codes[256] == (0b0000000, 7)     # end-of-block
    assert codes[280] == (0b11000000, 8)    # length 280


# --- archive_deflate_dynamic_decode ---------------------------------------------


def test_deflate_dynamic_roundtrip_and_zlib_conformance():
    """(1) the from-scratch dynamic-block decoder reproduces the byte law;
    (2) stdlib zlib inflates the SAME streams to the same bytes — the
    synthesized dynamic headers (HLIT/HDIST/HCLEN, permuted CL lengths,
    17/18 zero runs, Kraft-complete tables) are real RFC 1951."""
    import zlib

    from hadoopmapreduce_spark.operators import multimodal as M

    for seed in range(256):
        payload = M.synthesize_deflate_dynamic(seed)
        law = M._deflate_dyn_law(seed)[0]
        assert zlib.decompress(payload, -15) == law
        got = M.inflate_dynamic(payload)
        a32 = zlib.adler32(law)
        assert got["adler_a"] == a32 & 0xFFFF
        assert got["adler_b"] == a32 >> 16
        assert got["n_matches"] == 2 and got["n_dist_codes"] == 2


def test_deflate_dynamic_structural():
    """Header corruptions fail loudly: an HCLEN underflow starves the CL
    table; a corrupted CL length breaks the sequence decode; repeat-16
    with no prior length is rejected (synthetic stream)."""
    from hadoopmapreduce_spark.operators import multimodal as M

    good = M.synthesize_deflate_dynamic(42)
    base = M.inflate_dynamic(good)
    # flip a bit inside the CL-length header region (byte 2): either the
    # rebuilt tables break decode or the output changes
    bad = bytearray(good)
    bad[2] ^= 0x04
    try:
        assert M.inflate_dynamic(bytes(bad)) != base
    except ValueError:
        pass
    # repeat-16 with no prior: hand-build header whose first CL symbol
    # is 16 (CL code: symbol 16 len 1, symbol 0 len 1)
    w = M._DeflateBitWriter()
    w.bits(1, 1)
    w.bits(2, 2)
    w.bits(0, 5)  # HLIT = 257
    w.bits(0, 5)  # HDIST = 1
    w.bits(15, 4)  # HCLEN = 19
    lens = {16: 1, 0: 1}
    for s in M._CL_ORDER:
        w.bits(lens.get(s, 0), 3)
    w.bits(1, 1)  # CL symbol 16 (canonical: 0 -> code '0', 16 -> code '1')
    w.bits(0, 2)  # its 2 repeat-count extra bits
    with pytest.raises(ValueError, match="no prior"):
        M.inflate_dynamic(w.flush())


def test_complete_lengths_kraft():
    """The synthesizer's code constructor must be Kraft-complete for any
    symbol-set size (decoders reject incomplete codes)."""
    from fractions import Fraction

    from hadoopmapreduce_spark.operators.multimodal import _complete_lengths

    for n in range(2, 40):
        lens = _complete_lengths(list(range(n)))
        assert sum(Fraction(1, 2 ** L) for L in lens.values()) == 1
    assert _complete_lengths([7]) == {7: 1}  # single-code special case


# --- eval_pass_at_k -------------------------------------------------------------


def test_pass_at_k_matches_comb(spark, sf_dir):
    """The telescoped falling-factorial estimator must equal the
    textbook 1 - C(n-c,k)/C(n,k) computed with math.comb on every task,
    and be monotone in k (more draws can only help)."""
    import math

    registry = _registry()
    rows = registry.QUERIES["eval_pass_at_k"](spark, sf_dir).collect()
    assert rows
    for row in rows:
        n, c = row.n_samples, row.n_correct
        vals = []
        for k in (1, 5, 10):
            if c == 0:
                exact = 0
            elif n - c < k:
                exact = 1_000_000
            else:
                exact = 1_000_000 - math.comb(n - c, k) * 1_000_000 // math.comb(n, k)
            got = getattr(row, f"pass_at_{k}_ppm")
            assert got == exact, (row, k, exact)
            vals.append(got)
        assert vals == sorted(vals)  # pass@1 <= pass@5 <= pass@10
        if 0 < c:
            assert vals[0] > 0


# --- text_utf8_validate ---------------------------------------------------------


def test_utf8_validator_vs_python_codec():
    """The from-spec validator's verdict must agree with Python's strict
    UTF-8 codec on every synthesized payload (all 5 malformation
    classes x 256 seeds), and clean payloads' codepoint count must match
    len(decoded)."""
    from hadoopmapreduce_spark.operators import textops as T

    for doc_id in range(512):
        p = T.synthesize_utf8(doc_id % 256, doc_id % 5)
        got = T.validate_utf8(p)
        try:
            dec = p.decode("utf-8", "strict")
            ok = True
        except UnicodeDecodeError:
            ok = False
        assert (got["valid"] == 1) == ok, doc_id
        if ok:
            assert got["n_codepoints"] == len(dec)
            assert got["n_errors"] == 0 and got["first_error"] == -1


def test_utf8_torture_cases():
    """Markus Kuhn decoder-torture classics: overlongs (C0 AF and the E0
    window), the surrogate range via ED, the U+10FFFF ceiling via F4,
    invalid lead F5, stray continuation, truncation at EOF — each must
    count exactly one error under maximal-subpart resync; boundary-valid
    sequences must pass."""
    from hadoopmapreduce_spark.operators.textops import validate_utf8

    bad = [
        b"\x80", b"\xc0\xaf", b"\xc1\xbf", b"\xe0\x80\xaf",
        b"\xe0\x9f\xbf", b"\xed\xa0\x80", b"\xed\xbf\xbf",
        b"\xf0\x80\x80\x80", b"\xf0\x8f\xbf\xbf", b"\xf4\x90\x80\x80",
        b"\xf5\x80\x80\x80", b"\xff", b"\xe2\x82", b"\xc3",
    ]
    for p in bad:
        got = validate_utf8(p)
        assert got["valid"] == 0 and got["n_errors"] == 1, p
    good = [
        b"\x7f",                  # highest ASCII
        b"\xc2\x80",              # lowest 2-byte (U+0080)
        b"\xdf\xbf",              # highest 2-byte (U+07FF)
        b"\xe0\xa0\x80",          # lowest legal E0 (U+0800)
        b"\xed\x9f\xbf",          # just below surrogates (U+D7FF)
        b"\xee\x80\x80",          # just above surrogates (U+E000)
        b"\xef\xbf\xbf",          # U+FFFF
        b"\xf0\x90\x80\x80",      # lowest 4-byte (U+10000)
        b"\xf4\x8f\xbf\xbf",      # U+10FFFF exactly
    ]
    for p in good:
        got = validate_utf8(p)
        assert got["valid"] == 1 and got["n_codepoints"] == 1, p


# --- image_jpeg_restart_decode --------------------------------------------------


def test_jpeg_restart_protocol_violations():
    """The restart protocol is load-bearing: an out-of-sequence RSTn
    index is rejected; a stream without DRI is rejected by this decoder;
    and decoding a restart stream while IGNORING the predictor reset
    (simulated with the plain baseline law) diverges from the law's
    per-interval DC — proving the reset matters on every image."""
    from hadoopmapreduce_spark.operators import multimodal as M

    good = M.synthesize_jpeg_restart(3, 2, 37, 2)
    base = M.decode_jpeg_restart(good)
    assert base["n_restarts"] == 2  # 6 blocks / ri=2 -> 3 intervals

    # corrupt the first RST marker's index (FFD0 -> FFD3)
    idx = good.index(bytes((0xFF, 0xD0)))
    bad = bytearray(good)
    bad[idx + 1] = 0xD3
    with pytest.raises(ValueError, match="out of sequence"):
        M.decode_jpeg_restart(bytes(bad))

    # no DRI: the plain baseline stream must be rejected by this decoder
    plain = M.synthesize_jpeg_baseline(3, 2, 37)
    with pytest.raises(ValueError, match="no DRI"):
        M.decode_jpeg_restart(plain)

    # the reset changes DC sums vs the unreset law whenever a later
    # interval's diffs are nonzero — verify on the law directly
    nb, s, ri = 6, 37, 2
    with_reset = without = dc_r = dc_n = 0
    for b, (diff, _) in enumerate(M._jpeg_coeff_law(nb, s)):
        if b % ri == 0:
            dc_r = 0
        dc_r += diff
        dc_n += diff
        with_reset += dc_r
        without += dc_n
    assert with_reset != without
    assert base["sum_dc_dequant"] == with_reset


# --- archive_warc_probe ---------------------------------------------------------


def test_warc_strictness():
    """Framing errors must fail loudly: a wrong Content-Length mis-frames
    the terminator; a missing terminator is rejected; a bad version line
    is rejected; field names parse case-insensitively."""
    from hadoopmapreduce_spark.operators import multimodal as M

    good = M.synthesize_warc(37)
    base = M.probe_warc(good)
    assert base["n_records"] == 2 + 37 % 4

    # inflate the first Content-Length by 1 -> terminator check fails
    bad = good.replace(b"Content-Length: 20", b"Content-Length: 21", 1)
    if bad == good:  # first record's length isn't 20 for this seed
        import re

        mobj = re.search(rb"Content-Length: (\d+)", good)
        n = int(mobj.group(1))
        bad = good.replace(
            b"Content-Length: %d" % n, b"Content-Length: %d" % (n + 1), 1
        )
    with pytest.raises(ValueError):
        M.probe_warc(bad)
    # strip the final terminator
    with pytest.raises(ValueError):
        M.probe_warc(good[:-2])
    # corrupt the version line of the first record
    with pytest.raises(ValueError, match="version"):
        M.probe_warc(b"XARC" + good[4:])
    # case-insensitive headers: lowercase the first record's field names
    lower = good.replace(b"WARC-Type:", b"warc-type:", 1).replace(
        b"Content-Length:", b"content-length:", 1
    )
    assert M.probe_warc(lower) == base


# --- text_kneser_ney_bigrams ----------------------------------------------------


def test_kneser_ney_normalizes_exactly():
    """The defining property of real interpolated KN: for every context
    w1 (summing the UN-truncated rationals over its observed w2 set),
    Σ_w2 [ (4c12-3)+/(4c1) + 3·N1+(w1·)/(4c1) · N1+(·w2)/N1+(··) ] = 1
    exactly — verified with Fractions over the actual fixture counts for
    the 10 most frequent contexts.  (This holds because Σ(4c12-3)+ =
    4c1 - 3·N1+(w1·) when every observed count >= 1, and the
    continuation distribution itself sums to 1 over the FULL vocab; we
    restrict to contexts whose w2 set covers all their mass.)"""
    from collections import Counter, defaultdict
    from fractions import Fraction

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT lower(text) FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    bg = Counter()
    for (text,) in rows:
        ts = text.split()
        for x, y in zip(ts, ts[1:]):
            bg[(x, y)] += 1
    c1 = Counter()
    fwd = Counter()
    bwd = Counter()
    by_ctx = defaultdict(list)
    for (x, y), c in bg.items():
        c1[x] += c
        fwd[x] += 1
        bwd[y] += 1
        by_ctx[x].append((y, c))
    T = len(bg)
    top_ctx = sorted(c1, key=lambda x: -c1[x])[:10]
    for x in top_ctx:
        s = Fraction(0)
        for y, c in by_ctx[x]:
            disc = Fraction(max(4 * c - 3, 0), 4 * c1[x])
            contp = Fraction(3 * fwd[x], 4 * c1[x]) * Fraction(bwd[y], T)
            s += disc + contp
        # discounted mass redistributes over the FULL vocab via the
        # continuation distribution; restricted to the observed w2 set
        # the sum is 1 - (mass routed to unseen continuations):
        unseen = Fraction(3 * fwd[x], 4 * c1[x]) * Fraction(
            T - sum(bwd[y] for y, _ in by_ctx[x]), T
        )
        assert s + unseen == 1, (x, s, unseen)


def test_kneser_ney_fixture_rows(spark, sf_dir):
    registry = _registry()
    rows = registry.QUERIES["text_kneser_ney_bigrams"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 < r.kn_ppm <= 1_000_000
        assert r.c12 <= r.c1
        assert r.n1p_bwd >= 1 and r.n1p_fwd >= 1
    counts = [r.c12 for r in rows]
    assert counts == sorted(counts, reverse=True)


# --- archive_gzip_member_probe --------------------------------------------------


def test_gzip_member_crc_gate_and_conformance():
    """(1) crc32_from_scratch matches zlib.crc32 (incl. the 0xCBF43926
    check value); (2) stdlib gzip decompresses every synthesized member
    to the law bytes (all 4 header classes); (3) the trailer gate trips
    on a flipped content byte AND a flipped trailer byte — a mis-inflate
    cannot pass."""
    import gzip
    import zlib

    from hadoopmapreduce_spark.operators import multimodal as M

    assert M.crc32_from_scratch(b"123456789") == 0xCBF43926
    for data in (b"", b"x", bytes(range(256)) * 2):
        assert M.crc32_from_scratch(data) == zlib.crc32(data)
    for doc_id in range(128):
        s, cls = doc_id % 256, doc_id % 4
        p = M.synthesize_gzip_member(s, cls)
        law = M._deflate_law(s)[0]
        assert gzip.decompress(p) == law
        got = M.parse_gzip_member(p)
        assert got["crc_checked"] == 1 and got["n_bytes"] == len(law)
    good = M.synthesize_gzip_member(42, 3)  # FNAME+FCOMMENT class
    for mutate_at in (len(good) // 2, len(good) - 6, len(good) - 2):
        bad = bytearray(good)
        bad[mutate_at] ^= 0x01
        with pytest.raises(ValueError):
            M.parse_gzip_member(bytes(bad))
    # reserved FLG bits must be rejected
    bad = bytearray(good)
    bad[3] |= 0x20
    with pytest.raises(ValueError, match="reserved"):
        M.parse_gzip_member(bytes(bad))


# --- graph_boruvka_round --------------------------------------------------------


def test_boruvka_structural_theorems(spark, sf_dir):
    """Three theorems of a Borůvka round under a totally ordered edge
    selection: (1) every cluster's distinct selected edges form a
    spanning TREE of its merged components (n_tree_edges = n_merged-1);
    (2) every cluster merges >= 2 components (each component selects an
    edge, so none stays alone); (3) the root label is a member of its
    own cluster and pointer-jumping reached a fixpoint (root(root) =
    root, checked via the output: every new_label must itself appear as
    a merged member -- i.e. the label set is a subset of the old
    component ids that mapped to themselves)."""
    registry = _registry()
    rows = registry.QUERIES["graph_boruvka_round"](spark, sf_dir).collect()
    assert rows
    total_merged = 0
    for r in rows:
        assert r.n_tree_edges == r.n_merged - 1, r
        assert r.n_merged >= 2, r
        assert r.sum_d > 0 and r.edge_poschk > 0
        total_merged += r.n_merged
    # components at least halve: clusters <= total/2
    assert len(rows) <= total_merged // 2
