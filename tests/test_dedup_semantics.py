"""Semantic unit tests for the dedup operators on literal data — these pin
behaviors the fixture-parity tests can't (the fixtures have no exact dupes,
and simhash has no SQL oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _feed(monkeypatch, docs, module="dedup"):
    """Serve ``docs`` from both loaders an operator module reads its
    documents through."""
    for loader in ("load_table", "load_spread"):
        monkeypatch.setattr(
            f"hadoopmapreduce_spark.operators.{module}.{loader}",
            lambda spark_, sf_dir, name: docs,
        )


BASE = (
    "spark query engine scans the table and joins the rows with hash "
    "partitioned keys before the final aggregate stage emits results"
)
NEAR = BASE.replace("final", "last")  # one-token edit
FAR = (
    "completely different content about databases vectors windows and "
    "streams that shares almost nothing with the other documents here"
)


def test_exact_dedup_counts(spark, tmp_path, monkeypatch):
    import hadoopmapreduce_spark.operators.dedup as dd

    docs = _docs(spark, [BASE, BASE, FAR])
    _feed(monkeypatch, docs)
    out = {r["canonical_doc_id"]: r["n_copies"] for r in dd.exact_dedup(spark, "x").collect()}
    assert out == {0: 2, 2: 1}


def test_minhash_finds_near_dup(spark, monkeypatch):
    import hadoopmapreduce_spark.operators.dedup as dd

    docs = _docs(spark, [BASE, NEAR, FAR])
    _feed(monkeypatch, docs)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.minhash_lsh_dedup(spark, "x").collect()}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)


def test_minhash_matches_exact_jaccard(spark, monkeypatch):
    import hadoopmapreduce_spark.operators.dedup as dd

    docs = _docs(spark, [BASE, NEAR, FAR, BASE + " extra tail tokens appended"])
    _feed(monkeypatch, docs)
    exact = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in dd.ngram_jaccard_pairs(spark, "x").collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in dd.minhash_lsh_dedup(spark, "x").collect()
    }
    assert exact == lsh


def test_simhash_near_vs_far(spark, monkeypatch):
    import hadoopmapreduce_spark.operators.dedup as dd

    docs = _docs(spark, [BASE, NEAR, FAR])
    _feed(monkeypatch, docs)
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dd.simhash_dedup(spark, "x").collect()}
    assert (0, 1) in pairs  # one-token edit stays within hamming 3
    assert all(2 not in p for p in pairs)  # unrelated doc does not pair


def test_hll_error_bound(spark, sf_dir):
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.aggregates import agg_approx_count_distinct

    exact = {
        r["l_returnflag"]: r["exact"]
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("exact"))
        .collect()
    }
    for r in agg_approx_count_distinct(spark, sf_dir).collect():
        e = exact[r["returnflag"]]
        rel_err = abs(r["approx_orders"] - e) / max(e, 1)
        assert rel_err < 0.1, f"HLL rel err {rel_err} for {r['returnflag']}"


def test_approx_quantile_error_bound(spark, sf_dir):
    from hadoopmapreduce_spark.operators.aggregates import agg_approx_quantiles

    for r in agg_approx_quantiles(spark, sf_dir).collect():
        # GK with accuracy 10000 on these sizes should be near-exact
        rel = abs(r["p50_approx"] - r["p50_exact"]) / max(abs(r["p50_exact"]), 1)
        assert rel < 0.05, f"p50 approx off by {rel} for {r['status']}"


def test_twostar_labels_path_graph(spark):
    """Two-star CC on a long PATH graph — the diameter-heavy shape label
    propagation is slow on and the fixture pair graph (near-cliques) never
    produces.  15-node path + disjoint 3-cycle + an isolated edge: every
    node must label with its component minimum."""
    from hadoopmapreduce_spark.operators.dedup import connected_components_twostar

    path = [(i, i + 1) for i in range(14)]          # component min 0
    cycle = [(100, 101), (101, 102), (102, 100)]    # component min 100
    lone = [(200, 201)]                             # component min 200
    pairs = spark.createDataFrame(
        path + cycle + lone, "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["canonical_doc_id"]
        for r in connected_components_twostar(pairs).collect()
    }
    expect = {i: 0 for i in range(15)}
    expect |= {100: 100, 101: 100, 102: 100, 200: 200, 201: 200}
    assert out == expect


def test_twostar_matches_label_propagation(spark, sf_dir):
    """Both CC implementations must produce identical labelings over the
    real minhash pair graph."""
    import hadoopmapreduce_spark.operators.dedup as dd

    lp = {
        r["doc_id"]: r["canonical_doc_id"]
        for r in dd.dedup_clusters(spark, sf_dir).collect()
    }
    ts = {
        r["doc_id"]: r["canonical_doc_id"]
        for r in dd.dedup_clusters_twostar(spark, sf_dir).collect()
    }
    assert lp == ts


def _hex_chain(seed: str, n: int) -> str:
    """Deterministic non-repeating filler: chained md5 hex, truncated to n."""
    import hashlib

    out = ""
    h = seed
    while len(out) < n:
        h = hashlib.md5(h.encode()).hexdigest()
        out += h
    return out[:n]


def test_substring_spans_cross_doc_run(spark, monkeypatch):
    """A 70-char run shared by two docs → one merged span of 70 chars each
    (window=30: duplicated windows at 41 consecutive offsets merge)."""
    import hadoopmapreduce_spark.operators.dedup as dd

    shared = _hex_chain("shared", 70)
    d0 = _hex_chain("p0", 40) + shared + _hex_chain("s0", 40)
    d1 = _hex_chain("p1", 55) + shared + _hex_chain("s1", 25)
    docs = _docs(spark, [d0, d1, _hex_chain("far", 120)])
    _feed(monkeypatch, docs)
    rows = {r["doc_id"]: r for r in dd.dedup_substring_spans(spark, "x").collect()}
    assert set(rows) == {0, 1}
    for i in (0, 1):
        assert rows[i]["dup_spans"] == 1
        assert rows[i]["dup_chars"] == 70


def test_substring_spans_within_doc_repeat(spark, monkeypatch):
    """The same 30-char block twice within ONE doc, separated by a unique
    gap longer than the window → two separate 30-char spans."""
    import hadoopmapreduce_spark.operators.dedup as dd

    block = _hex_chain("block", 30)
    doc = _hex_chain("a", 35) + block + _hex_chain("gap", 45) + block + _hex_chain("z", 35)
    docs = _docs(spark, [doc, _hex_chain("other", 100)])
    _feed(monkeypatch, docs)
    rows = {r["doc_id"]: r for r in dd.dedup_substring_spans(spark, "x").collect()}
    assert rows[0]["dup_spans"] == 2
    assert rows[0]["dup_chars"] == 60
    assert 1 not in rows


def test_cdc_chunks_survive_insertion(spark, monkeypatch):
    """The content-defined property: inserting text mid-document must leave
    the chunking of the untouched tail intact (shared chunk hashes), which
    is exactly what fixed-size chunking cannot do when the insertion isn't
    chunk-aligned."""
    import hadoopmapreduce_spark.operators.multimodal as mm

    prefix = _hex_chain("prefix", 400)
    tail = _hex_chain("tail", 400)
    inserted = _hex_chain("ins", 37)  # deliberately not 64-aligned
    docs = spark.createDataFrame(
        [
            (0, prefix + tail, "en", "src0", 800),
            (1, prefix + inserted + tail, "en", "src0", 837),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _feed(monkeypatch, docs, "multimodal")
    rows = mm.mm_cdc_chunking(spark, "x").collect()
    h0 = {r["chunk_hash"] for r in rows if r["doc_id"] == 0}
    h1 = {r["chunk_hash"] for r in rows if r["doc_id"] == 1}
    shared = h0 & h1
    # boundaries re-synchronize after the insertion: the tail's chunks (and
    # usually the prefix's) dedup across the two revisions
    assert shared, "no chunk survived the insertion — not content-defined"
    # and the fixed-size manifest on the same pair shares nothing after the
    # unaligned insertion (beyond the identical prefix chunks)
    fixed = mm.mm_chunk_manifest(spark, "x").collect()
    f0 = [r["chunk_hash"] for r in fixed if r["doc_id"] == 0]
    f1 = [r["chunk_hash"] for r in fixed if r["doc_id"] == 1]
    n_prefix_aligned = len(prefix) // mm.MM_CHUNK_BYTES
    assert set(f0[n_prefix_aligned:]) & set(f1[n_prefix_aligned:]) == set()
