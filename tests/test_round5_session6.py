"""Behavioral invariants for the sixth round-5 session's operators —
properties the differential oracle cannot express (cross-method
conservation, axis-reversal semantics)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def test_lifo_conserves_exactly_like_fifo(spark, sf_dir):
    """Periodic LIFO and FIFO must match the IDENTICAL per-part quantity —
    both consume min(Σreceipts, Σissues); reversing the receipt axis only
    redistributes which lot serves which issue.  Any per-part difference
    means the reversed axis lost or double-counted an interval."""
    from hadoopmapreduce_spark.operators.joins import (
        fin_fifo_inventory_match,
        fin_lifo_periodic_match,
    )

    fifo = fin_fifo_inventory_match(spark, sf_dir).select(
        "part", F.col("qty_matched").alias("fifo_qty")
    )
    lifo = fin_lifo_periodic_match(spark, sf_dir).select(
        "part", F.col("qty_matched").alias("lifo_qty")
    )
    joined = fifo.join(lifo, "part", "outer")
    bad = joined.where(
        F.coalesce("fifo_qty", F.lit(0)) != F.coalesce("lifo_qty", F.lit(0))
    ).count()
    assert bad == 0, f"{bad} parts: LIFO qty_matched diverges from FIFO"


def test_lifo_ages_at_most_fifo_overall(spark, sf_dir):
    """LIFO consumes the youngest stock, so the corpus-wide
    quantity-weighted age must be <= FIFO's (strictly less whenever any
    part has more than one lot) — the signed-age artifact the docstring
    documents."""
    from hadoopmapreduce_spark.operators.joins import (
        fin_fifo_inventory_match,
        fin_lifo_periodic_match,
    )

    f_age = (
        fin_fifo_inventory_match(spark, sf_dir)
        .agg(F.sum("qty_age_days"))
        .collect()[0][0]
    )
    l_age = (
        fin_lifo_periodic_match(spark, sf_dir)
        .agg(F.sum("qty_age_days"))
        .collect()[0][0]
    )
    assert l_age < f_age, f"LIFO age {l_age} not below FIFO age {f_age}"


def test_lifo_hand_computed_example(spark):
    """Crafted flow where FIFO and LIFO visibly differ:
    receipts [0,10)@d1 and 5@d3 (younger), issue 8@d2.
    Periodic LIFO serves the issue from the YOUNGEST lots first: 5 from the
    d3 lot (age -1: lot ships after the issue) + 3 from the d1 lot (age 1)
    -> qty 8, qty*age = 5*(-1) + 3*1 = -2.  FIFO gives 8 from d1 (age 1) = 8."""
    from hadoopmapreduce_spark.operators.joins import (
        fin_fifo_inventory_match,
        fin_lifo_periodic_match,
    )
    from hadoopmapreduce_spark.operators import joins as J
    from hadoopmapreduce_spark import catalog

    d = datetime.datetime
    rows = [
        # (part, order, line, ship, qty): odd line = receipt, even = issue
        (1, 101, 1, d(2024, 1, 1), 10.0),
        (1, 102, 3, d(2024, 1, 3), 5.0),
        (1, 103, 2, d(2024, 1, 2), 8.0),
    ]
    spark_df = spark.createDataFrame(
        rows, "l_partkey long, l_orderkey long, l_linenumber long, "
        "l_shipdate timestamp, l_quantity double"
    ).withColumn("l_shipdate", F.to_date("l_shipdate"))

    real = catalog.load_table
    try:
        catalog.load_table = lambda s, sd, name: spark_df  # only lineitem used
        J.load_table = catalog.load_table
        lifo = fin_lifo_periodic_match(spark, "ignored").collect()
        fifo = fin_fifo_inventory_match(spark, "ignored").collect()
    finally:
        catalog.load_table = real
        J.load_table = real
    assert len(lifo) == 1 and len(fifo) == 1
    assert lifo[0]["qty_matched"] == 8 and fifo[0]["qty_matched"] == 8
    assert fifo[0]["qty_age_days"] == 8
    assert lifo[0]["qty_age_days"] == -2


def test_chunk_rewrite_partitions_every_char(spark, sf_dir):
    """kept_chars + dropped_chars must equal the document length for every
    doc — the chunker tiles the text exactly, and the rewrite only
    classifies chunks, never resizes them."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.multimodal import dedup_chunk_rewrite

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n")
    )
    got = dedup_chunk_rewrite(spark, sf_dir)
    bad = (
        got.join(docs, "doc_id")
        .where(F.col("kept_chars") + F.col("dropped_chars") != F.col("n"))
        .count()
    )
    assert bad == 0, f"{bad} docs where chunks do not tile the text"


def test_chunk_rewrite_untouched_docs_keep_their_digest(spark, sf_dir):
    """A doc with zero dropped chunks must reassemble to EXACTLY its
    original text (md5-equal) — proves the sort+fold rebuilds the document
    rather than just counting chunks.  Non-vacuous: most docs are
    untouched, and at least one doc must be rewritten at every SF."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.multimodal import dedup_chunk_rewrite

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("orig_md5")
    )
    got = dedup_chunk_rewrite(spark, sf_dir).join(docs, "doc_id")
    untouched = got.where(F.col("dropped_chars") == 0)
    assert untouched.count() > 0
    bad = untouched.where(F.col("cleaned_md5") != F.col("orig_md5")).count()
    assert bad == 0, f"{bad} untouched docs with a digest mismatch"
    assert got.where(F.col("dropped_chars") > 0).count() > 0


def test_bpe_apply_token_bounds_and_strict_compression(spark, sf_dir):
    """Subword tokenization must satisfy n_words <= n_tokens <= n_chars per
    language (a word is >= 1 token, a token >= 1 char), and the learned
    merges must actually fire: corpus-wide tokens strictly below chars
    (vacuous merges would mean the apply fold never matched)."""
    from hadoopmapreduce_spark.operators.textops import text_bpe_apply_tokenize

    rows = text_bpe_apply_tokenize(spark, sf_dir).collect()
    assert rows, "no languages in output"
    for r in rows:
        assert r["n_words"] <= r["n_tokens"] <= r["n_chars"], r
    assert sum(r["n_tokens"] for r in rows) < sum(r["n_chars"] for r in rows)


def test_time_decay_bounded_by_weight_extremes(spark, sf_dir):
    """Per priority, the decayed score must sit between raw_cents (every
    order at the minimum weight 1) and raw_cents·2^H (every order at the
    maximum weight) — H recomputed independently here."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.aggregates import (
        DECAY_HALF_LIFE_DAYS,
        agg_time_decay_revenue,
    )

    o = load_table(spark, sf_dir, "orders")
    maxd, mind = o.agg(F.max("o_orderdate"), F.min("o_orderdate")).collect()[0]
    h = (maxd - mind).days // DECAY_HALF_LIFE_DAYS
    assert h >= 1, "fixture spans less than one half-life"
    for r in agg_time_decay_revenue(spark, sf_dir).collect():
        assert r["raw_cents"] <= r["decayed_score"] <= r["raw_cents"] * (1 << h), r


def test_poisson_bootstrap_replicates_concentrate(spark, sf_dir):
    """Exactly B replicates; each replicate's resampled row count within
    5 standard deviations (sqrt(n)) of n, and the replicate-mean revenue
    within 5 relative sd of the true total — loose enough to never flake,
    tight enough to catch a broken threshold ladder."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.aggregates import (
        BOOTSTRAP_REPLICATES,
        sample_poisson_bootstrap,
    )

    o = load_table(spark, sf_dir, "orders")
    n = o.count()
    true_rev = o.select(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    ).collect()[0][0]
    rows = sample_poisson_bootstrap(spark, sf_dir).collect()
    assert len(rows) == BOOTSTRAP_REPLICATES
    sd = 5 * (n ** 0.5)
    for r in rows:
        assert abs(r["n_sampled"] - n) <= sd, (r, n)
    mean_rev = sum(r["revenue_cents"] for r in rows) / len(rows)
    assert abs(mean_rev - true_rev) <= 5 * true_rev / (n ** 0.5)


def test_arrow_token_stats_matches_codegen_twin(spark, sf_dir):
    """The mapInArrow kernel must agree row-for-row with the pure-codegen
    text_stats path on the columns they share — pins the Arrow boundary
    (types, batch tiling, regex convention) against the production
    expressions."""
    from hadoopmapreduce_spark.operators.textops import text_stats
    from hadoopmapreduce_spark.operators.udfs import udf_arrow_token_stats

    arrow = udf_arrow_token_stats(spark, sf_dir)
    codegen = text_stats(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("c_chars"),
        F.col("n_tokens").cast("long").alias("c_tokens"),
    )
    bad = (
        arrow.join(codegen, "doc_id", "outer")
        .where(
            # null-safe: a row dropped/added by either path must count
            ~F.col("n_chars").eqNullSafe(F.col("c_chars"))
            | ~F.col("n_tokens").eqNullSafe(F.col("c_tokens"))
        )
        .count()
    )
    assert bad == 0, f"{bad} docs disagree between Arrow and codegen paths"


def test_lang_confusion_rows_and_columns_sum_to_a_million(spark, sf_dir):
    """Recall ppm must sum to ~1e6 within each true language and precision
    ppm within each guess (exact up to the |langs|-row floor-division
    remainder), and total docs must equal the corpus size."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.textops import eval_lang_confusion

    rows = eval_lang_confusion(spark, sf_dir).collect()
    n_corpus = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_corpus
    by_lang, by_guess = {}, {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["recall_ppm"])
        by_guess.setdefault(r["lang_guess"], []).append(r["precision_ppm"])
    for lang, ppms in by_lang.items():
        assert 1_000_000 - len(ppms) <= sum(ppms) <= 1_000_000, (lang, ppms)
    for guess, ppms in by_guess.items():
        assert 1_000_000 - len(ppms) <= sum(ppms) <= 1_000_000, (guess, ppms)


def test_ks_drift_matches_sequential_ecdf(spark, sf_dir):
    """Differential test: recompute the exact KS numerator with a plain
    Python ECDF sweep (no bands, no windows) over the same md5 split —
    the banded distributed pipeline must reproduce it exactly."""
    import hashlib

    import duckdb

    from hadoopmapreduce_spark.operators.aggregates import dq_ks_drift

    rows = duckdb.sql(
        f"SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
        f" AS BIGINT) FROM '{sf_dir}/orders.parquet'"
    ).fetchall()
    a, b = [], []
    for key, cents in rows:
        nib = int(hashlib.md5(str(key).encode()).hexdigest()[0], 16)
        (a if nib < 8 else b).append(cents)
    a.sort()
    b.sort()
    na, nb = len(a), len(b)
    best, at = -1, None
    ia = ib = 0
    for v in sorted(set(a) | set(b)):
        while ia < na and a[ia] <= v:
            ia += 1
        while ib < nb and b[ib] <= v:
            ib += 1
        d = abs(ia * nb - ib * na)
        if d > best:
            best, at = d, v
    got = dq_ks_drift(spark, sf_dir).collect()[0]
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["d_num"] == best
    assert got["at_cents"] == at
    assert 0 <= got["d_ppm"] <= 1_000_000


def test_orc_scan_pushes_filters_like_parquet(spark, sf_dir):
    """ORC must inherit the same pushdown machinery the parquet pins rely
    on: a filter over the round-tripped ORC directory shows PushedFilters
    in the ORC scan node."""
    import os

    from hadoopmapreduce_spark.catalog import load_table, work_dir
    from hadoopmapreduce_spark.plans import physical_plan

    tmp = os.path.join(work_dir("orc_plan_probe", sf_dir), "orders_orc")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(tmp)
    df = (
        spark.read.orc(tmp)
        .where(F.col("o_orderkey") == 7)
        .select("o_orderkey", "o_totalprice")
    )
    plan = physical_plan(df)
    assert "orc" in plan.lower()
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)]" in plan


def test_modularity_identities(spark, sf_dir):
    """Graph identities the oracle comparison cannot see on its own:
    degree masses must sum to 2m, intra-edges to at most m, and the
    summed contribution numerator must keep Q = sum/(4m^2) inside its
    theoretical [-1/2, 1] range."""
    from hadoopmapreduce_spark.operators.graph import graph_modularity_brand

    rows = graph_modularity_brand(spark, sf_dir).collect()
    m = rows[0]["m_edges"]
    assert all(r["m_edges"] == m for r in rows)
    assert sum(r["d_c"] for r in rows) == 2 * m
    assert 0 <= sum(r["e_c"] for r in rows) <= m
    q_4m2 = sum(r["contrib_num"] for r in rows)
    assert -2 * m * m <= q_4m2 <= 4 * m * m


def test_chunk_rewrite_fully_duplicated_doc_reassembles_empty(spark, tmp_path):
    """The empty-reassembly branch no fixture exercises: an exact-duplicate
    document loses EVERY chunk, and both engines must agree on the empty
    digest (Spark concat_ws over an empty array vs the oracle's
    COALESCE(NULL, '')).  Crafted corpus: one long doc, its exact copy,
    and a short unique doc."""
    import duckdb

    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.oracle import compare

    registry.load_all()
    long_text = "alpha beta gamma delta " * 40
    rows = [
        (1, long_text, "en", "s", len(long_text)),
        (2, long_text, "en", "s", len(long_text)),  # exact duplicate
        (3, "unique words only here", "en", "s", 22),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    got = registry.QUERIES["dedup_chunk_rewrite"](spark, str(tmp_path))
    rep = compare(
        "chunk_rewrite_dup", got, con, registry.ORACLES["dedup_chunk_rewrite"]
    )
    assert rep.ok and rep.exact_values, rep.detail
    by_doc = {r["doc_id"]: r for r in got.collect()}
    assert by_doc[2]["n_kept"] == 0 and by_doc[2]["dropped_chars"] > 0
    # md5 of the empty string — the documented empty-reassembly digest
    assert by_doc[2]["cleaned_md5"] == "d41d8cd98f00b204e9800998ecf8427e"
    assert by_doc[1]["n_kept"] == by_doc[1]["n_chunks"]


def test_targeted_delete_rewrites_only_affected_files(spark, sf_dir):
    """File-level selectivity the oracle cannot see: after the delete, the
    untouched files must be byte-identical copies of the originals, and at
    least one file must survive untouched (the rewrite must not degrade to
    a full-table rewrite)."""
    import os

    from hadoopmapreduce_spark.catalog import work_dir
    from hadoopmapreduce_spark.operators.layout import maintenance_targeted_delete

    maintenance_targeted_delete(spark, sf_dir).collect()
    tmp = work_dir("tdelete", sf_dir)
    base, clean = os.path.join(tmp, "base"), os.path.join(tmp, "clean")
    base_files = {
        n for n in os.listdir(base) if n.endswith(".parquet")
    }
    carried = {
        n for n in os.listdir(clean) if n.endswith(".parquet") and n in base_files
    }
    assert carried, "every file was rewritten — file pruning is not working"
    for n in sorted(carried):
        with open(os.path.join(base, n), "rb") as fa, open(
            os.path.join(clean, n), "rb"
        ) as fb:
            assert fa.read() == fb.read(), f"carried file {n} changed"
    # the doomed keys really are gone from the cleaned table
    remaining = spark.read.parquet(clean)
    assert remaining.where(F.col("o_orderkey") % 1000 == 7).count() == 0


def test_adjudication_lists_are_well_formed():
    """A typo'd name in ADJUDICATION_PRIORITY/DEFERRED passes the window
    test silently (it is 'neither registered nor missing'); pin that every
    listed name resolves to a registered query and the two lists are
    disjoint."""
    from hadoopmapreduce_spark import registry

    registry.load_all()
    unknown_p = [q for q in registry.ADJUDICATION_PRIORITY if q not in registry.QUERIES]
    unknown_d = [q for q in registry.ADJUDICATION_DEFERRED if q not in registry.QUERIES]
    assert not unknown_p, f"priority names not registered: {unknown_p}"
    assert not unknown_d, f"deferred names not registered: {unknown_d}"
    both = set(registry.ADJUDICATION_PRIORITY) & set(registry.ADJUDICATION_DEFERRED)
    assert not both, f"names in both lists: {both}"


def test_poisson_ladder_matches_recomputed_cdf():
    """The fixed inverse-CDF thresholds must equal floor(4096*CDF_k) of a
    freshly recomputed Poisson(1), and the grid mean must be exactly
    4099/4096 — guards against anyone 'correcting' the constants."""
    import math

    from hadoopmapreduce_spark.operators.aggregates import POISSON1_THRESHOLDS

    cdf, p = 0.0, math.exp(-1.0)
    expect = []
    for k in range(len(POISSON1_THRESHOLDS)):
        cdf += p
        expect.append(math.floor(4096 * cdf))
        p /= k + 1
    assert list(POISSON1_THRESHOLDS) == expect
    total = sum(
        min(
            (i for i, t in enumerate(POISSON1_THRESHOLDS) if u < t),
            default=len(POISSON1_THRESHOLDS),
        )
        for u in range(4096)
    )
    assert total == 4099
