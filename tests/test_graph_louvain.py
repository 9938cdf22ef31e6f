"""Louvain community detection: the move pass, the phase-1 trace and its
conflict-free selection, the phase-2 contraction, the sweep's checkpoint
statistics, the two-level trace and the Leiden-style refinement.  Each
query runs its own phase-1 sweep; nothing is carried from one call to the
next."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from hadoopmapreduce_spark import registry
from hadoopmapreduce_spark.operators import graph as G

registry.load_all()


@pytest.fixture(scope="module")
def testdata(sf_dir) -> str:
    """The directory holding every scale's fixture, sf_dir's among them."""
    return os.path.dirname(sf_dir)


def test_louvain_move_pass_planted_graph():
    """Two planted triangles with ONE mislabeled node: exactly that node
    must move home, with the hand-computed gain numerator
    2m(k_ic-k_io) - k_i(Σ_c-(Σ_o-k_i)) = 24 + 4 = 28 — driven through
    the oracle SQL so the criterion is engine-independent."""
    import duckdb

    from hadoopmapreduce_spark import registry

    registry.load_all()
    sql = registry.ORACLES["graph_louvain_move_pass"]
    con = duckdb.connect()
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]
    rows = ", ".join(
        f"({oid}, {u}), ({oid}, {v})" for oid, (u, v) in enumerate(edges)
    )
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM (VALUES {rows})"
        " t(l_orderkey, l_partkey)"
    )
    con.execute(
        "CREATE VIEW part AS SELECT * FROM (VALUES "
        "(1,'A'),(2,'A'),(3,'B'),(4,'B'),(5,'B'),(6,'B'))"
        " t(p_partkey, p_brand)"
    )
    out = con.execute(sql).fetchall()
    assert out == [(3, "B", "A", 28, 6)], out


def test_louvain_gains_positive_and_total(spark, testdata):
    """Every reported move carries a strictly positive gain and at most
    one move per node (the argmax is total)."""
    from hadoopmapreduce_spark import registry

    registry.load_all()
    rows = registry.QUERIES["graph_louvain_move_pass"](
        spark, os.path.join(testdata, "sf0.001")
    ).collect()
    assert rows, "the brand partition of a co-purchase graph has movers"
    nodes = [r["node"] for r in rows]
    assert len(nodes) == len(set(nodes))
    assert all(r["gain_num"] > 0 for r in rows)
    assert all(r["old_community"] != r["new_community"] for r in rows)


def test_louvain_phase1_trace_is_monotone(spark, testdata):
    """The non-decrease pin: q_num must STRICTLY increase on every round
    that applies a move, and hold exactly still on fixpoint rounds."""
    rows = sorted(
        registry.QUERIES["graph_louvain_phase1"](
            spark, os.path.join(testdata, "sf0.01")
        ).collect(),
        key=lambda r: r["round"],
    )
    from hadoopmapreduce_spark.operators.graph import LOUVAIN_ROUNDS

    assert len(rows) == LOUVAIN_ROUNDS
    for prev, cur in zip(rows, rows[1:]):
        if cur["n_applied"] > 0:
            assert cur["q_num"] > prev["q_num"], (prev, cur)
        else:
            assert cur["q_num"] == prev["q_num"], (prev, cur)
    assert rows[0]["n_applied"] >= 1  # brand seed is far from optimal
    # every round with proposals applies at least the globally best move
    for r in rows:
        if r["n_proposed"] > 0:
            assert r["n_applied"] >= 1, r


def test_louvain_phase1_beats_move_pass_start(spark, testdata):
    """Sanity: six conflict-free rounds must improve modularity well past
    the brand seed (sf0.01 measured 103,120 -> 1,276,360)."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.graph import (
        thresholded_copurchase_edges,
    )

    sf_dir = os.path.join(testdata, "sf0.01")
    rows = registry.QUERIES["graph_louvain_phase1"](spark, sf_dir).collect()
    final_q = max(r["q_num"] for r in rows)
    # recompute the seed partition's q directly
    edges = thresholded_copurchase_edges(spark, sf_dir)
    labels = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("community")
    )
    lu = labels.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lv = labels.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    m = edges.count()
    intra = (
        edges.join(lu, "u").join(lv, "v")
        .where(F.col("cu") == F.col("cv")).count()
    )
    directed = edges.selectExpr("u AS node").unionAll(
        edges.selectExpr("v AS node")
    )
    k = directed.groupBy("node").count()
    sumd2 = (
        labels.join(k, "node").groupBy("community")
        .agg(F.sum("count").alias("d"))
        .agg(F.sum(F.col("d") * F.col("d"))).first()[0]
    )
    q_seed = 4 * m * intra - int(sumd2)
    assert final_q > q_seed, (final_q, q_seed)


def test_louvain_conflict_free_selection_is_community_unique(spark, testdata):
    """No two applied moves may touch the same community in any role —
    the invariant the monotonicity proof rests on.  Reconstructed from
    the round-1 inputs."""
    from hadoopmapreduce_spark.catalog import load_table
    from hadoopmapreduce_spark.operators.graph import (
        _louvain_best_moves,
        thresholded_copurchase_edges,
    )
    from pyspark.sql import Window as W

    sf_dir = os.path.join(testdata, "sf0.01")
    edges = thresholded_copurchase_edges(spark, sf_dir)
    directed = edges.selectExpr("u AS node", "v AS nbr", "1 AS w").unionAll(
        edges.selectExpr("v AS node", "u AS nbr", "1 AS w")
    )
    k = directed.groupBy("node").agg(F.count(F.lit(1)).alias("ki"))
    m_df = edges.agg(F.count(F.lit(1)).alias("m"))
    labels = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("community")
    )
    moves = _louvain_best_moves(directed, labels, k, m_df)
    claims = moves.select(
        "node", "o", "c", "gain_num",
        F.explode(F.array("o", "c")).alias("comm"),
    )
    wcl = W.partitionBy("comm").orderBy(F.desc("gain_num"), F.asc("node"))
    applied = (
        claims.withColumn("rnk", F.row_number().over(wcl))
        .groupBy("node", "o", "c")
        .agg(F.max("rnk").alias("mx"))
        .filter(F.col("mx") == 1)
        .collect()
    )
    assert applied
    touched: set = set()
    for r in applied:
        assert r["o"] not in touched and r["c"] not in touched, r
        touched.add(r["o"])
        touched.add(r["c"])


def test_louvain_phase2_modularity_invariance(spark, testdata):
    """Blondel et al.'s phase-2 invariant, in exact integers: Q of the
    contracted community graph under the identity partition equals Q of
    the phase-1 partition on the original graph — self-loop weight is
    the intra count, weighted supernode degree is the community degree
    mass."""
    import collections

    sf_dir = os.path.join(testdata, "sf0.01")
    agg = registry.QUERIES["graph_louvain_phase2_aggregate"](
        spark, sf_dir
    ).collect()
    trace = registry.QUERIES["graph_louvain_phase1"](spark, sf_dir).collect()
    q_final = max(r["q_num"] for r in trace)
    m = sum(r["weight"] for r in agg)
    intra = sum(r["weight"] for r in agg if r["is_self"] == 1)
    deg: collections.Counter = collections.Counter()
    for r in agg:
        if r["is_self"]:
            deg[r["c_a"]] += 2 * r["weight"]
        else:
            deg[r["c_a"]] += r["weight"]
            deg[r["c_b"]] += r["weight"]
    q_agg = 4 * m * intra - sum(d * d for d in deg.values())
    assert q_agg == q_final
    # and the contraction is real: community graph much smaller
    assert len(agg) < m / 5


def test_stats_clean_fallback_warns(spark, monkeypatch, capsys):
    """_stats_clean swallowing a JVM-surface failure silently would
    reintroduce the minutes-per-round BigInteger stats blow-up on a Spark
    upgrade with only a unit test noticing.  The fallback path must emit
    one stderr warning (once per process, like bench.py's canary-failure
    warning) so a strict bench artifact records stats cleaning was
    inactive."""
    from hadoopmapreduce_spark.operators import graph as G

    df = spark.range(5).toDF("id")
    monkeypatch.setattr(G, "_STATS_CLEAN_WARNED", False)

    def boom(*a, **k):
        raise RuntimeError("simulated private-API drift")

    monkeypatch.setattr(
        G, "_internal_create_dataframe", boom, raising=True
    )
    out = G._stats_clean(df)
    err = capsys.readouterr().err
    assert out is df
    assert "stats_clean" in err and "inactive" in err
    # second call: warn once, not per checkpoint
    G._stats_clean(df)
    assert "stats_clean" not in capsys.readouterr().err


def test_louvain_checkpoint_stats_do_not_compound(spark, sf_dir):
    """The r12 BigInteger blow-up regression pin: localCheckpoint carries
    the origin plan's estimated sizeInBytes, and the Louvain round plan
    references the label table ~5 ways, so WITHOUT _stats_clean the
    final label table's carried estimate had ~75k decimal DIGITS at
    sf0.001 and four level-2 rounds seeded from it went
    BigInteger-quadratic (measured 302 s for round 4 on 25 rows).  The
    cleaned table must stay at the defaultSizeInBytes fallback scale."""
    _, labels, _ = G._louvain_level1(spark, sf_dir)
    jq = labels._jdf.queryExecution()
    digits = len(str(jq.optimizedPlan().stats().sizeInBytes()))
    assert digits <= 30, f"carried stats have {digits} digits — compounding"


def test_louvain_multilevel_trace_semantics(spark, sf_dir):
    """The two-level trace: level-1 rows replicate the phase-1 trace
    exactly; q_num is non-decreasing END-TO-END (level 2 opens at
    level 1's final q by the contraction invariance and each weighted
    conflict-free round applies the same ΔQ·4m² = Σ 2·gain identity);
    and level 2 makes real progress on the fixture."""
    ml = registry.QUERIES["graph_louvain_multilevel"](spark, sf_dir).collect()
    p1 = registry.QUERIES["graph_louvain_phase1"](spark, sf_dir).collect()
    l1 = sorted(
        (r["round"], r["n_proposed"], r["n_applied"], r["q_num"])
        for r in ml
        if r["level"] == 1
    )
    assert l1 == sorted(
        (r["round"], r["n_proposed"], r["n_applied"], r["q_num"]) for r in p1
    )
    l2 = sorted((r["round"], r["n_applied"], r["q_num"]) for r in ml if r["level"] == 2)
    assert len(l2) == G.L2_ROUNDS
    qs = [l1[-1][3]] + [q for _, _, q in l2]
    assert all(b >= a for a, b in zip(qs, qs[1:])), qs
    # level 2 applied at least one move on the fixture (it refines, not
    # a vacuous fixpoint)
    assert sum(a for _, a, _ in l2) >= 1


def test_leiden_refine_nests_within_phase1(spark, sf_dir):
    """The refinement constraint must emerge from the intra-edge filter:
    every refined community's nodes map into EXACTLY ONE phase-1
    community, and the trace is monotone from the negative singleton
    q0 with real first-round parallelism (the fine-grained regime)."""
    trace, labels, labels1 = G._leiden_refinement(spark, sf_dir)
    qs = [q for _, _, _, q in trace]
    assert qs == sorted(qs), qs
    assert trace[0][2] > 20  # singleton seed: real parallelism
    spans = (
        labels.join(labels1.withColumnRenamed("community", "p1"), "node")
        .groupBy("community")
        .agg(F.countDistinct("p1").alias("n_p1"))
        .agg(F.max("n_p1").alias("mx"))
        .first()
    )
    assert spans["mx"] == 1  # no refined community crosses a phase-1 one

