"""Louvain community detection: the phase-1 loop's checkpoint statistics,
the two-level trace and the Leiden-style refinement.  Each query runs its
own phase-1 loop; nothing is carried from one call to the next."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F

from hadoopmapreduce_spark import registry
from hadoopmapreduce_spark.operators import graph as G

registry.load_all()

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_louvain_checkpoint_stats_do_not_compound(spark, sf_dir):
    """The r12 BigInteger blow-up regression pin: localCheckpoint carries
    the origin plan's estimated sizeInBytes, and the Louvain round plan
    references the label table ~5 ways, so WITHOUT _stats_clean the
    final label table's carried estimate had ~75k decimal DIGITS at
    sf0.001 and four level-2 rounds seeded from it went
    BigInteger-quadratic (measured 302 s for round 4 on 25 rows).  The
    cleaned table must stay at the defaultSizeInBytes fallback scale."""
    st = G._louvain_phase1_loop(spark, sf_dir)
    jq = st["labels"]._jdf.queryExecution()
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
    trace = registry.QUERIES["graph_leiden_refine"](spark, sf_dir).collect()
    qs = [r.q_num for r in trace]
    assert qs == sorted(qs), qs
    assert trace[0].n_applied > 20  # singleton seed: real parallelism
    # rebuild the refined labels by replaying the rounds on a phase-1
    # partition of our own and check nesting
    st = G._louvain_phase1_loop(spark, sf_dir)
    edges, labels1 = st["parts"][0], st["labels"]
    lu = labels1.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lv = labels1.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    iedges = (
        edges.join(F.broadcast(lu), "u").join(F.broadcast(lv), "v")
        .where(F.col("cu") == F.col("cv")).select("u", "v").localCheckpoint()
    )
    directed = (
        iedges.selectExpr("u AS node", "v AS nbr", "1 AS w")
        .unionAll(iedges.selectExpr("v AS node", "u AS nbr", "1 AS w")).localCheckpoint()
    )
    k = directed.groupBy("node").agg(F.count(F.lit(1)).alias("ki")).localCheckpoint()
    m_df = spark.createDataFrame([(iedges.count(),)], "m bigint")
    labels = directed.select("node").distinct().select(
        "node", F.col("node").alias("community")
    )
    for _ in range(G.REFINE_ROUNDS):
        _m, _a, labels = G._louvain_apply_round(directed, labels, k, m_df)
    spans = (
        labels.join(labels1.withColumnRenamed("community", "p1"), "node")
        .groupBy("community")
        .agg(F.countDistinct("p1").alias("n_p1"))
        .agg(F.max("n_p1").alias("mx"))
        .first()
    )
    assert spans["mx"] == 1  # no refined community crosses a phase-1 one


def test_louvain_loop_keeps_its_task_metrics(tmp_path, sf_dir):
    """Every task of the loop reports its SQL metrics to a live
    accumulator.  A lazily checkpointed label table is materialized by
    whichever of the next round's concurrent AQE jobs finishes first; that
    drops its lineage while sibling jobs still run tasks over it, and once
    the driver collects the dropped plan Spark logs ``non-existent
    accumulator`` for each of their metric updates.  Full GCs run
    throughout the build and again before the write."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys, threading, time
        sys.path.insert(0, {REPO_ROOT!r})
        from hadoopmapreduce_spark import registry
        from hadoopmapreduce_spark.session import get_spark

        spark = get_spark("louvain-metrics-probe", cpus=4)
        registry.load_all()
        done = threading.Event()

        def collect():
            while not done.is_set():
                spark._jvm.System.gc()
                time.sleep(0.05)

        gc_thread = threading.Thread(target=collect)
        gc_thread.start()
        df = registry.QUERIES["graph_louvain_phase1"](spark, {sf_dir!r})
        done.set()
        gc_thread.join()
        spark._jvm.System.gc()
        time.sleep(1)
        df.write.format("noop").mode("overwrite").save()
        spark.stop()
    """))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "non-existent accumulator" not in r.stderr, r.stderr[-3000:]
