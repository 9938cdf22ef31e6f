"""Each graph query owns what it materializes: once its result is dropped,
nothing it created stays resident, and a result still held keeps its own
checkpoints readable across full Python and JVM collections."""

from __future__ import annotations

import gc
import time

# the graph queries that materialize an intermediate table: the co-purchase
# edges and their derivatives, the thresholded adjacency, the Louvain sweeps
MATERIALIZING = (
    "graph_copurchase_triangles", "graph_pagerank_int", "graph_bfs_distances",
    "graph_degree_distribution", "graph_kcore_peel_trace",
    "graph_degree_assortativity", "graph_neighbor_jaccard_top",
    "graph_ppr_seeded", "graph_modularity_brand", "graph_random_walks",
    "graph_clustering_coefficient", "graph_label_propagation",
    "graph_harmonic_centrality", "graph_louvain_move_pass",
    "graph_louvain_phase1", "graph_leiden_refine",
)


def _persistent_after_gc(spark, target: int, timeout: float = 30.0) -> int:
    """Persistent RDD count after full Python and JVM collections, polled
    until it is at most ``target`` or ``timeout`` seconds pass (Spark's
    ContextCleaner unpersists collected RDDs on its own thread).

    The count is read from the context's own weak-valued map, not from
    ``getPersistentRDDs()``: that returns a Java copy holding every RDD
    strongly, and py4j frees it late.  Its proxy sits in a reference cycle
    (its method cache points back at it), so only the next ``gc.collect()``
    queues the release, which py4j's finalizer thread sends up to a second
    later, after the next ``System.gc()``: each poll's copy would keep the
    RDDs alive through the next poll."""
    persistent = spark.sparkContext._jsc.sc().persistentRdds()
    deadline = time.monotonic() + timeout
    while True:
        gc.collect()
        spark._jvm.System.gc()
        n = persistent.size()
        if n <= target or time.monotonic() > deadline:
            return n
        time.sleep(0.25)


def _resident(spark) -> str:
    """Each persistent RDD's id, name and the head of its lineage."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    lines = []
    for rid in sorted(int(i) for i in rdds.keySet().toArray()):
        rdd = rdds.get(rid)
        lineage = str(rdd.toDebugString()).splitlines()[:6]
        lines.append(f"RDD {rid} {rdd.name()!r}:\n  " + "\n  ".join(lineage))
    return "\n".join(lines)


def test_graph_queries_leave_nothing_resident(spark, sf_dir, oracle_con):
    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.oracle import compare

    registry.load_all()
    spark.catalog.clearCache()
    start = _persistent_after_gc(spark, 0, timeout=5.0)
    for name in MATERIALIZING:
        assert registry.QUERIES[name](spark, sf_dir).collect(), name

    # a census and an iterative loop, held (not yet run) across the GC
    held = {q: registry.QUERIES[q](spark, sf_dir) for q in MATERIALIZING[:2]}
    gc.collect()
    spark._jvm.System.gc()
    for name, df in held.items():
        r = compare(name, df, oracle_con, registry.ORACLES[name])
        assert r.ok and r.exact_values, (name, r.detail)
    del held, df

    n = _persistent_after_gc(spark, start)
    assert n <= start, f"{n} persistent RDDs (start {start}):\n{_resident(spark)}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
