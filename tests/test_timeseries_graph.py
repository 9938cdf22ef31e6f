"""Semantic unit tests for the time-series and graph cores on literal
graphs/series whose answers are known by hand — shapes the fixture parity
can't isolate (gap runs, known triangle censuses, rank symmetry), plus
fixture invariants of the graph loops (walks follow real edges, the WCC
census conserves nodes)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _events(spark, rows):
    """rows: (event_id, user_id, day_offset, value) → events-shaped table."""
    base = dt.datetime(2020, 1, 1)
    data = [
        (eid, base + dt.timedelta(days=d), uid, "view", float(v), "{}")
        for (eid, uid, d, v) in rows
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_gapfill_carries_last_observation(spark, tmp_path):
    import hadoopmapreduce_spark.operators.timeseries as T

    # user 1: days 0 and 3 observed -> days 1, 2 are gaps carrying 5.0
    df = _events(spark, [(1, 1, 0, 5.0), (2, 1, 3, 7.0)])
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {
        (r.user_id, r.day.isoformat()): (r.filled_value, r.is_gap)
        for r in T.ts_gapfill_locf(spark, str(tmp_path)).collect()
    }
    assert out[(1, "2020-01-01")] == (5.0, 0)
    assert out[(1, "2020-01-02")] == (5.0, 1)
    assert out[(1, "2020-01-03")] == (5.0, 1)
    assert out[(1, "2020-01-04")] == (7.0, 0)


def test_gapfill_singleton_has_no_gaps(spark, tmp_path):
    import hadoopmapreduce_spark.operators.timeseries as T

    df = _events(spark, [(1, 9, 5, 2.5)])
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    rows = T.ts_gapfill_locf(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0].is_gap == 0


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "u long, v long"
    )


def test_triangle_count_k4(spark):
    from hadoopmapreduce_spark.operators.graph import triangle_count

    # complete graph on 4 nodes: C(4,3) = 4 triangles
    k4 = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    row = triangle_count(k4).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)


def test_triangle_count_path_has_none(spark):
    from hadoopmapreduce_spark.operators.graph import triangle_count

    path = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert triangle_count(path).collect()[0].n_triangles == 0


def test_pagerank_symmetry_and_mass(spark):
    from hadoopmapreduce_spark.operators.graph import (
        _PR_INIT,
        pagerank_int,
    )

    # star: center 1, leaves 2/3/4 — leaves interchangeable, center highest
    star = _edges(spark, [(1, 2), (1, 3), (1, 4)])
    ranks = {r.node: r.rank for r in pagerank_int(star, iters=5).collect()}
    assert ranks[2] == ranks[3] == ranks[4]
    assert ranks[1] > ranks[2]
    # rank mass is conserved up to floor-division loss: never above N*INIT,
    # and within 1% of it on a graph this small
    total = sum(ranks.values())
    assert 4 * _PR_INIT * 0.99 <= total <= 4 * _PR_INIT


def test_interpolate_linear_midpoints(spark, tmp_path):
    import hadoopmapreduce_spark.operators.timeseries as T

    # observed 3.0 on day 0 and 9.0 on day 3 -> gaps at 5.0 and 7.0
    df = _events(spark, [(1, 1, 0, 3.0), (2, 1, 3, 9.0)])
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {
        r.day.isoformat(): (r.interp_value, r.is_gap)
        for r in T.ts_interpolate_linear(spark, str(tmp_path)).collect()
    }
    assert out["2020-01-01"] == (3.0, 0)
    assert out["2020-01-02"] == (5.0, 1)
    assert out["2020-01-03"] == (7.0, 1)
    assert out["2020-01-04"] == (9.0, 0)


def test_ohlc_equal_ts_ties_break_on_event_id(spark, tmp_path):
    """Two events at the identical timestamp: open must take the lower
    event_id, close the higher — the explicit tie-break, not arrival order."""
    import datetime as dt

    import hadoopmapreduce_spark.operators.timeseries as T

    ts = dt.datetime(2020, 3, 1, 10, 30)
    df = spark.createDataFrame(
        [(2, ts, 1, "view", 99.0, "{}"), (1, ts, 1, "view", 5.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    row = T.ts_resample_ohlc(spark, str(tmp_path)).collect()[0]
    assert (row.open_value, row.close_value) == (5.0, 99.0)
    assert (row.low_value, row.high_value, row.n_events) == (5.0, 99.0, 2)


def test_bfs_distances_on_path_graph(spark, tmp_path):
    """Path graph 1-2-3-...-8 with sources = 3 lowest nodes: after 4
    rounds node 8 (distance 5 from node 3) must still be unreached-capped
    at its 4-hop frontier value... verify the per-distance census directly
    via the core loop on a known graph through the registered query's
    lineitem encoding: order k contains parts (k, k+1) -> path graph."""
    from hadoopmapreduce_spark.operators.graph import graph_bfs_distances

    rows = []
    for k in range(1, 8):  # orders 1..7, each with parts (k, k+1)
        rows.append((k, k, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                     __import__("datetime").datetime(1995, 1, 1)))
        rows.append((k, k + 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O",
                     __import__("datetime").datetime(1995, 1, 1)))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    out = {r.dist: r.n_nodes for r in graph_bfs_distances(spark, str(tmp_path)).collect()}
    # sources 1,2,3 at dist 0; 4 at 1; 5 at 2; 6 at 3; 7 at 4; 8 unreached
    assert out == {0: 3, 1: 1, 2: 1, 3: 1, 4: 1}


def test_kcore_peel_trace_pendant_chain(spark):
    """K4 with a pendant chain 4-5-6 at k=2: the chain peels one node per
    round (degree-1 end first, then its newly-exposed neighbor) and the
    K4 core survives as the fixpoint."""
    from hadoopmapreduce_spark.operators.graph import kcore_peel_trace

    und = _edges(
        spark,
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
    )
    directed = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    # 16 directed edges over 6 nodes -> avg degree 16//6 = 2; offset 0 -> k=2
    trace = {
        r.round: (r.n_nodes, r.n_edges)
        for r in kcore_peel_trace(spark, directed, rounds=4, k_offset=0).collect()
    }
    assert trace[0] == (6, 8)
    assert trace[1] == (5, 7)  # node 6 (degree 1) peeled
    assert trace[2] == (4, 6)  # node 5, now degree 1, peeled
    assert trace[3] == (4, 6)  # K4 fixpoint: every degree 3 >= 2
    assert trace[4] == (4, 6)


def test_kcore_trace_is_monotone_on_fixture(spark, sf_dir):
    from hadoopmapreduce_spark.operators.graph import graph_kcore_peel_trace

    rows = sorted(
        graph_kcore_peel_trace(spark, sf_dir).collect(),
        key=lambda r: r.round,
    )
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_nodes <= prev.n_nodes
        assert cur.n_edges <= prev.n_edges


def test_random_walks_traverse_real_edges(spark, sf_dir):
    """Every consecutive hop in every walk must be an actual co-purchase
    edge, every path must have WALK_STEPS+1 nodes, and there must be one
    walk per reachable seed — the properties that make the corpus a valid
    skip-gram input."""
    from hadoopmapreduce_spark.operators.graph import (
        WALK_STEPS,
        directed_copurchase_edges,
        graph_random_walks,
    )

    walks = graph_random_walks(spark, sf_dir)
    rows = walks.collect()
    assert rows, "no walks generated"
    assert len(rows) == len({r["walk_id"] for r in rows})
    hops = []
    for r in rows:
        nodes = [int(x) for x in r["path"].split(":")]
        assert len(nodes) == WALK_STEPS + 1, r["path"]
        assert nodes[0] == r["walk_id"] and nodes[-1] == r["end_node"]
        hops.extend(zip(nodes, nodes[1:]))
    edge_set = {
        (e["src"], e["dst"])
        for e in directed_copurchase_edges(spark, sf_dir).collect()
    }
    bad = [h for h in hops if h not in edge_set]
    assert not bad, f"{len(bad)} hops are not graph edges: {bad[:3]}"


def test_wcc_size_census_conserves_nodes(spark, sf_dir):
    from hadoopmapreduce_spark.operators.graph import (
        WCC_MIN_SUPPORT,
        graph_wcc_components,
    )
    from hadoopmapreduce_spark.catalog import load_table

    census = graph_wcc_components(spark, sf_dir).collect()
    n_from_census = sum(r["size"] * r["n_components"] for r in census)
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= WCC_MIN_SUPPORT)
    )
    n_nodes = (
        edges.select(F.col("u").alias("x"))
        .unionByName(edges.select(F.col("v").alias("x")))
        .distinct()
        .count()
    )
    assert n_from_census == n_nodes
    assert all(r["size"] >= 2 for r in census), "edge endpoints only"
