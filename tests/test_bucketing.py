"""Bucketing: pre-shuffled storage layout → co-located joins with NO
exchange.  This is the 100 TB lever for repeated joins on the same key
(bucket both fact tables on the key once at write time; every later join
skips both shuffles)."""

from __future__ import annotations

import pytest

from hadoopmapreduce_spark.plans import physical_plan


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    # warehouse dir is a static conf, set by session.get_spark
    from hadoopmapreduce_spark.catalog import load_table

    import shutil

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # the in-memory catalog forgets tables across sessions but their files
    # persist in the warehouse dir — clear leftovers from previous runs
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    return "b_orders", "b_lineitem"


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    bo, bl = bucketed_tables
    # disable broadcast so the join must consider a shuffle — bucketing
    # should make both exchanges unnecessary
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(bo).join(
            spark.table(bl),
            spark.table(bo).o_orderkey == spark.table(bl).l_orderkey,
        )
        plan = physical_plan(joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    from hadoopmapreduce_spark.catalog import load_table

    bo, bl = bucketed_tables
    bucketed_count = (
        spark.table(bo)
        .join(spark.table(bl), spark.table(bo).o_orderkey == spark.table(bl).l_orderkey)
        .count()
    )
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    plain_count = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).count()
    assert bucketed_count == plain_count


def test_bucketed_query_rewrites_one_scratch_dir(spark, sf_dir):
    """``join_bucketed_colocated`` writes its bucketed tables under one
    scratch dir per fixture: building them twice adds no
    ``hmr_bucketed_*`` dir to the system tempdir, and both builds agree."""
    import glob
    import os
    import tempfile

    from hadoopmapreduce_spark.catalog import work_dir
    from hadoopmapreduce_spark.operators.joins import join_bucketed_colocated

    pattern = os.path.join(tempfile.gettempdir(), "hmr_bucketed_*")
    before, results = set(glob.glob(pattern)), []
    for _ in range(2):
        for t in spark.catalog.listTables():
            if t.name.startswith("hmr_b_"):
                spark.sql(f"DROP TABLE {t.name}")
        results.append(sorted(join_bucketed_colocated(spark, sf_dir).collect()))
    assert results[0] == results[1]
    assert set(glob.glob(pattern)) <= before | {work_dir("bucketed", sf_dir)}
