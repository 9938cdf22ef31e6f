"""MERGE INTO / SCD2 emulation on plain parquet (no Delta in this build):
upsert = target anti-join updates (keep untouched rows) + union updates;
SCD2 = close out changed rows with an end date + append new versions.
This is the batch-parquet path of operators/merge.py:merge_upsert_parquet."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F


def _write(spark, df, path):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_upsert_emulation(spark, tmp_path):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, v string, x double"
    )
    updates = spark.createDataFrame(
        [(2, "B", 21.0), (4, "d", 40.0)], "id long, v string, x double"
    )
    tpath = str(tmp_path / "target")
    target = _write(spark, target, tpath)

    merged = target.join(updates, "id", "left_anti").unionByName(updates)
    # write to a NEW location then swap — rewriting the path being read is
    # not transactional on plain parquet (that's what Delta adds)
    merged = _write(spark, merged, str(tmp_path / "target_v2"))

    rows = {r["id"]: (r["v"], r["x"]) for r in merged.collect()}
    assert rows == {1: ("a", 10.0), 2: ("B", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_scd2_emulation(spark, tmp_path):
    dim = spark.createDataFrame(
        [
            (1, "alice", "2024-01-01", None),
            (2, "bob", "2024-01-01", None),
        ],
        "id long, name string, valid_from string, valid_to string",
    )
    changes = spark.createDataFrame([(2, "robert")], "id long, name string")
    as_of = "2024-06-01"

    changed_ids = changes.select("id")
    closed = (
        dim.join(changed_ids, "id", "left_semi")
        .filter(F.col("valid_to").isNull())
        .withColumn("valid_to", F.lit(as_of))
    )
    untouched = dim.join(changed_ids, "id", "left_anti")
    new_versions = changes.select(
        "id", "name", F.lit(as_of).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    scd2 = untouched.unionByName(closed).unionByName(new_versions)

    rows = sorted(
        (r["id"], r["name"], r["valid_from"], r["valid_to"]) for r in scd2.collect()
    )
    assert rows == [
        (1, "alice", "2024-01-01", None),
        (2, "bob", "2024-01-01", "2024-06-01"),
        (2, "robert", "2024-06-01", None),
    ]
    # exactly one open (current) version per id
    current = scd2.filter(F.col("valid_to").isNull()).groupBy("id").count().collect()
    assert all(r["count"] == 1 for r in current)


def test_incremental_state_merge_equals_direct_recompute(spark, tmp_path):
    """Base+delta partial-state merge must equal aggregating the union
    directly — including groups present only in the delta."""
    import datetime as dt

    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.aggregates import incremental_agg_merge

    cutoff = dt.datetime(1997, 1, 1)
    rows = [
        # priority A: rows on both sides of the cutoff
        (1, 1, "O", 10.0, cutoff - dt.timedelta(days=9), "A"),
        (2, 1, "O", 30.0, cutoff + dt.timedelta(days=2), "A"),
        # priority B: delta-only group (insert path)
        (3, 2, "F", 7.5, cutoff + dt.timedelta(days=5), "B"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {
        r.o_orderpriority: (r.n_orders, r.total_price, r.avg_price)
        for r in incremental_agg_merge(spark, str(tmp_path)).collect()
    }
    assert got == {"A": (2, 40.0, 20.0), "B": (1, 7.5, 7.5)}


def test_merge_upsert_leaves_no_temp_dir_per_call(spark, sf_dir, monkeypatch, tmp_path):
    """Repeated ``merge_upsert`` calls write into one work_dir, cleared per
    call, instead of a fresh temp dir each time."""
    from hadoopmapreduce_spark.operators.merge import merge_upsert

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    pattern = os.path.join(tempfile.gettempdir(), "hmr_merge_*")
    before = set(glob.glob(pattern))
    counts = [merge_upsert(spark, sf_dir).count() for _ in range(2)]
    assert counts[0] == counts[1] > 0
    assert set(glob.glob(pattern)) == before
    assert len(glob.glob(str(tmp_path / "hmr_merge_*"))) == 1
