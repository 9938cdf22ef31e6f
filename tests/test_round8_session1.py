"""Round-8 session-1 regressions from the ADVICE r7 items:

* ``distributed_ntile`` must sever lineage (eager localCheckpoint, not
  ``cache()``): a cache-evicted block would silently recompute with a
  fresh range-boundary sample + fresh ``spark_partition_id``, so the
  collected prefix-offset map would no longer match row placement —
  silently wrong global ranks in an oracle-adjudicated query.  With a
  checkpoint, a lost block fails loudly instead.
* ``distributed_ntile`` must reject inputs that already carry one of its
  reserved working columns (``_pid``/``_lr``/``_rank``) instead of
  silently clobbering and dropping them.
* the textkv writer must reject the two rendered shapes that cannot
  survive the CRLF-tolerant reader's framing: an embedded ``\\n`` and a
  value ending in ``\\r`` — round-trips are lossless by CONTRACT now,
  and the reader comment says so instead of claiming \\n-only framing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def test_distributed_ntile_rejects_reserved_columns(spark):
    from hadoopmapreduce_spark.functions import ranks

    df = spark.range(5).select(
        F.col("id").alias("val"), F.lit(0).alias("_pid")
    )
    with pytest.raises(ValueError, match="_pid"):
        ranks.distributed_ntile(df, 2, ["val"])


def _window_ntile(df, k):
    return {
        (r["val"], r["tid"]): r["b"]
        for r in df.withColumn(
            "b", F.ntile(k).over(Window.orderBy("val", "tid"))
        ).collect()
    }


def test_distributed_ntile_severs_lineage(spark):
    """The returned frame must be built on a checkpoint-backed LogicalRDD
    (lineage severed — re-sampling impossible), not on a lazily
    recomputable cached plan."""
    from hadoopmapreduce_spark.functions import ranks

    df = spark.range(100).select(
        (F.col("id") % 7).alias("val"), F.col("id").alias("tid")
    )
    out = ranks.distributed_ntile(df, 4, ["val", "tid"])
    logical = out._jdf.queryExecution().logical().toString()
    assert "LogicalRDD" in logical, logical
    # and the result is still the exact NTILE over the total order
    got = {(r["val"], r["tid"]): r["bucket"] for r in out.collect()}
    assert got == _window_ntile(df, 4)


def test_distributed_ntile_result_outlives_gc(spark):
    """The returned frame alone keeps its checkpoint alive: with no other
    reference held, full Python and JVM collections leave it readable
    and still equal to the window NTILE."""
    import gc

    from hadoopmapreduce_spark.functions import ranks

    df = spark.range(150).select(
        (F.col("id") % 11).alias("val"), F.col("id").alias("tid")
    )
    expect = _window_ntile(df, 6)
    out = ranks.distributed_ntile(df, 6, ["val", "tid"])
    gc.collect()
    spark._jvm.System.gc()
    got = {(r["val"], r["tid"]): r["bucket"] for r in out.collect()}
    assert got == expect


def _write_textkv(spark, df, path):
    from hadoopmapreduce_spark.sources.textkv_source import register_textkv

    register_textkv(spark)
    df.write.format("textkv").mode("overwrite").save(str(path))


def test_textkv_writer_rejects_trailing_cr_value(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "clean"), ("b", "ends_in_cr\r")], "key string, value string"
    )
    with pytest.raises(Exception, match="carriage return"):
        _write_textkv(spark, df, tmp_path / "cr")


def test_textkv_writer_rejects_embedded_newline(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "line1\nline2")], "key string, value string"
    )
    with pytest.raises(Exception, match="framing"):
        _write_textkv(spark, df, tmp_path / "nl")


def test_textkv_writer_allows_embedded_cr_and_roundtrips(spark, tmp_path):
    """Mid-string \\r is data under CRLF framing (only the one before the
    terminator is stripped) — the writer must accept it and the
    write→read round-trip must be lossless."""
    rows = [("a", "mid\rcr"), ("b", "plain"), ("c", "")]
    df = spark.createDataFrame(rows, "key string, value string")
    path = tmp_path / "ok"
    _write_textkv(spark, df, path)
    got = {
        r["key"]: r["value"]
        for r in spark.read.format("textkv").load(str(path)).collect()
    }
    assert got == dict(rows)


def test_semdedup_kernel_matches_sql_formulation(spark, sf_dir):
    """Differential: the per-cluster numpy Gram kernel must agree with a
    plain SQL-expression EXISTS formulation of the same keep-first rule —
    the codegen path referees the Arrow/numpy path (same discipline as
    dedup_minhash_eval)."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.dedup import (
        SEMDEDUP_TAU,
        dedup_semantic_clustered,
    )

    out = dedup_semantic_clustered(spark, sf_dir)
    rows = out.collect()
    # invariants: kept <=> no earlier dup; the first member of every
    # cluster (min vec_id) is always kept
    assert all((r["kept"] == 1) == (r["n_earlier_dups"] == 0) for r in rows)
    first = {}
    for r in rows:
        if r["cluster"] not in first or r["vec_id"] < first[r["cluster"]][0]:
            first[r["cluster"]] = (r["vec_id"], r["kept"])
    assert all(kept == 1 for _, kept in first.values())

    # rebuild (vec_id -> n_earlier_dups) with a SQL-expression self-join
    # over the SAME assignment (reuse the operator's own clusters, join
    # back to the raw vectors)
    from hadoopmapreduce_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    a = out.select("vec_id", "cluster").join(e, "vec_id")
    dot = F.aggregate(
        F.zip_with(F.col("x.v"), F.col("b.v"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, p: acc + p,
    )

    def nrm(side):
        return F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col(f"{side}.v"), F.col(f"{side}.v"), lambda p, q: p * q
                ),
                F.lit(0.0),
                lambda acc, p: acc + p,
            )
        )

    pairs = (
        a.alias("x")
        .join(
            a.alias("b"),
            (F.col("x.cluster") == F.col("b.cluster"))
            & (F.col("x.vec_id") < F.col("b.vec_id")),
        )
        .filter(dot / (nrm("x") * nrm("b")) >= SEMDEDUP_TAU)
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expect = {r["vec_id"]: r["n"] for r in pairs.collect()}
    got = {r["vec_id"]: r["n_earlier_dups"] for r in rows if r["n_earlier_dups"]}
    assert got == expect
    assert len(got) > 0, "fixture must exercise the drop path"
