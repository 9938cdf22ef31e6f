"""Round-9 regression tests: the VERDICT r8 / ADVICE r8 fixes stay fixed.

* bench.py refuses to run under ``--strict`` when the 1-min loadavg
  exceeds the gate (VERDICT r8 ask #5) — a committed sidecar can never
  silently carry contaminated numbers.
* the SemDeDup assignment stage is plan-pinned shuffle-free in
  tests/test_plans.py::test_semdedup_assignment_is_shuffle_free.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_strict_refuses_on_load():
    """With the gate forced to -1, any real machine is 'loaded' (the gate
    is load <= MAX and loadavg can be exactly 0.00 on an idle box — a
    gate of 0 would flakily pass and run the whole suite; ADVICE r9), so
    --strict must exit 2 BEFORE starting a JVM or touching fixtures."""
    env = dict(os.environ, SPARK_GRAFT_BENCH_LOAD_MAX="-1")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--strict"],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        cwd=REPO,
    )
    assert proc.returncode == 2, (proc.returncode, proc.stderr[-500:])
    assert "refusing under --strict" in proc.stderr


def test_bench_gate_constant_from_env():
    """LOAD_GATE_MAX is env-overridable (CI boxes have different idle
    floors) and defaults to 2.0."""
    import bench

    assert bench.LOAD_GATE_MAX == float(
        os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0")
    )


def test_tiff_probe_rejects_malformed_blobs():
    """The TIFF walk must fail loudly on structural violations (the
    codec-family contract): bad byte-order mark, bad magic, truncated
    IFD, non-ascending tags, strip accounting mismatch."""
    import struct

    import pytest

    from hadoopmapreduce_spark.operators.multimodal import (
        parse_tiff_features,
        synthesize_tiff,
    )

    good = synthesize_tiff(6, 5, 42, True, 7)
    parse_tiff_features(good)  # sanity: the pristine blob parses

    with pytest.raises(ValueError):
        parse_tiff_features(b"XX" + good[2:])  # bad BOM
    with pytest.raises(ValueError):
        parse_tiff_features(good[:2] + struct.pack("<H", 43) + good[4:])
    with pytest.raises(ValueError):
        parse_tiff_features(good[:40])  # truncated mid-strip/IFD
    # swap the first two IFD entries -> tags not ascending
    ifd_off = struct.unpack_from("<I", good, 4)[0]
    e0 = ifd_off + 2
    swapped = (
        good[:e0]
        + good[e0 + 12 : e0 + 24]
        + good[e0 : e0 + 12]
        + good[e0 + 24 :]
    )
    with pytest.raises(ValueError):
        parse_tiff_features(swapped)
    # corrupt StripByteCounts (tag 279, entry index 8): value != w*h
    e8 = ifd_off + 2 + 8 * 12
    bad_cnt = good[: e8 + 8] + struct.pack("<I", 999) + good[e8 + 12 :]
    with pytest.raises(ValueError):
        parse_tiff_features(bad_cnt)


def test_tiff_endianness_is_honored():
    """The SAME logical image serialized II and MM must parse to identical
    features except the is_le flag — the byte-order gotcha (inline SHORT
    values occupy the FIRST two bytes in file order) pinned directly."""
    from hadoopmapreduce_spark.operators.multimodal import (
        parse_tiff_features,
        synthesize_tiff,
    )

    le = parse_tiff_features(synthesize_tiff(9, 4, 17, True, 5))
    be = parse_tiff_features(synthesize_tiff(9, 4, 17, False, 5))
    assert le.pop("is_le") == 1 and be.pop("is_le") == 0
    assert le == be


def test_dedup_within_watermark_cross_batch(spark, tmp_path):
    """Pins the BOUNDED-state semantics of dropDuplicatesWithinWatermark
    across micro-batches, which the registered query's fixture replay
    (one availableNow batch, horizon >= span) deliberately never hits:
    a duplicate inside the horizon is dropped, but once the watermark
    evicts the key's state, the same key is emitted AGAIN — the exact
    trade that makes infinite-stream dedup affordable."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "ev")

    def write_batch(rows):
        spark.createDataFrame(rows, "user_id long, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("append").parquet(path)

    write_batch([(1, "2024-01-01 00:00:00")])  # first arrival -> emit
    write_batch([(1, "2024-01-01 00:30:00")])  # dup inside 1h horizon -> drop
    write_batch([(9, "2024-01-03 00:00:00")])  # jumps the watermark
    # the watermark computed from a batch takes effect in the NEXT batch,
    # so a spacer batch lets the jump evict key 1's state...
    write_batch([(8, "2024-01-03 00:01:00")])
    # ...and the re-arrival after eviction is emitted AGAIN
    write_batch([(1, "2024-01-03 00:02:00")])

    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    dedup = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ddww_cross_batch")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["user_id"]
        for r in spark.sql("SELECT * FROM t_ddww_cross_batch").collect()
    )
    assert got == [1, 1, 8, 9], got


def test_k_anonymity_math_on_handmade_frame(spark, sf_dir):
    """Suppression accounting and l-diversity pinned on the fixture: the
    class histogram recomputed driver-side must reproduce every output
    column (the oracle proves cross-engine parity; this proves the
    SEMANTICS against an independent derivation)."""
    from collections import Counter

    from hadoopmapreduce_spark import registry
    from hadoopmapreduce_spark.catalog import load_table

    registry.load_all()
    row = registry.QUERIES["dq_k_anonymity"](spark, sf_dir).collect()[0]
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    ).collect()
    classes = Counter((r["c_nationkey"], r["c_mktsegment"]) for r in cust)
    k = 10
    assert row["n_customers"] == len(cust)
    assert row["n_classes"] == len(classes)
    assert row["k_anonymity"] == min(classes.values())
    assert row["classes_below_k"] == sum(1 for m in classes.values() if m < k)
    below = sum(m for m in classes.values() if m < k)
    assert row["rows_below_k"] == below
    assert row["suppression_ppm"] == below * 1_000_000 // len(cust)


def test_holt_recursion_floor_div_on_negative_trend(spark):
    """A strictly DECREASING series drives the trend state negative —
    exactly where Spark's trunc-DIV and DuckDB's floor-// diverge; the
    pmod floor-div construction must make both walk the same integer
    trajectory as a pure-Python floor-div referee."""
    import duckdb

    from hadoopmapreduce_spark.operators.timeseries import _holt_recursion

    xs = [1000, 850, 700, 640, 300, 210, 95, 40]
    rows = [(i + 1, i + 1, xs[i], xs[i + 1] if i + 1 < len(xs) else None)
            for i in range(len(xs))]

    # python referee: floor division via //
    l, b = xs[0], xs[1] - xs[0]
    expect = [(1, xs[0], l, b)]
    for rk in range(2, len(xs) + 1):
        x = xs[rk - 1]
        l_new = (x + 3 * (l + b)) // 4
        b = ((l_new - l) + 7 * b) // 8
        l = l_new
        expect.append((rk, x, l, b))
    assert any(bb < 0 for _, _, _, bb in expect), "fixture must go negative"

    spark.createDataFrame(
        rows, "rk int, m long, x long, x2 long"
    ).createOrReplaceTempView("t_holt_steps")
    got_spark = {
        r["month_index"]: (r["rev_cents"], r["level_cents"], r["trend_cents"])
        for r in spark.sql(
            "WITH RECURSIVE " + _holt_recursion("t_holt_steps", "DIV")
        ).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t_holt_steps(rk INT, m BIGINT, x BIGINT, x2 BIGINT)"
    )
    con.executemany("INSERT INTO t_holt_steps VALUES (?, ?, ?, ?)", rows)
    got_duck = {
        r[0]: (r[2], r[3], r[4])
        for r in con.sql(
            "WITH RECURSIVE " + _holt_recursion("t_holt_steps", "//")
        ).fetchall()
    }
    for rk, x, l_e, b_e in expect:
        assert got_spark[rk] == (x, l_e, b_e), (rk, got_spark[rk])
        assert got_duck[rk] == (x, l_e, b_e), (rk, got_duck[rk])


def test_fixed_width_reader_is_codegen_and_writer_guards(spark, sf_dir):
    """The fixed-width reader must stay whole-stage codegen (no Python
    workers — byte-offset substring over a text scan), and the writer
    must REFUSE a value that overflows its field instead of silently
    shifting every later offset on the line."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException  # noqa: F401

    from hadoopmapreduce_spark.operators.layout import (
        FW_LAYOUT,
        scan_fixed_width_source,
    )
    from hadoopmapreduce_spark.plans import assert_not_contains

    df = scan_fixed_width_source(spark, sf_dir)
    assert_not_contains(df, "BatchEvalPython", "ArrowEvalPython")
    assert df.count() > 0

    # writer guard: a 13-digit key overflows the 12-char field
    total_w = sum(w for _, w, _ in FW_LAYOUT)
    fmt = "".join(
        f"%{w}s" if j == ">" else f"%-{w}s" for _, w, j in FW_LAYOUT
    )
    bad = spark.createDataFrame(
        [(10**13, "F", 123, "1997-01-01", "1-URGENT")],
        "k long, s string, c long, d string, p string",
    ).select(
        F.format_string(
            fmt,
            F.col("k").cast("string"),
            "s",
            F.col("c").cast("string"),
            "d",
            "p",
        ).alias("value")
    ).select(
        F.when(F.length("value") == total_w, F.col("value"))
        .otherwise(F.raise_error(F.lit("fixed-width field overflow")))
        .alias("value")
    )
    with pytest.raises(Exception, match="fixed-width field overflow"):
        bad.collect()
