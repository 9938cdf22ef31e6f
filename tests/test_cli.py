"""The drop-in CLI: same arg contract as the reference's driver
(ClickThru.java:28-42), byte-compatible intermediate + output files."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _fixture(tmp_path):
    imp = tmp_path / "impressions"
    clk = tmp_path / "clicks"
    imp.mkdir()
    clk.mkdir()
    (imp / "part-0000").write_text(
        '{"impressionId": "i1", "referrer": "u1", "adId": "a1"}\n'
        '{"impressionId": "i2", "referrer": "u1", "adId": "a1"}\n'
        '{"impressionId": "i3", "referrer": "u2", "adId": "a2"}\n'
        # E1: no adId, so no job-2 key — dropped from both sinks
        '{"impressionId": "i6", "referrer": "u2"}\n'
    )
    (clk / "part-0000").write_text('{"impressionId": "i1"}\n')
    return imp, clk


def test_cli_usage_error():
    proc = subprocess.run(
        [sys.executable, "-m", "hadoopmapreduce_spark", "one", "two"],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert proc.returncode == 1
    assert "usage:" in proc.stderr


def test_java_float_rendering_golden():
    """Pin Java Float.toString parity, incl. the <1e-3 scientific switch
    the old str(np.float32(x)) path got wrong ('1e-04' vs Java '1.0E-4')."""
    from hadoopmapreduce_spark.functions.javafmt import java_float32_repr as r

    assert r(0.5) == "0.5"
    assert r(1.0) == "1.0"
    assert r(0.0) == "0.0"
    assert r(1 / 3) == "0.33333334"  # shortest float32 round-trip digits
    assert r(0.001) == "0.001"  # decimal form down to exactly 1e-3
    assert r(0.0001) == "1.0E-4"  # below 1e-3: Java scientific, uppercase E
    assert r(1 / 4096) == "2.4414062E-4"  # a CTR < 0.001 (1 click / 4096)
    assert r(1e7) == "1.0E7"  # >= 1e7: scientific, no '+' on exponent
    assert r(9999999.0) == "9999999.0"
    assert r(float("nan")) == "NaN"
    assert r(float("inf")) == "Infinity"
    assert r(-0.5) == "-0.5"
    # JDK >= 19: a one-digit shortest form competes with the two-digit ones
    assert r(1.4e-45) == "1.4E-45"  # Float.MIN_VALUE


def test_java_float_rendering_column(spark):
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.functions.javafmt import java_f32_str

    df = spark.createDataFrame(
        [(0.5,), (0.0001,), (1 / 4096,), (0.0,)], ["ctr"]
    ).select(java_f32_str(F.col("ctr")).alias("s"))
    assert [row.s for row in df.orderBy("s").collect()] == [
        "0.0", "0.5", "1.0E-4", "2.4414062E-4"
    ]


def test_java_f32_str_matches_reference_sweep(spark):
    """The JVM cast renders every CTR c/t with t <= 1000, and the golden
    specials, exactly as the Python statement of Java's rule."""
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.functions.javafmt import (
        java_f32_str,
        java_float32_repr,
    )

    t = spark.range(1, 1001).withColumnRenamed("id", "t")
    c = spark.range(0, 1001).withColumnRenamed("id", "c")
    ratios = (
        t.crossJoin(c).where("c <= t").select((F.col("c") / F.col("t")).alias("x"))
    ).distinct()  # not applied to the specials: it would fold -0.0 into 0.0
    specials = spark.createDataFrame(
        [(float(v),) for v in ("nan", "inf", "-inf", 0.0, -0.0, 1e7, 9999999.0, 1e-4)],
        "x double",
    )
    rows = ratios.unionByName(specials).select(
        "x", java_f32_str(F.col("x")).alias("s")
    ).collect()
    assert len(rows) > 300_000
    bad = [(r.x, r.s) for r in rows if r.s != java_float32_repr(r.x)]
    assert not bad, bad[:10]


def test_cli_sinks_share_one_persisted_frame(spark, tmp_path):
    """Both sinks read one persisted per-impression frame: the output sink
    scans the cache instead of the input, no sink plan evaluates Python,
    and the frame is released when the call returns."""
    from hadoopmapreduce_spark.__main__ import main

    imp, clk = _fixture(tmp_path)
    combined, output = tmp_path / "combined", tmp_path / "out"
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = {e.executionId() for e in executions()}
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    # main's get_spark re-applies its runtime confs to this shared session;
    # put back every one it changed so later tests see the fixture's
    # settings
    confs = spark.conf.getAll
    try:
        assert main([str(imp), str(clk), str(combined), str(output)]) == 0
    finally:
        for key, value in spark.conf.getAll.items():
            if confs.get(key) != value and spark.conf.isModifiable(key):
                if key in confs:
                    spark.conf.set(key, confs[key])
                else:
                    spark.conf.unset(key)
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_partitions

    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() not in seen]
    out_plans = [p for p in plans if str(output) in p]
    assert len(out_plans) == 1 and any(str(combined) in p for p in plans)
    assert "InMemoryTableScan" in out_plans[0]
    assert "FileScan" not in out_plans[0]
    for p in plans:
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_cli_end_to_end(tmp_path):
    imp, clk = _fixture(tmp_path)
    combined = tmp_path / "combined"
    output = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "hadoopmapreduce_spark",
            str(imp),
            str(clk),
            str(combined),
            str(output),
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "(2 groups)" in proc.stdout

    out_lines = sorted(
        line
        for f in output.glob("part-*")
        for line in f.read_text().splitlines()
    )
    assert out_lines == ["[u1, a1]\t0.5", "[u2, a2]\t0.0"]

    combined_lines = sorted(
        line
        for f in combined.glob("part-*")
        for line in f.read_text().splitlines()
    )
    # the reference's job-1 byte format: 0\t{url/x1fadId/x1e<flag>
    assert combined_lines == [
        "0\t{u1/x1fa1/x1e0",
        "0\t{u1/x1fa1/x1e1",
        "0\t{u2/x1fa2/x1e0",
    ]


def test_cli_list_subcommand():
    """`list` prints every registered query id with its check kind, without
    starting a SparkSession."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "hadoopmapreduce_spark", "list"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    assert len(lines) >= 180
    kinds = {l.split("\t")[1] for l in lines}
    assert kinds == {"oracle", "rows-only"}
    assert any(l.startswith("ctr_flagship\t") for l in lines)


def test_cli_unknown_query_errors():
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "hadoopmapreduce_spark", "run", "nope", "/tmp"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert proc.returncode == 1
    assert "unknown query id" in proc.stderr
