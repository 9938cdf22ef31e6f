"""Round-13 OPTIMIZATION-round pins.

Covers the catalog-level machinery the optimization round added:
``spread_for_expansion`` (input-split-derived round-robin repartition for
expansion stages) and ``scratch_base`` (fast-local-storage scratch
resolution).  The query rewrites of the round (chrF/BLEU/ROUGE-2
conditional-aggregation, ann_lsh_eval single-pass counting) are covered by
their existing behavioral pins in test_round12/13_session1.py — those
assert values, so they hold across plan changes by construction.
"""

from __future__ import annotations

import os

SF_SMALL = "/root/testdata/sf0.001"


def test_spread_fires_below_parallelism(spark):
    """A single-split fixture scan must come back repartitioned to the
    session parallelism (the fixture file is KBs; any maxPartitionBytes
    setting leaves it one split)."""
    from hadoopmapreduce_spark.catalog import load_spread, load_table

    base = load_table(spark, SF_SMALL, "documents")
    spread = load_spread(spark, SF_SMALL, "documents")
    par = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == par
    # same rows, only placement differs
    assert spread.count() == base.count()


def test_spread_noop_when_splits_cover_cores(spark, monkeypatch, tmp_path):
    """When the scan itself can spread the work across >= cores tasks (the
    100 TB regime), the helper must return the input UNCHANGED — no
    repartition node, no shuffle.  Since r14 the split estimate is capped
    by the actual ROW-GROUP count (a byte-range split only carries rows
    when a row group starts inside it), so the at-scale regime is
    simulated with a genuinely multi-row-group file, not by shrinking
    maxPartitionBytes under a one-row-group fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoopmapreduce_spark.catalog import spread_for_expansion

    par = spark.sparkContext.defaultParallelism
    n = max(4096, par * 64)
    tbl = pa.table({"doc_id": list(range(n)), "text": ["x" * 64] * n})
    # one row group per ~64 rows -> row groups >> cores
    pq.write_table(tbl, str(tmp_path / "documents.parquet"), row_group_size=64)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        df = spark.read.parquet(str(tmp_path / "documents.parquet"))
        out = spread_for_expansion(df, spark, str(tmp_path), "documents")
        assert out is df  # identity, not just equal
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_fires_on_one_row_group_despite_byte_splits(spark):
    """A single-ROW-GROUP file is one real scan task no matter how many
    byte ranges the scan cuts, so the helper must still spread it even
    when bytes / maxPartitionBytes >= cores (the r13 byte-only estimate
    called this a no-op; r14's row-group cap fixes it)."""
    from hadoopmapreduce_spark.catalog import load_table, spread_for_expansion

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        df = load_table(spark, SF_SMALL, "documents")
        out = spread_for_expansion(df, spark, SF_SMALL, "documents")
        assert out is not df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_missing_path_is_noop(spark):
    """Unknown table file → size 0 → identity (defensive: never guess)."""
    from hadoopmapreduce_spark.catalog import load_table, spread_for_expansion

    df = load_table(spark, SF_SMALL, "documents")
    assert spread_for_expansion(df, spark, "/nonexistent", "documents") is df


def test_scratch_base_resolution(monkeypatch):
    """Explicit $SPARK_GRAFT_SCRATCH wins; otherwise /dev/shm when
    writable, else the system tempdir."""
    from hadoopmapreduce_spark.catalog import scratch_base

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "/opt/somewhere")
    assert scratch_base() == "/opt/somewhere"
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH")
    expected = (
        "/dev/shm"
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
        else None
    )
    if expected:
        assert scratch_base() == expected


def test_work_dir_under_scratch_base(monkeypatch, tmp_path):
    """work_dir must follow scratch_base so streaming checkpoints and
    sink round-trips land on the fast scratch."""
    from hadoopmapreduce_spark.catalog import work_dir

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    d = work_dir("opt_test", SF_SMALL, fresh=True)
    assert d.startswith(str(tmp_path))
    assert os.path.isdir(d)


def test_size_bytes_parser():
    from hadoopmapreduce_spark.catalog import _size_bytes

    assert _size_bytes("128m") == 128 << 20
    assert _size_bytes("1g") == 1 << 30
    assert _size_bytes("134217728b") == 134217728
    assert _size_bytes("512k") == 512 << 10
