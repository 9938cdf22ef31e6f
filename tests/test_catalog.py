"""The catalog: the input spread guard and its row-group estimate,
scratch routing and ``work_dir``, the size-suffix parser, the schema
cache, and ``materialize`` (the one way a query materializes an
intermediate) with the task metrics it keeps."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

SF_SMALL = "/root/testdata/sf0.001"
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_scratch_routing_by_need(monkeypatch):
    """scratch_base: metadata-sized requests may land on /dev/shm; a
    request larger than shm's free space must fall back to the disk
    tempdir; $SPARK_GRAFT_SCRATCH overrides unconditionally."""
    import tempfile

    from hadoopmapreduce_spark import catalog

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    small = catalog.scratch_base()
    assert small in ("/dev/shm", tempfile.gettempdir())
    # a request no host can satisfy must route to disk
    assert catalog.scratch_base(need_bytes=1 << 62) == tempfile.gettempdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "/opt/fastdisk")
    assert catalog.scratch_base(need_bytes=1 << 62) == "/opt/fastdisk"


def test_work_dir_sizes_request_from_fixture(monkeypatch, tmp_path):
    """work_dir passes a dataset-derived need to scratch_base (sink
    round-trips write up to dataset-sized output)."""
    from hadoopmapreduce_spark import catalog

    seen = {}
    real = catalog.scratch_base

    def spy(need_bytes=0):
        seen["need"] = need_bytes
        return str(tmp_path)

    monkeypatch.setattr(catalog, "scratch_base", spy)
    try:
        catalog.work_dir("pin_probe", SF_SMALL)
    finally:
        catalog.scratch_base = real
    assert seen["need"] >= catalog._dir_bytes(SF_SMALL) > 0


def test_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """Regenerating a table at the same path with a different schema must
    MISS the schema cache (ADVICE r13: a stale explicit schema silently
    nulls renamed columns)."""
    import shutil
    import time

    from hadoopmapreduce_spark import catalog

    d = tmp_path / "sfX"
    d.mkdir()
    src = os.path.join(SF_SMALL, "documents.parquet")
    dst = str(d / "documents.parquet")
    shutil.copyfile(src, dst)
    first = catalog.load_table(spark, str(d), "documents").schema
    # rewrite with a different schema at the same path
    spark.range(5).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS brand_new_col"
    ).write.mode("overwrite").parquet(dst)
    # ensure mtime_ns actually moved even on coarse filesystems
    t = time.time() + 2
    os.utime(dst, (t, t))
    second = catalog.load_table(spark, str(d), "documents").schema
    assert first != second
    assert "brand_new_col" in second.fieldNames()


def test_size_bytes_two_letter_suffixes():
    from hadoopmapreduce_spark.catalog import _size_bytes

    assert _size_bytes("128m") == _size_bytes("128mb") == 128 << 20
    assert _size_bytes("1g") == _size_bytes("1gb") == 1 << 30
    assert _size_bytes("2kb") == 2048
    assert _size_bytes("134217728b") == 134217728
    assert _size_bytes("512") == 512


def test_row_groups_cached_and_exact(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoopmapreduce_spark.catalog import _row_groups

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": list(range(1000))}), p, row_group_size=100)
    assert _row_groups(p) == 10
    # unreadable path -> unbounded sentinel (byte estimate stands alone)
    assert _row_groups(str(tmp_path / "missing.parquet")) >= 1 << 20


# Queries whose intermediates several concurrent AQE jobs read.
METRICS_QUERIES = (
    "graph_louvain_phase1",
    "doc_containment_pairs",
    "dedup_linkage_score_fs",
    "dedup_incremental_corpus",
    "dedup_semantic_eval",
)


def test_materialized_queries_keep_their_task_metrics(tmp_path, sf_dir):
    """Every task reports its SQL metrics to a live accumulator.  A lazily
    checkpointed table is materialized by whichever of its concurrent AQE
    readers finishes first; that drops its lineage while sibling jobs
    still run tasks over it, and once the driver collects the dropped plan
    Spark logs ``non-existent accumulator`` for each of their metric
    updates.  ``materialize`` is eager, so no reader races it.  Full GCs
    run throughout each query's build and ``noop`` write."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import sys, threading, time
        sys.path.insert(0, {REPO_ROOT!r})
        from hadoopmapreduce_spark import registry
        from hadoopmapreduce_spark.session import get_spark

        spark = get_spark("materialize-metrics-probe", cpus=4)
        registry.load_all()

        def collect(done):
            while not done.is_set():
                spark._jvm.System.gc()
                time.sleep(0.05)

        for name in {METRICS_QUERIES!r}:
            print("@@query", name, file=sys.stderr, flush=True)
            done = threading.Event()
            gc_thread = threading.Thread(target=collect, args=(done,))
            gc_thread.start()
            df = registry.QUERIES[name](spark, {sf_dir!r})
            df.write.format("noop").mode("overwrite").save()
            done.set()
            gc_thread.join()
            del df
            time.sleep(1)
        spark.stop()
    """))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    errors = {}
    for section in r.stderr.split("@@query ")[1:]:
        name, _, log = section.partition("\n")
        errors[name] = log.count("non-existent accumulator")
    assert sorted(errors) == sorted(METRICS_QUERIES), r.stderr[-3000:]
    assert all(n == 0 for n in errors.values()), errors


def test_work_dir_is_per_process_and_removed_at_exit(monkeypatch, tmp_path):
    """Two processes that run the same operator on the same fixture get
    different directories, and a process's directories are gone once it
    exits; this process's directory survives the child's exit."""
    from hadoopmapreduce_spark.catalog import work_dir

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    mine = work_dir("pid_probe", SF_SMALL)
    child = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(f"""
            import os, sys
            sys.path.insert(0, {REPO_ROOT!r})
            from hadoopmapreduce_spark.catalog import work_dir
            path = work_dir("pid_probe", {SF_SMALL!r})
            open(os.path.join(path, "part-0"), "w").close()
            print(path)
        """)],
        env=dict(os.environ, SPARK_GRAFT_SCRATCH=str(tmp_path)),
        capture_output=True, text=True, timeout=120, check=True,
    )
    theirs = child.stdout.strip()
    assert theirs.startswith(str(tmp_path)) and theirs != mine
    assert not os.path.exists(theirs)
    assert os.path.isdir(mine)


def test_materialize_is_the_one_materialization():
    """An intermediate is materialized only through ``catalog.materialize``;
    the CLI's ``persist`` (which keeps lineage on purpose) is the one
    exception."""
    import inspect
    import re

    import hadoopmapreduce_spark
    from hadoopmapreduce_spark import __main__ as cli
    from hadoopmapreduce_spark import catalog

    pattern = re.compile(r"localCheckpoint|\.cache\(\)|\.persist\(")
    allowed = {
        os.path.abspath(catalog.__file__): inspect.getsource(catalog.materialize),
        os.path.abspath(cli.__file__): inspect.getsource(cli.main),
    }
    root = os.path.dirname(os.path.abspath(hadoopmapreduce_spark.__file__))
    found = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                text = fh.read()
            n = len(pattern.findall(text))
            if n:
                found[os.path.relpath(path, root)] = n
                assert path in allowed, (path, pattern.findall(text))
                assert n == len(pattern.findall(allowed[path])), path
    assert found == {"catalog.py": 1, "__main__.py": 1}, found
