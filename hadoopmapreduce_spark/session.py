"""SparkSession factory with scale-aware defaults.

Local-mode testing config that still encodes the knobs that matter on a real
1000-executor cluster: AQE for runtime re-planning (broadcast conversion, skew
join splitting, partition coalescing), UTC session timezone (required for
oracle parity — DuckDB timestamps are UTC-naive), and Arrow for every
Python-boundary crossing.

One setting is about reuse across queries in one process:
``spark.sql.codegen.cache.maxEntries`` sizes Spark's cache of compiled
generated classes (whole-stage code, projections, orderings).  Its default,
100, is split over four LRU segments, so a working set of about that size
evicts, pass after pass, what the next pass needs: each warm pass of a short
query mix re-runs Janino and leaves the JIT cold on the fresh classes.  One
pass of the benchmark's six-query mix (``ctr_flagship``, q5,
``sql_shared_revenue``, ``exact_dedup``, ``dedup_semantic_clustered``,
``streaming_windowed_counts``) compiles 115 distinct classes; at the default
cap its warm passes recompile 46-69 of them, at 1000 none.  The generated
code is identical from pass to pass, so capacity is the only fault.  See
``CODEGEN_CACHE_ENTRIES`` for the Tier-1 session's count and the memory
cost.  The setting is static: it applies when the JVM starts, and a reused
session keeps what it started with.

One setting is about memory per task: ``spark.buffer.pageSize``, the
smallest block a hash aggregate, sort or string-keyed broadcast allocates
(and zeroes) per task.  Spark's own choice grows with the heap (a
sixteenth of a task's part of the execution pool, capped at 64 MiB), so at
the 32g default heap every task of a 5,000-row job pays for a 64 MiB page.
The page only has to be large enough that a task's 8192-entry page table
reaches the task's whole share of execution memory; a smaller page would
make a large task fail instead of spilling.  ``page_size_bytes`` derives
that size: 1 MiB at 32g on 4 cores, where the CTR CLI's peak RSS fell from
1.63 to 1.09 GB.  The setting is static, like the codegen cap; a plain
``SparkSession`` keeps Spark's default.

The Python workers' ``PYTHONPATH`` is not set here but per query, in
``catalog._ensure_session_confs``, so sessions built elsewhere get it too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hadoopmapreduce_spark.catalog import _size_bytes, scratch_base

# Capacity of Spark's generated-class cache (static conf, see the module
# docstring): about 10x the 115 classes of one pass of the benchmark's query
# mix.  The Tier-1 test session compiles 6,307 distinct classes (counted
# with an unbounded cache), most of them used by one test only; it compiles
# 15,337 times at the default cap and 10,322 at this one.  Heap after a full
# GC at the session's end: 256 MB at the default cap, 282 MB at this one,
# 430 MB unbounded (metaspace 230, 235, 276 MB), so an entry costs ~30 KB
# of heap and ~8 KB of metaspace.  Unbounded did not shorten the Tier-1
# wall (1320 s, vs 1258 s at this cap and 1426 s at the default).
CODEGEN_CACHE_ENTRIES = 1000

# Spark's reserved heap and default ``spark.memory.fraction``, and the
# length of ``TaskMemoryManager``'s page table.
_RESERVED_HEAP = 300 << 20
_MEMORY_FRACTION = 0.6
_PAGE_TABLE_SIZE = 8192


def page_size_bytes(heap: str, cpus: int) -> int:
    """The Tungsten page size for a ``heap`` (a ``spark.driver.memory``
    string; a bare number is MiB) shared by ``cpus`` task slots: the
    smallest power of two, at least 1 MiB, whose page table covers one
    task's share of execution memory (see the module docstring).  A task
    running alone may be granted more than its share; past the page table
    it fails instead of spilling, which at 1 MiB pages takes 8 GiB."""
    heap = heap.strip()
    heap_bytes = int(heap) << 20 if heap.isdigit() else _size_bytes(heap)
    share = (heap_bytes - _RESERVED_HEAP) * _MEMORY_FRACTION / cpus
    page = 1 << 20
    while page * _PAGE_TABLE_SIZE < share:
        page <<= 1
    return page


def get_spark(
    app_name: str = "hadoopmapreduce-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all cores.  Shuffle
    partitions default to the core count: on local mode there is no network,
    so more partitions than threads only adds scheduling overhead; at cluster
    scale this knob is instead sized so each shuffle partition is
    ~100-200 MB (AQE coalescing trims the long tail either way).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or cpus
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.buffer.pageSize", f"{page_size_bytes(heap, cpus)}b")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        # shuffle/spill scratch on the fastest local storage (tmpfs here,
        # executor-local NVMe at cluster scale); static conf — applies at
        # JVM start, ignored on session reuse
        .config("spark.local.dir", scratch_base())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

