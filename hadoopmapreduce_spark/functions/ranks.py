"""Distributed exact ranking — NTILE without the single-partition window.

``ntile(k) OVER (ORDER BY ...)`` funnels the whole table through ONE
reducer: at fixture scale it is merely slow, at 100 TB it is the scan
that never finishes.  But exact global ranks do not need a global sort
on one machine — range partitioning already gives a TOTAL order across
partitions, so:

1. ``repartitionByRange`` on the order columns (sampled range exchange —
   the same primitive a Z-order rewrite uses; equal keys co-locate and
   partition p's keys all precede partition p+1's),
2. ``row_number`` per partition (parallel local sorts),
3. per-partition row counts — a BOUNDED table (one row per partition)
   collected to the driver and turned into prefix offsets,
4. global rank = prefix offset + local rank, bucket via the exact NTILE
   size formula with the total count as a literal.

The result is bit-identical to the single-partition NTILE (same total
order, same tie-breaks) regardless of where the sampled range boundaries
fall, because ranks are a property of the total order, not of the
partitioning.  Used by ``agg_equidepth_histogram`` and
``layout_zorder_stats`` — previously the repo's two documented
perf-weak global windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import materialize

# the PRE-checkpoint plan of the most recent distributed_ntile call,
# retained for plan introspection only: the checkpointed table's plan is a
# lineage-severed LogicalRDD, so the key-construction Project (e.g. the
# Z-order shiftleft arithmetic) executes inside the checkpoint job and is
# invisible in any downstream .explain().  tests/test_plans.py pins
# positive codegen properties of that hidden stage through this reference
# (ADVICE r8).  Never executed a second time — introspection reads the
# plan string, not the data.
LAST_PRECHECKPOINT: DataFrame | None = None

# working columns appended (and dropped) by distributed_ntile; inputs must
# not already use these names or they would be silently clobbered
_RESERVED = ("_pid", "_lr", "_rank")


def distributed_ntile(
    df: DataFrame, k: int, order_cols: list[str], bucket_name: str = "bucket"
) -> DataFrame:
    """Append an exact ``ntile(k) OVER (ORDER BY *order_cols)`` column
    computed distributively (see module docstring).  ``order_cols`` must
    be a TOTAL order (include a tie-break key) or bucket assignment is
    not deterministic — same contract as the window it replaces.

    Driver-side state: one bounded collect of per-partition counts
    (≤ shuffle-partition rows) — the same bounded-scalar discipline as
    the IVF init and k-center loops."""
    clash = [c for c in _RESERVED if c in df.columns]
    if clash:
        raise ValueError(
            f"distributed_ntile reserves working columns {_RESERVED}; "
            f"input already has {clash} — rename them first"
        )
    sess = df.sparkSession
    n_parts = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = [F.col(c) for c in order_cols]
    pre = (
        df.repartitionByRange(n_parts, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lr",
            F.row_number().over(Window.partitionBy("_pid").orderBy(*cols)),
        )
    )
    global LAST_PRECHECKPOINT
    LAST_PRECHECKPOINT = pre
    # the prefix-count action and the returned plan both read this table,
    # so both must see the same partitioning: a recomputed block would
    # draw a fresh range-boundary sample and silently shift the ranks
    ranged = materialize(pre)
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n = sum(counts.values())
    if n == 0:
        return df.withColumn(bucket_name, F.lit(None).cast("int"))
    offsets: list[F.Column] = []
    acc = 0
    for pid in sorted(counts):
        offsets.extend([F.lit(pid), F.lit(acc)])
        acc += counts[pid]
    rank = F.element_at(F.create_map(*offsets), F.col("_pid")) + F.col("_lr")
    # exact NTILE sizing: the first (n mod k) buckets get (n div k + 1)
    # rows, the rest (n div k); all literals, so the bucket expression is
    # pure codegen integer arithmetic
    big = n % k
    size_big = n // k + 1
    size_small = max(n // k, 1)  # divisor never taken when n < k
    cutoff = big * size_big
    bucket = F.expr(
        f"CASE WHEN _rank <= {cutoff}"
        f" THEN (_rank - 1) div {size_big} + 1"
        f" ELSE {big} + (_rank - {cutoff} - 1) div {size_small} + 1 END"
    )
    return (
        ranged.withColumn("_rank", rank.cast("long"))
        .withColumn(bucket_name, bucket.cast("int"))
        .drop("_pid", "_lr", "_rank")
    )
