"""[GEN] MERGE INTO / SCD2 — lakehouse upsert semantics on plain parquet.

The reference has no mutation surface at all (append-only text sinks,
``ClickThru.java:57,76``); MERGE is mandated by the lakehouse category of
the build plan.  The Delta/Iceberg jars are not in this build, so the
registered queries drive the parquet emulation in
:func:`merge_upsert_parquet` — semantics identical to
``MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``, minus the
transaction log (snapshot-swap instead).

Both queries derive their update set deterministically from the fixtures
(key-modulus selections), so they are fully SQL-expressible and
oracle-checked — unlike round 1 where MERGE lived only in tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import load_table, work_dir
from hadoopmapreduce_spark.registry import query

NEW_KEY_OFFSET = 1_000_000  # inserted keys live above any fixture custkey


def merge_upsert_parquet(
    spark: SparkSession, target_path: str, updates: DataFrame, key: str
) -> DataFrame:
    """MERGE INTO emulation on plain parquet: matched target rows are
    replaced by their update, unmatched updates are inserted, untouched rows
    carry over — ``target ANTI JOIN updates ON key, UNION ALL updates``.

    The merged snapshot is written to the sibling path ``<target>_v2`` and
    read back (rewriting the path being scanned is not transactional on
    plain parquet — the atomic pointer swap is exactly what Delta/Iceberg
    add).  At scale the anti-join shuffles on the merge key like any
    equi-join; with a bucketed target it is shuffle-free on the target
    side."""
    target = spark.read.parquet(target_path)
    merged = target.join(updates, key, "left_anti").unionByName(updates)
    new_path = target_path.rstrip("/") + "_v2"
    merged.write.mode("overwrite").parquet(new_path)
    return spark.read.parquet(new_path)


def _customer_slim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").alias("acctbal"),
    )


@query(
    "merge_upsert",
    oracle=f"""
    WITH target AS (
      SELECT c_custkey AS custkey, c_mktsegment AS mktsegment, c_acctbal AS acctbal
      FROM customer),
    updates AS (
      SELECT custkey, 'UPDATED' AS mktsegment, acctbal + 1000 AS acctbal
      FROM target WHERE custkey % 10 = 0
      UNION ALL
      SELECT custkey + {NEW_KEY_OFFSET} AS custkey, 'INSERTED' AS mktsegment,
             0.0 AS acctbal
      FROM target WHERE custkey % 97 = 0)
    SELECT custkey, mktsegment, acctbal FROM target
    WHERE custkey NOT IN (SELECT custkey FROM updates)
    UNION ALL
    SELECT custkey, mktsegment, acctbal FROM updates
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the customer table: every 10th key is updated in place
    (segment overwritten, balance bumped), every 97th key spawns an insert
    under a fresh key.  Runs the REAL parquet path — target snapshot written
    to disk, merged via anti-join + union, new snapshot version written and
    read back — not just an in-memory DataFrame expression."""
    target = _customer_slim(spark, sf_dir)
    updates = target.filter(F.col("custkey") % 10 == 0).select(
        "custkey",
        F.lit("UPDATED").alias("mktsegment"),
        (F.col("acctbal") + 1000).alias("acctbal"),
    ).unionByName(
        target.filter(F.col("custkey") % 97 == 0).select(
            (F.col("custkey") + NEW_KEY_OFFSET).alias("custkey"),
            F.lit("INSERTED").alias("mktsegment"),
            F.lit(0.0).alias("acctbal"),
        )
    )
    target_path = os.path.join(work_dir("merge", sf_dir, fresh=True), "target")
    target.write.mode("overwrite").parquet(target_path)
    return merge_upsert_parquet(spark, target_path, updates, "custkey")


SCD2_INITIAL_DATE = "2024-01-01"
SCD2_AS_OF = "2024-06-01"


@query(
    "scd2_customer_history",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey AS custkey, c_name AS name,
             '{SCD2_INITIAL_DATE}' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      FROM customer),
    changes AS (
      SELECT custkey, name || '_v2' AS name FROM dim WHERE custkey % 7 = 0)
    SELECT custkey, name, valid_from, valid_to FROM dim
    WHERE custkey NOT IN (SELECT custkey FROM changes)
    UNION ALL
    SELECT custkey, name, valid_from, '{SCD2_AS_OF}' AS valid_to FROM dim
    WHERE custkey IN (SELECT custkey FROM changes)
    UNION ALL
    SELECT custkey, name, '{SCD2_AS_OF}' AS valid_from,
           CAST(NULL AS VARCHAR) AS valid_to
    FROM changes
    """,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: changed rows are closed out
    (valid_to stamped) and a new open version appended; untouched rows carry
    over.  Three branches — anti-join (untouched), semi-join (closed),
    projected changes (new versions) — all equi-joins on the dimension key;
    at scale the dimension is broadcast-sized by definition."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.lit(SCD2_INITIAL_DATE).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    changes = dim.filter(F.col("custkey") % 7 == 0).select(
        "custkey", F.concat(F.col("name"), F.lit("_v2")).alias("name")
    )
    change_keys = changes.select("custkey")
    untouched = dim.join(change_keys, "custkey", "left_anti")
    closed = dim.join(change_keys, "custkey", "left_semi").withColumn(
        "valid_to", F.lit(SCD2_AS_OF)
    )
    new_versions = changes.select(
        "custkey",
        "name",
        F.lit(SCD2_AS_OF).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    return untouched.unionByName(closed).unionByName(new_versions)


@query(
    "table_diff_reconcile",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS k,
             md5(o_orderstatus || '|' ||
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)) AS h
      FROM orders),
    v2 AS (
      SELECT o_orderkey AS k,
             md5(o_orderstatus || '|' ||
                 CAST(CAST(CASE WHEN o_orderkey % 100 = 0
                                THEN o_totalprice + 10.0
                                ELSE o_totalprice END
                           AS DECIMAL(18,2)) AS VARCHAR)) AS h
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000 AS k, md5('NEW|row') AS h
      FROM orders WHERE o_orderkey % 500 = 0),
    diff AS (
      SELECT CASE WHEN v1.k IS NULL THEN 'added'
                  WHEN v2.k IS NULL THEN 'removed'
                  WHEN v1.h <> v2.h THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM diff GROUP BY 1
    """,
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (anti-entropy table diff): classify every key
    across two table versions as added / removed / changed / unchanged by
    comparing per-row content hashes — the audit a lakehouse runs to verify
    a replica or validate a migration, and the third member of the mutation
    family next to MERGE (``merge_upsert``) and SCD2.

    The second version is derived deterministically from the first inside
    the query (drop keys %97, bump price on keys %100, add keys %500 under
    a shifted keyspace) so both engines diff identical snapshots.  Shape:
    hash per row (content never shuffles — the md5 does), one full outer
    join on the key, then a 4-group count.  At 100 TB both sides bucket or
    z-order on the key and the join is co-located; the hash comparison
    makes row width irrelevant to shuffle volume."""
    o = load_table(spark, sf_dir, "orders")
    # hash through decimal(18,2), not raw double->string: the two engines
    # agree on decimal formatting unconditionally, double formatting only
    # for shortest-round-trip-identical cases
    row_hash = lambda price: F.md5(  # noqa: E731
        F.concat(
            F.col("o_orderstatus"),
            F.lit("|"),
            price.cast("decimal(18,2)").cast("string"),
        ).cast("binary")
    )
    v1 = o.select(
        F.col("o_orderkey").alias("k"), row_hash(F.col("o_totalprice")).alias("h")
    )
    bumped = F.when(
        F.col("o_orderkey") % 100 == 0, F.col("o_totalprice") + 10.0
    ).otherwise(F.col("o_totalprice"))
    v2 = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(F.col("o_orderkey").alias("k"), row_hash(bumped).alias("h"))
        .unionByName(
            o.filter(F.col("o_orderkey") % 500 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("k"),
                F.md5(F.lit("NEW|row").cast("binary")).alias("h"),
            )
        )
    )
    a, b = v1.alias("a"), v2.alias("b")
    change = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
        .select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


SCD2_LOOKUP_DATE = "2024-03-15"  # between INITIAL and AS_OF: pre-change view


@query(
    "scd2_asof_lookup",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey AS custkey, c_name AS name,
             '{SCD2_INITIAL_DATE}' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      FROM customer),
    changes AS (
      SELECT custkey, name || '_v2' AS name FROM dim WHERE custkey % 7 = 0),
    hist AS (
      SELECT custkey, name, valid_from, valid_to FROM dim
      WHERE custkey NOT IN (SELECT custkey FROM changes)
      UNION ALL
      SELECT custkey, name, valid_from, '{SCD2_AS_OF}' AS valid_to FROM dim
      WHERE custkey IN (SELECT custkey FROM changes)
      UNION ALL
      SELECT custkey, name, '{SCD2_AS_OF}' AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to
      FROM changes)
    SELECT custkey, name, valid_from
    FROM hist
    WHERE valid_from <= '{SCD2_LOOKUP_DATE}'
      AND (valid_to IS NULL OR valid_to > '{SCD2_LOOKUP_DATE}')
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup over the SCD2 history: the version of
    every customer valid AT {SCD2_LOOKUP_DATE} (valid_from <= t < valid_to,
    open rows unbounded) — the query side of SCD2 that
    :func:`scd2_customer_history` builds, completing the build→query pair.
    One narrow filter over the history; at scale it composes with a fact
    join on (key, as-of date) exactly like any dimension lookup, and the
    interval predicate prunes history partitions when valid_from is the
    partition column.  Exactly one version per key must qualify — the
    invariant the half-open interval semantics guarantee."""
    hist = scd2_customer_history(spark, sf_dir)
    t = F.lit(SCD2_LOOKUP_DATE)
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("custkey", "name", "valid_from")


# --- temporal fact-to-SCD2 join ----------------------------------------------

TEMPORAL_EPOCH = "1990-01-01"  # v1 opens before every order
TEMPORAL_BASE = "1995-01-01"  # change dates spread across the order range
TEMPORAL_SPREAD_DAYS = 2400


@query(
    "join_temporal_scd2_fact",
    oracle=f"""
    WITH hist AS (
      SELECT c_custkey AS custkey, c_mktsegment AS segment, 'v1' AS version,
             DATE '{TEMPORAL_EPOCH}' AS valid_from,
             DATE '{TEMPORAL_BASE}'
               + CAST(c_custkey % {TEMPORAL_SPREAD_DAYS} AS INTEGER)
               AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'UPGRADED', 'v2',
             DATE '{TEMPORAL_BASE}'
               + CAST(c_custkey % {TEMPORAL_SPREAD_DAYS} AS INTEGER),
             NULL
      FROM customer),
    joined AS (
      SELECT h.version, h.segment,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o
      JOIN hist h
        ON h.custkey = o.o_custkey
       AND CAST(o.o_orderdate AS DATE) >= h.valid_from
       AND (h.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < h.valid_to))
    SELECT version, segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM joined GROUP BY 1, 2
    """,
)
def join_temporal_scd2_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal fact join — every order looks up the dimension version
    that was valid AT ITS OWN event time, the per-row generalization of
    :func:`scd2_asof_lookup` (which answers one point in time for the
    whole query).  This is the canonical star-schema-with-history query:
    facts never store dimension attributes; they time-travel into the
    SCD2 table at read time.

    The history is synthesized deterministically with change dates spread
    ACROSS the fact's date range (v1 from {TEMPORAL_EPOCH}; each customer
    upgrades at {TEMPORAL_BASE} + custkey mod {TEMPORAL_SPREAD_DAYS}
    days), so both join branches carry real traffic.  Revenue aggregates
    as integer cents (the scan_schema_evolution_union lesson — no
    double→decimal cast parity exposed).

    Distributed shape: an EQUI join on the dimension key with the
    validity window as a residual range predicate — Catalyst plans the
    hash/sort-merge join on custkey and applies the interval filter on
    matched pairs, so there is never a nested-loop or a time-banded
    explode; the dimension history is broadcast-sized by definition.
    Output is the (version, segment) rollup — bounded, partial-agg
    friendly.
    """
    c = load_table(spark, sf_dir, "customer")
    change_dt = F.date_add(
        F.lit(TEMPORAL_BASE).cast("date"),
        (F.col("c_custkey") % TEMPORAL_SPREAD_DAYS).cast("int"),
    )
    v1 = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("v1").alias("version"),
        F.lit(TEMPORAL_EPOCH).cast("date").alias("valid_from"),
        change_dt.alias("valid_to"),
    )
    v2 = c.select(
        F.col("c_custkey").alias("custkey"),
        F.lit("UPGRADED").alias("segment"),
        F.lit("v2").alias("version"),
        change_dt.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    hist = v1.unionByName(v2)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    joined = o.join(
        F.broadcast(hist),
        (F.col("custkey") == F.col("o_custkey"))
        & (F.col("odate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("odate") < F.col("valid_to"))),
    )
    return joined.groupBy("version", "segment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
