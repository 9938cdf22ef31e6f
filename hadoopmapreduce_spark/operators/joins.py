"""[GEN] Join family.

The reference has exactly one join shape: a reduce-side existence join on
``impressionId`` (``ClickThru.java:130-151``) — MapReduce gives it no
broadcast/sort-merge choice and no other join types.  Here the full
relational family is expressed declaratively; Catalyst + AQE pick the
physical strategy (broadcast-hash for dims under the threshold, sort-merge
for large-large, runtime skew-splitting).

100 TB notes per query are in the docstrings: the recurring themes are
(a) broadcast every dimension that fits, (b) non-equi joins only against
broadcastable sides (a non-equi shuffle join is a cross-join in disguise),
(c) aggregate before join when the join is only needed for labeling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import load_table, materialize, work_dir
from hadoopmapreduce_spark.functions.numeric import dsum, sql_dsum
from hadoopmapreduce_spark.registry import query


@query(
    "join_inner_segment_revenue",
    oracle=f"""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_inner_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders⋈customer, grouped revenue per market segment.

    Scale: customer is the smaller side but both grow with SF — this is the
    canonical sort-merge-join-on-key shape; AQE converts to broadcast when
    the filtered build side fits. Aggregation is partial+final."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


@query(
    "join_left_customer_orders",
    oracle=f"""
    SELECT c.c_custkey AS custkey,
           COUNT(o.o_orderkey) AS n_orders,
           COALESCE({sql_dsum('o.o_totalprice')}, 0.0) AS spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (the reference's E4
    failure mode — an unmatched probe row crashes it — handled gracefully)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("spend"),
        )
    )


@query(
    "join_semi_urgent_customers",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
)
def join_semi_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with ≥1 urgent order, counted per
    nation. Semi joins never duplicate probe rows — cheaper than join+distinct
    at scale. Nation dim is broadcast."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_anti_orderless_customers",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
)
def join_anti_orderless_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders per segment."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_broadcast_dim_chain",
    oracle=f"""
    SELECT r.r_name AS region,
           COUNT(*) AS n_suppliers,
           {sql_dsum('s.s_acctbal')} AS total_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def join_broadcast_dim_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim chain supplier→nation→region with explicit broadcast
    hints: at 100 TB the fact side streams through two map-side hash joins
    with zero shuffle (both dims are KB-sized)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum("s_acctbal").alias("total_acctbal"),
        )
    )


_BANDS = [
    ("p00_low", 0.0, 20_000.0),
    ("p01_mid", 20_000.0, 60_000.0),
    ("p02_high", 60_000.0, 120_000.0),
    ("p03_very_high", 120_000.0, 1e18),
]

_BANDS_SQL = "(VALUES " + ", ".join(
    f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS
) + ") AS b(band, lo, hi)"


@query(
    "join_range_price_bands",
    oracle=f"""
    SELECT b.band AS band,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice')} AS total_price
    FROM lineitem l
    JOIN {_BANDS_SQL}
      ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
    GROUP BY 1
    """,
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: lineitem against an inline band dimension on a
    half-open interval condition.  Physical plan: BroadcastNestedLoopJoin —
    correct at any fact-side scale *because* the band side is a constant
    handful of rows; a non-equi join between two large sides would instead
    need banding/bucketing of the range key."""
    li = load_table(spark, sf_dir, "lineitem")
    # VALUES → LocalRelation (JVM-native literals): unlike a Python-list
    # createDataFrame (ExistingRDD), this stays inside whole-stage codegen
    bands = spark.sql(
        "SELECT band, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi FROM (VALUES "
        + ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)
        + ") AS t(band, lo, hi)"
    )
    cond = (F.col("l_extendedprice") >= F.col("lo")) & (
        F.col("l_extendedprice") < F.col("hi")
    )
    return (
        li.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("total_price"),
        )
    )


@query(
    "join_full_outer_nation_presence",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_customers,
           COALESCE(s.n_supp, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides.  Aggregate-then-join:
    shuffling two 25-row aggregates beats full-outer-joining two fact tables
    and aggregating after — the standard scale inversion."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_customers"),
        F.coalesce("n_supp", F.lit(0)).alias("n_suppliers"),
    )


@query(
    "join_cross_region_flags",
    oracle="""
    SELECT r.r_name AS region, f.l_returnflag AS returnflag
    FROM region r CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem) f
    """,
)
def join_cross_region_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join — only ever legitimate between provably tiny
    inputs (here 5 regions × 3 distinct flags).  The LLM-data operators
    never cross-join at scale; candidate generation is always banded."""
    region = load_table(spark, sf_dir, "region")
    flags = load_table(spark, sf_dir, "lineitem").select("l_returnflag").distinct()
    return region.crossJoin(flags).select(
        F.col("r_name").alias("region"), F.col("l_returnflag").alias("returnflag")
    )


SALT_FACTOR = 8


@query(
    "join_skew_salted",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted equi-join: the build side is replicated SALT_FACTOR
    times (one copy per salt value), the probe side computes a deterministic
    per-row salt, and the join key becomes (key, salt) — a hot key's rows
    spread over SALT_FACTOR reducers instead of one.

    Provably equal to the plain join (each probe row matches exactly the one
    build copy carrying its salt), which is what the oracle checks.  This is
    the manual fallback when a key is too hot even for AQE's skew-join
    splitting (AQE splits oversized PARTITIONS; a single monster key within
    one partition still needs salting).  Cost: build side ×SALT_FACTOR —
    only worth it on genuinely skewed joins."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")

    salts = spark.range(SALT_FACTOR).select(F.col("id").cast("int").alias("_salt"))
    build = o.crossJoin(F.broadcast(salts))  # tiny enumerated replication
    probe = li.select(
        "l_orderkey",
        "l_quantity",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_FACTOR))
        .cast("int")
        .alias("_salt"),
    )
    joined = probe.join(
        build,
        (probe.l_orderkey == build.o_orderkey) & (probe._salt == build._salt),
    )
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@query(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT o.o_orderpriority AS orderpriority,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through BUCKETED storage — the 100 TB lever for
    repeated joins on the same key: pay the shuffle ONCE at write time
    (``bucketBy(orderkey)`` on both tables), then every subsequent
    orders⋈lineitem join reads co-located buckets with NO exchange on
    either side (tests/test_plans.py pins the bucketed join's plan as
    Exchange-free).

    This registered query runs the real end-to-end path, not a test
    double: both fixtures are written as bucketed+sorted external tables
    (8 buckets here; a cluster sizes bucket count to executor count ×
    small multiple), the join runs over ``spark.table(...)``, and the
    grouped aggregation reuses the bucket partitioning (orderkey buckets
    are a superset partitioning of the join key, so only the final
    orderpriority rollup shuffles).  Auto-broadcast is disabled for the
    join so the plan proves the bucket path rather than hiding it behind a
    small-SF broadcast.  Semantics are identical to a plain join — the
    oracle is the ordinary SQL twin.

    The bucketed layout is written ONCE per (session, fixture dir) — that
    is the entire point of bucketing: pay the shuffle+sort at load time,
    amortize it over every later join.  Repeat calls (bench best-of-N, a
    workload's second query) find the tables in the catalog and skip
    straight to the exchange-free join."""
    import hashlib

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    t_orders, t_lineitem = f"hmr_b_orders_{key}", f"hmr_b_lineitem_{key}"
    # guard on BOTH tables: a failure between the two writes must not wedge
    # the session with a half-created pair (recreate both on next call)
    if not (
        spark.catalog.tableExists(t_orders)
        and spark.catalog.tableExists(t_lineitem)
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_lineitem}")
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        # external tables under one scratch dir per fixture, rewritten in
        # place: repo-independent of the session's warehouse dir (the
        # driver's session points at cwd)
        tmp = work_dir("bucketed", sf_dir, fresh=True)
        (
            orders.select("o_orderkey", "o_orderpriority")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{tmp}/b_orders")
            .mode("overwrite")
            .saveAsTable(t_orders)
        )
        (
            lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{tmp}/b_lineitem")
            .mode("overwrite")
            .saveAsTable(t_lineitem)
        )
    bo = spark.table(t_orders)
    bl = spark.table(t_lineitem)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bl, F.col("o_orderkey") == F.col("l_orderkey"))
        out = joined.groupBy(
            F.col("o_orderpriority").alias("orderpriority")
        ).agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
        # materialize under the no-broadcast conf so the executed plan is
        # the bucketed sort-merge join (conf is plan-time, not run-time)
        out = materialize(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


BLOOM_BITS = 4096  # 64 words x 64 bits — sized so the dim key set fills <5%


@query(
    "join_bloom_prefilter",
    oracle=f"""
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l.l_extendedprice', 2)} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 10
    GROUP BY 1
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via an EXPLICIT Bloom filter: revenue by brand
    for size-10 parts, with the fact side pre-pruned by a 4096-bit bloom
    built from the dim keys before the exact join runs.

    This is the runtime-filter pattern engines apply implicitly (Spark's
    InjectRuntimeFilter needs a shuffle-heavy probe side to trigger; DPP
    needs partition columns), made explicit and portable: the bloom is a
    64-row (word → bits) table built with one hash aggregate of
    ``bit_or(shiftleft(1, slot % 64))``, broadcast, and probed with one
    AND — pure codegen, no UDF, no sketch jar.  False positives cost only
    wasted probe rows; the exact broadcast join right after makes the
    result IDENTICAL to the plain join, which is why the oracle is the
    plain join.  At 100 TB the win is shuffle avoidance: a ~KB bloom
    reaches every scan task and drops non-matching fact rows at the scan,
    instead of shipping them to a join.  The bloom hash is Spark-side only
    (never compared across engines), so plain xxhash64 is fine here."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    dim = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 10)
        .select("p_partkey", "p_brand")
    )

    def slotted(df: DataFrame, key: str) -> DataFrame:
        slot = F.pmod(F.xxhash64(F.col(key)), F.lit(BLOOM_BITS))
        return df.select(
            "*",
            (slot / 64).cast("int").alias("word"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(pmod(xxhash64({key}), "
                f"{BLOOM_BITS}) as int) % 64)"
            ).alias("mask"),
        )

    bloom = (
        slotted(dim, "p_partkey")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    pruned = (
        slotted(li, "l_partkey")
        .join(F.broadcast(bloom), "word")
        .filter(F.col("bits").bitwiseAND(F.col("mask")) != 0)
    )
    return (
        pruned.join(F.broadcast(dim), pruned["l_partkey"] == dim["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# multi-probe bloom — k=3 hash functions over a dense broadcast word array
# --------------------------------------------------------------------------

BLOOM_K = 3
BLOOM_WORDS = BLOOM_BITS // 64


@query(
    "join_bloom_multiprobe",
    oracle=f"""
    SELECT s.s_name AS supp_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l.l_extendedprice', 2)} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_acctbal > 9000
    GROUP BY 1
    """,
)
def join_bloom_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k=3 sibling of ``join_bloom_prefilter``: three independent hash
    probes per key against ONE dense 4096-bit bloom carried as a 64-word
    ``array<bigint>`` scalar.  k>1 is what production blooms use — at equal
    bits, 3 probes cut the false-positive rate from the k=1 fill ratio p to
    ~(1-e^(-kn/m))^3 (pinned against theory in
    tests/test_behavioral_semantics.py).

    Mechanics differ from the k=1 variant on purpose, covering the second
    of the two portable bloom layouts: instead of joining probe rows to a
    64-row (word → bits) table, the whole filter collapses to a 1-row array
    via ``array_sort(collect_list(struct(word, bits)))`` (sort makes the
    driver-free array construction deterministic), broadcast with a scalar
    cross-join, and probed by ``element_at`` + mask AND per hash — k
    codegen conjuncts, zero extra joins, so the probe side never shuffles
    at any scale.  Seeds come from ``xxhash64(key, seed_i)`` (Spark-side
    only, never compared cross-engine).  False positives only waste probe
    rows; the exact broadcast join behind the filter makes the result equal
    to the plain join, which is what the oracle runs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    dim = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select("s_suppkey", "s_name")
    )

    def slot(key: str, seed: int) -> F.Column:
        return F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(BLOOM_BITS))

    exploded = dim.select(
        F.explode(
            F.array(*[slot("s_suppkey", i) for i in range(BLOOM_K)])
        ).alias("s")
    ).select(
        (F.col("s") / 64).cast("int").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(s % 64 as int))").alias("mask"),
    )
    words = exploded.groupBy("word").agg(F.bit_or("mask").alias("bits"))
    dense = (
        spark.range(BLOOM_WORDS)
        .withColumnRenamed("id", "word")
        .join(words, "word", "left")
        .select("word", F.coalesce("bits", F.lit(0).cast("bigint")).alias("bits"))
    )
    bloom = dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", "bits"))),
            lambda x: x["bits"],
        ).alias("bw")
    )

    probed = li.crossJoin(F.broadcast(bloom))
    cond = F.lit(True)
    for i in range(BLOOM_K):
        s = f"pmod(xxhash64(l_suppkey, {i}), {BLOOM_BITS})"
        probe = (
            f"(element_at(bw, cast({s} div 64 as int) + 1) & "
            f"shiftleft(cast(1 as bigint), cast({s} % 64 as int))) != 0"
        )
        cond = cond & F.expr(probe)
    pruned = probed.filter(cond).drop("bw")

    return (
        pruned.join(F.broadcast(dim), pruned["l_suppkey"] == dim["s_suppkey"])
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# interval-overlap join — bucketed, with canonical-bucket dedup
# --------------------------------------------------------------------------

IVL_ANCHOR = "1992-01-01"  # week-bucket epoch, aligned to the TPC-H date range
IVL_WEEKS = 372            # covers 1992..1999


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH iv AS (
      SELECT l_shipdate AS s,
             CAST(l_shipdate + to_days(CAST(l_quantity AS INT) % 28) AS DATE) AS e
      FROM lineitem),
    weeks AS (
      SELECT CAST(DATE '{IVL_ANCHOR}' + to_days(7 * CAST(k.k AS INT)) AS DATE) AS ws,
             CAST(DATE '{IVL_ANCHOR}' + to_days(7 * CAST(k.k AS INT) + 6) AS DATE) AS we
      FROM (SELECT unnest(range(0, {IVL_WEEKS})) AS k) k
      WHERE k.k % 4 = 0)
    SELECT w.ws AS week_start, CAST(COUNT(*) AS BIGINT) AS n_overlapping
    FROM iv a JOIN weeks w ON a.s <= w.we AND w.ws <= a.e
    GROUP BY 1
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join done the way it must be done at 100 TB: both
    sides keyed to fixed-width time buckets and EQUI-joined on the bucket,
    with the exact overlap predicate applied after co-location — never the
    naive theta-join (which Spark can only execute as broadcast-nested-loop
    and an oracle CAN run, which is exactly what the DuckDB twin does).

    Shipping intervals [shipdate, shipdate + quantity%28 days] (the fixture
    carries no receiptdate; the synthetic end is deterministic in both
    engines) against every 4th calendar week since {IVL_ANCHOR}.  The fact
    side explodes into the ≤5 week-buckets its interval spans; the week
    side IS its bucket (bucket width == interval width on that side).

    The subtle part is dedup without ``distinct``: a fact interval spanning
    several promo weeks meets each week in multiple shared buckets, so the
    join keeps only the CANONICAL bucket — the bucket containing
    ``greatest(interval_start, week_start)``, i.e. where the overlap
    begins.  Every overlapping pair survives exactly once, by arithmetic
    instead of a dedup shuffle (the fixture's duplicated
    (l_orderkey, l_linenumber) pairs make row-identity dedup unsafe here
    anyway).  One explode + one shuffle-equi-join + one partial-agg count:
    linear, skew-free (buckets are time-uniform), AQE-compatible."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("s"),
        F.date_add(
            "l_shipdate", F.pmod(F.col("l_quantity").cast("int"), F.lit(28))
        ).alias("e"),
    )
    anchor = F.lit(IVL_ANCHOR).cast("date")
    weeks = (
        spark.range(IVL_WEEKS)
        .filter(F.col("id") % 4 == 0)
        .select(
            F.col("id").cast("int").alias("bucket"),
            F.date_add(anchor, (F.col("id") * 7).cast("int")).alias("ws"),
            F.date_add(anchor, (F.col("id") * 7 + 6).cast("int")).alias("we"),
        )
    )
    fact = li.select(
        "s",
        "e",
        F.explode(
            F.sequence(
                (F.datediff(F.col("s"), anchor) / 7).cast("int"),
                (F.datediff(F.col("e"), anchor) / 7).cast("int"),
            )
        ).alias("bucket"),
    )
    overlap = (F.col("s") <= F.col("we")) & (F.col("ws") <= F.col("e"))
    canonical = (
        F.datediff(F.greatest(F.col("s"), F.col("ws")), anchor) / 7
    ).cast("int") == F.col("bucket")
    return (
        fact.join(weeks, "bucket")
        .filter(overlap & canonical)
        .groupBy(F.col("ws").alias("week_start"))
        .agg(F.count(F.lit(1)).alias("n_overlapping"))
    )


# --------------------------------------------------------------------------
# size-gated broadcast with explicit fallback
# --------------------------------------------------------------------------

# Rows a dimension may have and still broadcast safely: ~24 bytes/row for
# (key, segment) keeps 5M rows well under both the 8 GB torrent-broadcast
# hard cap and executor memory at 1000 executors.  Past it, the build side
# must shuffle — a silent broadcast of a grown dimension is the classic
# production OOM.
BROADCAST_FALLBACK_MAX_ROWS = 5_000_000


def segment_revenue_sized(
    spark: SparkSession,
    sf_dir: str,
    max_broadcast_rows: int = BROADCAST_FALLBACK_MAX_ROWS,
) -> DataFrame:
    """Revenue per market segment with the join strategy picked by the
    MEASURED build side, not by hope: count the dimension (a 2-column scan
    returning one scalar — at 100 TB you would read this from table stats
    or a lakehouse manifest instead) and broadcast only under the
    threshold; over it, hint ``merge`` so both sides shuffle-sort and no
    executor ever holds the dimension whole.  Same results either way —
    pinned by tests/test_plans.py driving both branches.

    The same cliff-aware pattern as graph.triangle_count's edge-count
    switch, applied to the star join every pipeline has."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    n_dim = c.count()
    dim = F.broadcast(c) if n_dim <= max_broadcast_rows else c.hint("merge")
    return (
        o.join(dim, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 2).alias("revenue"),
        )
    )


@query(
    "join_broadcast_fallback",
    oracle=f"""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 2)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def join_broadcast_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for :func:`segment_revenue_sized` at the production
    threshold (broadcasts at every test SF; the fallback branch is
    exercised with ``max_broadcast_rows=0`` by the plan tests)."""
    return segment_revenue_sized(spark, sf_dir)


@query(
    "join_null_safe_eq",
    oracle="""
    WITH v AS (
      SELECT nullif(CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) % 10, 0)
               AS ref,
             CAST(COUNT(*) AS BIGINT) AS n_views
      FROM events WHERE event_type = 'view' GROUP BY 1),
    p AS (
      SELECT nullif(CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) % 10, 0)
               AS ref,
             CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
    SELECT v.ref AS referrer_band, v.n_views, p.n_purchases
    FROM v JOIN p ON v.ref IS NOT DISTINCT FROM p.ref
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): views and
    purchases bucketed by a DERIVED NULLABLE key (props-k mod 10, with
    band 0 mapped to NULL via nullif — the "unattributed" bucket every
    real referrer/campaign join has).  A plain equi-join silently DROPS
    the NULL group on both sides; the null-safe operator matches
    NULL-to-NULL, so unattributed traffic survives the join — the
    difference is pinned by a unit test asserting the NULL row exists.

    Spark plans ``<=>`` as a normal hash join on a null-safe key (no
    cross-product penalty); both sides here are post-aggregate band
    tables, so at 100 TB this is two wordcount shuffles + a 10-row
    join."""
    ev = load_table(spark, sf_dir, "events")
    band = F.nullif(
        F.regexp_extract(F.col("props"), r"(\d+)", 1).cast("long") % 10,
        F.lit(0),
    ).alias("ref")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy(band)
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(band)
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return v.join(p, v["ref"].eqNullSafe(p["ref"])).select(
        v["ref"].alias("referrer_band"), "n_views", "n_purchases"
    )


@query(
    "dq_duplicate_payments",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             o_orderdate
      FROM orders)
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
           a.cents AS cents,
           CAST(abs(datediff('day', a.o_orderdate, b.o_orderdate)) AS BIGINT)
             AS days_apart
    FROM o a
    JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.cents = b.cents
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 7
    """,
)
def dq_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detector: pairs of orders by the SAME customer for
    the IDENTICAL amount within 7 days — the classic AP-fraud/double-
    charge audit.  The join key is the (customer, exact cents) pair, so
    the self-join fans out only within same-amount groups per customer
    (near-singleton buckets in practice); the date band is a residual
    filter, never a join condition — no banded explosion, no cartesian.
    Amounts compare in integer cents: float equality would silently miss
    or invent pairs.  At 100 TB this is one self-equi-join keyed on
    (custkey, cents) — the same bounded-bucket shape as exact_dedup."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        "o_orderdate",
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.cents") == F.col("b.cents"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .where(
            F.abs(
                F.datediff(F.col("a.o_orderdate"), F.col("b.o_orderdate"))
            )
            <= 7
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            F.col("a.cents").alias("cents"),
            F.abs(
                F.datediff(F.col("a.o_orderdate"), F.col("b.o_orderdate"))
            )
            .cast("long")
            .alias("days_apart"),
        )
    )



def _inventory_interval_match(
    spark: SparkSession, sf_dir: str, lifo: bool
) -> DataFrame:
    """Shared lot-matching engine for FIFO and periodic LIFO: both lay
    receipts and issues on cumulative-quantity axes and overlap-join; the
    ONLY degree of freedom is the receipt axis direction (ascending ship
    order for FIFO, descending for LIFO).  Keeping one implementation
    means the interval predicates, the odd/even flow classification, and
    the quantity casts cannot diverge between the two accounting methods."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    flows = li.select(
        F.col("l_partkey").alias("part"),
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_shipdate").alias("ship"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_linenumber") % 2 == 1).alias("is_receipt"),
    )
    if lifo:
        r_order = [F.desc("ship"), F.desc("orderkey"), F.desc("linenumber")]
    else:
        r_order = [F.col("ship"), F.col("orderkey"), F.col("linenumber")]
    w_receipt = (
        W.partitionBy("part")
        .orderBy(*r_order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_issue = (
        W.partitionBy("part")
        .orderBy("ship", "orderkey", "linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    r = (
        flows.where("is_receipt")
        .withColumn("hi", F.sum("qty").over(w_receipt))
        .select(
            F.col("part").alias("r_part"), F.col("ship").alias("r_ship"),
            F.col("qty").alias("r_qty"), F.col("hi").alias("r_hi"),
        )
    )
    i = (
        flows.where(~F.col("is_receipt"))
        .withColumn("hi", F.sum("qty").over(w_issue))
        .select(
            F.col("part").alias("i_part"), F.col("ship").alias("i_ship"),
            F.col("qty").alias("i_qty"), F.col("hi").alias("i_hi"),
        )
    )
    m_qty = F.least(F.col("r_hi"), F.col("i_hi")) - F.greatest(
        F.col("r_hi") - F.col("r_qty"), F.col("i_hi") - F.col("i_qty")
    )
    matched = (
        r.join(
            i,
            (F.col("r_part") == F.col("i_part"))
            & (F.col("r_hi") - F.col("r_qty") < F.col("i_hi"))
            & (F.col("i_hi") - F.col("i_qty") < F.col("r_hi")),
        )
        .select(
            F.col("r_part").alias("part"),
            m_qty.alias("m_qty"),
            F.datediff(F.col("i_ship"), F.col("r_ship")).cast("bigint").alias(
                "age_days"
            ),
        )
    )
    return matched.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.sum("m_qty").alias("qty_matched"),
        F.sum(F.col("m_qty") * F.col("age_days")).alias("qty_age_days"),
    )


@query(
    "fin_fifo_inventory_match",
    oracle="""
    WITH flows AS (
      SELECT l_partkey AS part, l_orderkey AS orderkey,
             l_linenumber AS linenumber, l_shipdate AS ship,
             CAST(l_quantity AS BIGINT) AS qty,
             l_linenumber % 2 = 1 AS is_receipt
      FROM lineitem),
    r AS (
      SELECT part, ship, qty,
             CAST(SUM(qty) OVER (
               PARTITION BY part
               ORDER BY ship, orderkey, linenumber
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
      FROM flows WHERE is_receipt),
    i AS (
      SELECT part, ship, qty,
             CAST(SUM(qty) OVER (
               PARTITION BY part
               ORDER BY ship, orderkey, linenumber
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
      FROM flows WHERE NOT is_receipt),
    matched AS (
      SELECT r.part,
             LEAST(r.hi, i.hi) - GREATEST(r.hi - r.qty, i.hi - i.qty) AS m_qty,
             date_diff('day', r.ship, i.ship) AS age_days
      FROM r JOIN i
        ON r.part = i.part
       AND r.hi - r.qty < i.hi
       AND i.hi - i.qty < r.hi)
    SELECT part,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(SUM(m_qty) AS BIGINT) AS qty_matched,
           CAST(SUM(m_qty * age_days) AS BIGINT) AS qty_age_days
    FROM matched GROUP BY part
    """,
)
def fin_fifo_inventory_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching via CUMULATIVE-INTERVAL ALIGNMENT — the
    inventory-accounting / lot-aging pattern (also cost-basis matching in
    finance), done as a relational join instead of a sequential scan.

    Receipts (odd line numbers) and issues (even) per part are each laid on
    a cumulative-quantity axis: a row with running total ``hi`` and
    quantity ``qty`` owns the half-open interval ``[hi-qty, hi)``.  FIFO's
    "oldest stock serves the next issue" is then PURE GEOMETRY: receipt r
    supplies issue i exactly where their intervals overlap, and the matched
    quantity is the overlap length — no loop, no per-row state, no
    ordering dependence beyond the window that built the axis.  The
    sequential textbook algorithm becomes one equi-join on part plus two
    range predicates.

    Scale shape: the window needs one shuffle on part; the join re-uses the
    same partitioning (co-located, no extra exchange).  Each receipt
    overlaps O(1 + qty/avg_qty) issues — matching is LINEAR in rows, never
    all-pairs, because the intervals on each side are disjoint by
    construction.  Skew = per-part flow volume; a hot part can be banded
    on ``hi div B`` exactly like join_interval_overlap's week buckets.
    Output is the per-part aging report: matched quantity and
    quantity-weighted age (issue ship date minus receipt ship date, in
    days — exact integers end-to-end)."""
    return _inventory_interval_match(spark, sf_dir, lifo=False)


@query(
    "fin_lifo_periodic_match",
    oracle="""
    WITH flows AS (
      SELECT l_partkey AS part, l_orderkey AS orderkey,
             l_linenumber AS linenumber, l_shipdate AS ship,
             CAST(l_quantity AS BIGINT) AS qty,
             l_linenumber % 2 = 1 AS is_receipt
      FROM lineitem),
    r AS (
      SELECT part, ship, qty,
             CAST(SUM(qty) OVER (
               PARTITION BY part
               ORDER BY ship DESC, orderkey DESC, linenumber DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
      FROM flows WHERE is_receipt),
    i AS (
      SELECT part, ship, qty,
             CAST(SUM(qty) OVER (
               PARTITION BY part
               ORDER BY ship, orderkey, linenumber
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
      FROM flows WHERE NOT is_receipt),
    matched AS (
      SELECT r.part,
             LEAST(r.hi, i.hi) - GREATEST(r.hi - r.qty, i.hi - i.qty) AS m_qty,
             date_diff('day', r.ship, i.ship) AS age_days
      FROM r JOIN i
        ON r.part = i.part
       AND r.hi - r.qty < i.hi
       AND i.hi - i.qty < r.hi)
    SELECT part,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(SUM(m_qty) AS BIGINT) AS qty_matched,
           CAST(SUM(m_qty * age_days) AS BIGINT) AS qty_age_days
    FROM matched GROUP BY part
    """,
)
def fin_lifo_periodic_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIODIC-LIFO lot matching — :func:`fin_fifo_inventory_match` with the
    receipt axis reversed.  Perpetual LIFO (consume from the newest lot *at
    each issue's moment*) is inherently sequential stack state; periodic
    LIFO — the standard end-of-period accounting variant — assigns the
    period's issues to the MOST RECENT receipts first, which is pure
    geometry again: lay receipts on a cumulative-quantity axis built in
    REVERSE ship order (newest lot owns [0, qty)), keep issues on their
    forward axis, and overlap-join exactly as FIFO does.

    Two invariants tie the siblings together (pinned in
    tests/test_round5_session6.py): per-part ``qty_matched`` is IDENTICAL
    to FIFO's (conservation — both match min(Σreceipts, Σissues) units; the
    axis order only redistributes WHICH lot serves which issue), while
    ``qty_age_days`` drops (LIFO consumes young stock, so signed
    issue-minus-receipt age shrinks and can go negative when the matched
    lot ships after the issue — the recognized periodic-LIFO artifact).

    Scale shape identical to FIFO: one part-keyed window per side, the
    overlap join reuses the same partitioning, matching linear because each
    side's intervals are disjoint by construction."""
    return _inventory_interval_match(spark, sf_dir, lifo=True)
