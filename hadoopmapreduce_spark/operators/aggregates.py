"""[GEN] Aggregation family.

The reference's only aggregate is a reduce-side count+sum→quotient with no
combiner (``ClickThru.java:174-189`` — every 0/1 flag crosses the network).
Spark's HashAggregateExec gives partial (map-side) + final aggregation for
free on every query below; the float-summing queries route through the
decimal domain (see functions/numeric.py) so results are order-independent
and hash-stable against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import load_table, materialize
from hadoopmapreduce_spark.functions.numeric import (
    davg,
    dsum,
    lsum,
    sql_davg,
    sql_dsum,
)
from hadoopmapreduce_spark.registry import query


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag AS returnflag,
           l_linestatus AS linestatus,
           {sql_dsum('l_quantity', 2)} AS sum_qty,
           {sql_dsum('l_extendedprice', 2)} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
    GROUP BY 1, 2
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregate with 8 aggregates over a
    date filter.  The filter and the 7-column projection push down to the
    parquet scan; the 6-group output makes the shuffle negligible — at
    100 TB this query is I/O-bound, which is the right bottleneck."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # sum_qty keeps the long-scaled fast path: sf100k (100 TB) lineitem is
    # ~6e11 rows, the largest returnflag/linestatus group (N/O) ~half of them
    # → qty ≤ 50 gives a worst-case |group sum| of ~1.5e13; declare 2e13,
    # inside lsum's 2^53/10^2 = 9.0e13 exact window.  The money sums and the
    # scale-6 averages exceed their windows well before that scale (per-group
    # price sums are ~1e10 already at sf0.1), so they use decimal
    # accumulation (dsum/davg) — the decimal sum itself is exact to
    # decimal(28) overflow, though the final double cast can diverge 1 ulp
    # across engines once sums pass 2^53 (oracle comparison only runs at
    # local SFs, where they don't).
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-09-02 00:00:00").cast("timestamp"))
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            lsum("l_quantity", 2, max_group_sum=2e13).alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag AS returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey)  AS n_parts,
           COUNT(DISTINCT l_suppkey)  AS n_supps
    FROM lineitem GROUP BY 1
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact distinct aggregation.  Spark expands multiple
    DISTINCT aggregates via the `expand` operator (one shuffle per distinct
    set after partial dedup) — at extreme cardinality switch to
    approx_count_distinct (see agg_approx_count_distinct)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query("agg_approx_count_distinct")  # HLL sketches are engine-specific: rows-only check
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB substitute for exact
    distinct counts (constant memory per group, single shuffle, mergeable
    sketches).  No oracle: DuckDB's approx_count_distinct uses a different
    sketch; correctness is covered by a unit test bounding relative error
    against the exact count (computed separately there — carrying the exact
    aggregate inside this query would defeat its point at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag AS returnflag,
           l_linestatus AS linestatus,
           COUNT(*) AS n,
           {sql_dsum('l_quantity', 2)} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two grouping columns (all 4 grouping sets in one pass via
    Spark's Expand operator — input is replicated once per set, then a single
    partial+final aggregate; no per-set rescans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", 2).alias("sum_qty"))


@query(
    "agg_rollup",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           o_orderstatus   AS status,
           COUNT(*) AS n,
           {sql_dsum('o_totalprice')} AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (priority → status → grand total)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag AS returnflag,
           l_linestatus AS linestatus,
           COUNT(*) AS n,
           {sql_dsum('l_extendedprice', 2)} AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst plan as the
    DataFrame cube/rollup — Expand + single aggregate)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag AS returnflag,
               l_linestatus AS linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@query(
    "agg_stats_acctbal",
    oracle=f"""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_customers,
           MIN(c.c_acctbal) AS min_bal,
           MAX(c.c_acctbal) AS max_bal,
           {sql_davg('c.c_acctbal')} AS avg_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def agg_stats_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/count/avg summary per nation (min/max/count are IEEE-exact and
    order-independent; avg goes through the decimal domain)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            davg("c_acctbal").alias("avg_bal"),
        )
    )


@query(
    "agg_histogram_totalprice",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def agg_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via integer bucketing — the scale-safe way to
    profile a distribution (single partial+final aggregate, no sort, no
    collect; floor(x/width) is exact for these magnitudes)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "agg_pivot_status",
    oracle="""
    SELECT o_orderpriority AS priority,
           -- DuckDB SUM(int) is HUGEINT; Spark counts are BIGINT — cast so the
           -- driver's value hash compares like types (same fix as agg_moments)
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
    FROM orders GROUP BY 1
    """,
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order counts per priority × status.  With the
    pivot values enumerated up front Spark plans a single partial+final
    aggregate over CASE projections — no extra pass to discover the domain,
    which is the scalable form (discovering pivot values at 100 TB is its
    own distinct-aggregation job)."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


@query(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag AS returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY 1
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: group by (key, salt)
    first (spreads a hot key over 16 reducers), then re-aggregate by key.
    Result provably equals the direct groupBy (the oracle *is* the unsalted
    query) because count and decimal-sum are associative-commutative.

    At 100 TB this is the manual fallback when one grouping key carries an
    outsized share of rows and even map-side partial aggregation leaves a
    hot final-stage partition; AQE's skew handling covers joins, not
    aggregations.  Salt = pmod(xxhash64(whole row basis), 16) — any
    per-row value works since it only spreads, never reroutes."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(16))
    )
    partial = salted.groupBy(
        F.col("l_returnflag").alias("returnflag"), F.col("_salt")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("pq"),
    )
    return partial.groupBy("returnflag").agg(
        F.sum("pn").alias("n"),
        F.sum("pq").cast("double").alias("sum_qty"),
    )


@query("agg_approx_quantiles")  # t-digest/GK sketches are engine-specific
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna via percentile_approx) — the
    100 TB substitute for exact percentiles (single pass, mergeable, bounded
    memory).  Rows-only check: Spark's GK and DuckDB's interpolated
    quantile_cont legitimately differ; tests/test_dedup_semantics.py bounds
    the error against the exact percentile instead."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("o_totalprice", 0.95, 10000).alias("p95_approx"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50_exact"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_unpivot",
    oracle="""
    SELECT o_orderkey AS orderkey, metric, value FROM (
      SELECT o_orderkey, o_totalprice AS price, CAST(o_custkey AS DOUBLE) AS custkey_num
      FROM orders
    ) UNPIVOT (value FOR metric IN (price, custkey_num))
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long / melt): two measure columns stacked into
    (metric, value) rows — the inverse of agg_pivot_status, planned as an
    Expand (no shuffle at all)."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("price"),
        F.col("o_custkey").cast("double").alias("custkey_num"),
    )
    return wide.unpivot(
        ids=["orderkey"], values=["price", "custkey_num"],
        variableColumnName="metric", valueColumnName="value",
    )


@query(
    "agg_moments",
    oracle="""
    WITH s AS (
      -- width-20 casts force DuckDB's int128 multiply path (width<=18
      -- operands would get an int64 product type that overflows at runtime)
      SELECT l_returnflag AS returnflag,
             CAST(COUNT(*) AS DECIMAL(20,0)) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DECIMAL(20,2)) AS sx,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(16,4))) AS DECIMAL(20,4)) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(20,2)) AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(20,4))) AS DECIMAL(24,4)) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(20,4)) AS sxy
      FROM lineitem GROUP BY 1)
    SELECT returnflag, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6) AS var_qty,
           ROUND(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)), 6) AS stddev_qty,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9) AS corr_qty_price
    FROM s
    """,
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (variance / stddev / correlation) with every
    numerator and radicand computed in EXACT decimal arithmetic
    (n·Σx² − (Σx)², n·Σxy − ΣxΣy), converting to double only for the final
    sqrt/divide.

    Two reproducibility hazards are eliminated at once: the built-in
    stddev/corr use order-dependent streaming updates (Welford/co-moment),
    and even a fixed-formula double expression differs across engines by
    ulps when one compiler contracts multiply-subtract into FMA.  Exact
    integer-scaled products sidestep both; declared precisions are sized so
    no product exceeds decimal(38) (audited up to sf 1).  Still one
    partial+final aggregate of five sums — nothing extra at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    # Spark widens SUM(decimal(p,s)) to (p+10,s); downcast each sum to a
    # tight precision so every later product stays within decimal(38) —
    # otherwise Spark silently rounds (allowPrecisionLoss) and exactness dies
    s = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
        F.sum(q.cast("decimal(14,2)")).cast("decimal(16,2)").alias("sx"),
        F.sum((q * q).cast("decimal(16,4)")).cast("decimal(18,4)").alias("sxx"),
        F.sum(p.cast("decimal(14,2)")).cast("decimal(16,2)").alias("sy"),
        F.sum((p * p).cast("decimal(20,4)")).cast("decimal(24,4)").alias("syy"),
        F.sum((q * p).cast("decimal(18,4)")).cast("decimal(20,4)").alias("sxy"),
    )
    n = F.col("n")
    sx, sxx, sy, syy, sxy = (F.col(c) for c in ("sx", "sxx", "sy", "syy", "sxy"))
    var_num = (n * sxx - sx * sx).cast("double")
    var_den = (n * (n - 1)).cast("double")
    var_q = var_num / var_den
    corr_num = (n * sxy - sx * sy).cast("double")
    corr_den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    # final rounding: the decimal numerators exceed 2^53, and decimal→double
    # conversion of such values is single-rounded in Spark (BigDecimal) but
    # double-rounded in DuckDB (int128→double, then ×10^-scale) — up to
    # 1 ulp apart.  Rounding to a coarse grid absorbs that (boundary
    # collision odds ~1e-7).
    return s.select(
        "returnflag",
        n.cast("bigint").alias("n"),
        F.round(var_q, 6).alias("var_qty"),
        F.round(F.sqrt(var_q), 6).alias("stddev_qty"),
        F.round(corr_num / corr_den, 9).alias("corr_qty_price"),
    )


@query(
    "profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS col, COUNT(*) AS n, COUNT(o_orderkey) AS n_nonnull,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(CAST(FLOOR(MIN(o_totalprice)) AS BIGINT) AS VARCHAR),
           CAST(CAST(FLOOR(MAX(o_totalprice)) AS BIGINT) AS VARCHAR)
    FROM orders
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column row/non-null/distinct counts and extrema
    in one pass per column family — the discovery step before designing
    partitioning/bucketing for a new 100 TB table.  Numeric extrema are
    floored to integer strings (float→string rendering is engine-specific)."""
    o = load_table(spark, sf_dir, "orders")

    def prof(col: str, minmax_expr):
        return o.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            minmax_expr(F.min(col)).alias("min_val"),
            minmax_expr(F.max(col)).alias("max_val"),
        )

    ident = lambda c: c.cast("string")  # noqa: E731
    floored = lambda c: F.floor(c).cast("bigint").cast("string")  # noqa: E731
    return (
        prof("o_orderkey", ident)
        .unionByName(prof("o_orderstatus", ident))
        .unionByName(prof("o_totalprice", floored))
    )


@query(
    "agg_string_concat_groups",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def agg_string_concat_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): nations per
    region, sorted then joined — collect_list + array_sort + array_join
    makes the order explicit rather than relying on WITHIN GROUP support.

    Scale note: string aggregation materializes the whole group in one
    value, so it is a bounded-group-only operator by contract (dimension
    rollups, per-key label lists) — on an unbounded group the right tool is
    topk/window, never a giant string."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus AS status, o_orderpriority AS prio, COUNT(*) AS n
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT status, prio, n,
             ROW_NUMBER() OVER (PARTITION BY status ORDER BY n DESC, prio) AS rk
      FROM c)
    SELECT status, prio AS mode_priority, n AS mode_count FROM r WHERE rk = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group, built as count + rank-1 window
    with an explicit value tie-break — the built-in ``mode()`` is
    tie-nondeterministic in BOTH engines, so the deterministic construction
    IS the operator.  Two-level aggregation: the heavy groupBy is on
    (group, value) with map-side partials; the window runs over the tiny
    distinct-value set."""
    o = load_table(spark, sf_dir, "orders")
    c = (
        o.groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("status").orderBy(F.desc("n"), F.asc("prio"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("status", F.col("prio").alias("mode_priority"), F.col("n").alias("mode_count"))
    )


@query(
    "agg_median_exact",
    oracle="""
    WITH r AS (
      SELECT c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer)
    SELECT c_mktsegment AS segment,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS median_acctbal,
           CAST(MAX(n) AS BIGINT) AS n_rows
    FROM r
    WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    GROUP BY 1
    """,
)
def agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped median WITHOUT interpolation machinery: rank each
    group, keep the middle element (odd n) or the middle two (even n), and
    average them.  (sum of 1–2 selected values)/count is bit-stable, unlike
    percentile_cont-style a+(b−a)·f interpolation where engines are free
    to associate the arithmetic differently.

    For odd n the two selectors coincide and match ONE row, for even n two
    — dividing the selected sum by the selected COUNT handles both
    parities.  (Caught by tests/test_behavioral_semantics.py: an earlier
    /2 halved odd-group medians — and the oracle twin shared the bug, so
    parity alone couldn't see it.)  At scale this is
    a single shuffle on the group key; for extreme-cardinality groups the
    rank-window becomes the skew point and the approx_percentile sketch
    (agg_approx_quantiles) is the fallback."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    r = c.select(
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        r.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("median_acctbal"),
            F.max("n").alias("n_rows"),
        )
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'orders.custkey->customer' AS fk_edge,
           CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.orderkey->orders',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem.partkey->part',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem.suppkey->supplier',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'customer.nationkey->nation',
           CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS
      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    UNION ALL
    SELECT 'events.user->customer',
           CAST(COUNT(*) AS BIGINT)
    FROM events e WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: orphan counts across every foreign-key edge of
    the star schema — the pre-flight check any 100 TB ingestion pipeline
    runs before publishing a snapshot.  Each edge is a LEFT ANTI join
    reduced to a count.  Broadcast is applied ONLY to dimension sides
    (nation is fixed-size; part/supplier are key-only projections 70×/7000×
    smaller than the lineitem probe side); the fact-to-fact edges
    (lineitem→orders, orders→customer, events→customer) shuffle on their
    keys — broadcasting orders or customer is a scale-killer at 100 TB.
    At extreme SF where even the part keys exceed the broadcast threshold,
    drop the hint and AQE falls back to a shuffled join.  Counting after
    an anti join never inflates: anti preserves left multiplicity and
    emits no columns from the right — no accidental fan-out."""
    def orphans(left: DataFrame, lkey: str, right: DataFrame, rkey: str,
                label: str, *, bcast: bool) -> DataFrame:
        rhs = right.select(rkey)
        if bcast:
            rhs = F.broadcast(rhs)
        return (
            left.join(rhs, F.col(lkey) == F.col(rkey), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk_edge"), "n_orphans")
        )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    e = load_table(spark, sf_dir, "events")
    checks = [
        orphans(o, "o_custkey", c, "c_custkey", "orders.custkey->customer", bcast=False),
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem.orderkey->orders", bcast=False),
        orphans(li, "l_partkey", p, "p_partkey", "lineitem.partkey->part", bcast=True),
        orphans(li, "l_suppkey", s, "s_suppkey", "lineitem.suppkey->supplier", bcast=True),
        orphans(c, "c_nationkey", n, "n_nationkey", "customer.nationkey->nation", bcast=True),
        orphans(e, "user_id", c, "c_custkey", "events.user->customer", bcast=False),
    ]
    out = checks[0]
    for df in checks[1:]:
        out = out.unionAll(df)
    return out


EQUIDEPTH_BUCKETS = 10


@query(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH b AS (
      SELECT o_totalprice,
             ntile({EQUIDEPTH_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey)
               AS bucket
      FROM orders)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM b GROUP BY 1
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (equal row count per bucket) of order values —
    the complement of agg_histogram_totalprice's equi-width binning, and
    the shape query optimizers build for selectivity stats.

    Exact NTILE semantics WITHOUT the single-partition window (the r6
    verdict's perf-weak entry for this query): bucket assignment runs
    through ``functions.ranks.distributed_ntile`` — range repartition on
    (o_totalprice, o_orderkey), parallel per-partition row_number, global
    ranks from broadcast prefix offsets, bucket via the literal NTILE
    size formula.  Bit-identical to the oracle's ntile (ranks are a
    property of the total order, not the partitioning), but every stage
    is parallel; the approximate path (approx_percentile boundaries +
    broadcast range lookup, agg_approx_quantiles) remains the option when
    even one exact pass is too much.  Ties break on o_orderkey so bucket
    assignment is total and the min/max/decimal-sum per bucket are
    bit-stable."""
    from hadoopmapreduce_spark.functions.ranks import distributed_ntile

    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    return (
        distributed_ntile(
            o, EQUIDEPTH_BUCKETS, ["o_totalprice", "o_orderkey"]
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@query("agg_hll_sketch_union")  # rows-only: DataSketches binary is engine-specific
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via Spark 4's
    ``hll_sketch_agg``/``hll_union_agg``): per-(returnflag, linestatus)
    distinct-order sketches are built in one pass, then UNION-MERGED up to
    per-returnflag estimates WITHOUT rescanning the data — the property
    that makes sketch columns materializable in a daily rollup table and
    re-aggregatable along any dimension later (the 100 TB pattern plain
    approx_count_distinct can't offer, since its partial state dies with
    the query).

    Rows-only check (sketch binaries and estimates are engine-specific);
    the error bound vs the exact distinct count is asserted in
    tests/test_behavioral_semantics.py."""
    li = load_table(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk")
    )
    return (
        per_group.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(F.hll_union_agg("sk").alias("merged"))
        .select(
            "returnflag",
            F.hll_sketch_estimate("merged").alias("approx_orders"),
        )
    )


@query(
    "incremental_agg_merge",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice", 2)} AS total_price,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_price
    FROM orders GROUP BY 1
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation / materialized-view maintenance: fold a
    "new arrivals" delta into a previously materialized partial-aggregate
    state WITHOUT rescanning the base data.

    The partial state per group is algebraic — (count, exact decimal sum) —
    so merging is just summing states; the final avg is derived at read
    time.  At 100 TB this is the difference between an O(day) incremental
    refresh and an O(history) recompute: yesterday's states are a tiny
    table, and only the delta partition is scanned.  The oracle computes
    the same aggregate directly over the full table, proving
    state-merge == recompute.

    The avg divides the exact decimal sum (cast to double) by the exact
    count — both operands deterministic, so the division is too.
    """
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp")

    def partial_state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        )

    # the two predicates must PARTITION the table — a plain </>= pair drops
    # NULL order dates from both partials while the oracle's full-table
    # aggregate still counts them, so NULLs are routed explicitly into the
    # base partition (the general MV-maintenance posture: unknown-date rows
    # belong to the immutable history, never the refresh delta)
    is_base = (F.col("o_orderdate") < cutoff) | F.col("o_orderdate").isNull()
    base = partial_state(orders.filter(is_base))
    delta = partial_state(orders.filter(~is_base))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n_orders"), F.sum("s").alias("s"))
    )
    return merged.select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("s").cast("double").alias("total_price"),
        (F.col("s").cast("double") / F.col("n_orders")).alias("avg_price"),
    )


@query(
    "dq_anomaly_sigma",
    oracle="""
    WITH typed AS (
      SELECT event_type, CAST(value AS DECIMAL(14,6)) AS xd FROM events),
    stats AS (
      -- width-20 casts force DuckDB's int128 multiply path (narrower
      -- operands overflow at runtime — same note as agg_moments)
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(20,0)) AS n,
             CAST(SUM(xd) AS DECIMAL(20,6)) AS sx,
             CAST(SUM(xd * xd) AS DECIMAL(26,12)) AS sxx
      FROM typed GROUP BY 1),
    flagged AS (
      SELECT t.event_type,
             CASE WHEN (CAST(t.xd AS DOUBLE) - CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE))
                       * (CAST(t.xd AS DOUBLE) - CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE))
                    > 9 * (CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
                           / CAST(s.n * (s.n - 1) AS DOUBLE))
                  THEN 1 ELSE 0 END AS is_outlier
      FROM typed t JOIN stats s ON t.event_type = s.event_type)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_outlier) AS BIGINT) AS n_outliers
    FROM flagged GROUP BY 1
    """,
)
def dq_anomaly_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality outlier audit: count events whose value falls outside
    3 sigma of their event type's distribution — the screening pass a
    pipeline runs before trusting a batch.

    Determinism discipline follows agg_moments: n, Σx, Σx² accumulate in
    EXACT decimal (order-independent), and the per-row 3σ test converts to
    double only at the comparison, with the expression written identically
    in both engines so each row's flag computes from identical doubles (a
    flip would need a value exactly AT the threshold — measure-zero).
    Like agg_moments, the declared decimal widths bound the audited range,
    not the design point: the Spark casts hold to ~1e12 rows per group and
    Σx² < 1e12 (overflow THROWS under ANSI rather than corrupting) — past
    that, widen every cast in lockstep with the oracle's, keeping each
    product under decimal(38) so Spark never rounds (allowPrecisionLoss).
    Two passes over events, both keyed on event_type; the 5-row stats side
    broadcasts back onto the scan, so the audit costs one shuffle + one
    broadcast join at any scale."""
    typed = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(14,6)").alias("xd")
    )
    stats = typed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
        F.sum("xd").cast("decimal(18,6)").alias("sx"),
        F.sum(F.col("xd") * F.col("xd")).cast("decimal(24,12)").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    mu = sx.cast("double") / n.cast("double")
    var = (n * sxx - sx * sx).cast("double") / (n * (n - 1)).cast("double")
    dev = F.col("xd").cast("double") - mu
    flag = F.when(dev * dev > F.lit(9) * var, 1).otherwise(0)
    return (
        typed.join(F.broadcast(stats), "event_type")
        .select("event_type", flag.alias("is_outlier"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_outlier").cast("long").alias("n_outliers"),
        )
    )


_CMS_D, _CMS_W = 4, 1024


def _cms_oracle() -> str:
    """DuckDB twin of the Count-Min grid: the (row, slot) hash is the first
    8 md5 nibbles of ``user_id:row`` as a 32-bit integer mod W — identical
    in both engines (round 5 swap from xxhash64, which kept this rows-only).
    """
    slot = (
        "('0x' || substr(md5({uid}::VARCHAR || ':' || {r}::VARCHAR), 1, 8))"
        f"::BIGINT % {_CMS_W}"
    )
    return f"""
    WITH ev AS (SELECT user_id FROM events),
    rows_ AS (SELECT unnest(range(0, {_CMS_D})) AS r),
    probes AS (
      SELECT user_id, r, {slot.format(uid='user_id', r='r')} AS slot
      FROM ev, rows_),
    sketch AS (
      SELECT r, slot, CAST(COUNT(*) AS BIGINT) AS c
      FROM probes GROUP BY 1, 2),
    top AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM ev GROUP BY 1
      ORDER BY exact_n DESC, user_id ASC LIMIT 20),
    probed AS (
      SELECT t.user_id, t.exact_n, rows_.r,
             {slot.format(uid='t.user_id', r='rows_.r')} AS slot
      FROM top t, rows_)
    SELECT p.user_id, p.exact_n, CAST(MIN(s.c) AS BIGINT) AS est_n
    FROM probed p JOIN sketch s ON p.r = s.r AND p.slot = s.slot
    GROUP BY 1, 2
    """


@query("agg_cms_heavy_hitters", oracle=_cms_oracle())
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy hitters: estimate the top-20 users' event
    counts from a fixed 4x1024 counter grid instead of a per-key table.

    Why it matters at 100 TB: the sketch is CONSTANT-SIZED and mergeable
    (counters sum across partitions/days like any partial aggregate), so a
    rollup can keep approximate per-key frequencies for a keyspace too
    large to materialize — same role HLL plays for distinct counts
    (``agg_hll_sketch_union``).  Build = one explode(d rows) + one hash
    aggregate over (row, slot); estimate = broadcast the 4096-row grid
    back and take min over the d probed counters.

    The probe hash is the first 8 md5 nibbles of ``user_id:row`` — an
    engine-portable 32-bit hash (same md5-prefix trick as
    ``sample_split_train_val_test``), so since round 5 the whole sketch is
    oracle-checked exactly; the CMS guarantees — estimate >= exact,
    overestimate <= eps*N at the standard bound — are additionally
    asserted in tests/test_behavioral_semantics.py."""
    D, W = _CMS_D, _CMS_W
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def slot(i: int):
        key = F.concat_ws(
            ":", F.col("user_id").cast("string"), F.lit(str(i))
        ).cast("binary")
        return (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
            % F.lit(W)
        )

    probes = [
        F.struct(F.lit(i).cast("long").alias("row"), slot(i).alias("slot"))
        for i in range(D)
    ]
    sketch = (
        ev.select(F.explode(F.array(*probes)).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.slot").alias("slot"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(20)
    )
    probed = top.select(
        "user_id", "exact_n", F.explode(F.array(*probes)).alias("p")
    ).select(
        "user_id",
        "exact_n",
        F.col("p.row").alias("row"),
        F.col("p.slot").alias("slot"),
    )
    return (
        probed.join(F.broadcast(sketch), ["row", "slot"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("est_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
    )


@query(
    "agg_percentile_disc",
    oracle="""
    SELECT o_orderpriority AS priority,
           percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
           percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
           percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
           percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99
    FROM orders GROUP BY 1
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE percentiles per group (p25/p50/p90/p99 of order value
    by priority) — the SLA-reporting staple.

    percentile_disc returns an actual data value (the smallest value whose
    cumulative distribution reaches the fraction), so unlike interpolating
    percentile_cont there is NO float arithmetic to drift between engines —
    both pick the identical element, making this exactly oracle-checkable
    where ``agg_approx_quantiles`` is rows-only by design.  Cost is one
    grouped sort (same class as any per-group window); the 100 TB
    estimation path remains percentile_approx, with this as its exactness
    referee at audit time."""
    o = load_table(spark, sf_dir, "orders")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_pdisc_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99
        FROM _pdisc_orders GROUP BY 1
        """
    )


@query(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag AS returnflag,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
             AS n_discounted,
           CAST(COUNT(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_bulk,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     FILTER (WHERE l_linestatus = 'O') AS DECIMAL(28,2))
                AS DOUBLE) AS open_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM lineitem GROUP BY 1
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates: several differently-predicated aggregates
    in ONE scan+shuffle — the idiom that replaces N self-joins or N CASE
    pyramids in reporting queries (and at 100 TB, N table scans).

    Spark and DuckDB both implement SQL:2003 FILTER; the conditional sum
    stays in the exact decimal domain like every money sum here."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_fc_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag AS returnflag,
               COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                         FILTER (WHERE l_linestatus = 'O') AS DECIMAL(28,2))
                    AS DOUBLE) AS open_revenue,
               COUNT(*) AS n_total
        FROM _fc_lineitem GROUP BY 1
        """
    )


@query(
    "dq_uniqueness_audit",
    oracle="""
    SELECT 'orders' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'customer', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'part', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT p_partkey) AS BIGINT)
    FROM part
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
    FROM lineitem
    """,
)
def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across the star schema: per table, row
    count vs distinct-key count and the duplicate surplus — the constraint
    check a lakehouse runs because nothing else enforces PKs there.

    Finding, pinned by this very query: the fixture generator REUSES
    (l_orderkey, l_linenumber) pairs at sf>=0.1 (~118k dup rows at sf0.1)
    — the reason NOTES.md warns that "obviously unique" keys must never be
    trusted as window tie-breaks.  Each leg is one exact distinct-agg scan
    (Expand + partial dedup); at extreme cardinality the HLL variant
    (`agg_approx_count_distinct`) replaces the exact legs."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")

    def leg(df: DataFrame, name: str, key_cols: list[str]) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(*[F.col(k) for k in key_cols]).alias("n_keys"),
            (
                F.count(F.lit(1))
                - F.count_distinct(*[F.col(k) for k in key_cols])
            ).alias("n_dup_rows"),
        ).select("table_name", "n_rows", "n_keys", "n_dup_rows")

    return (
        leg(o, "orders", ["o_orderkey"])
        .unionByName(leg(c, "customer", ["c_custkey"]))
        .unionByName(leg(p, "part", ["p_partkey"]))
        .unionByName(leg(li, "lineitem", ["l_orderkey", "l_linenumber"]))
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap OR-aggregation: each user_id sets
    one bit (word = id div 64, mask = 1 << id mod 64); per (group, word)
    the masks bit_or together, then popcounts sum per group.

    This is the roaring-bitmap technique warehouses use when exact distinct
    at scale matters: unlike COUNT(DISTINCT) (Expand + dedup shuffle of
    every raw id) the bitmap states are FIXED-WIDTH and mergeable — partial
    aggregation absorbs duplicates map-side, the shuffle carries at most
    |groups| x |id-range|/64 words, and states merge across days/partitions
    like any algebraic aggregate (HLL's exact sibling; dense-id domains
    only — sparse domains need the compressed/roaring layout).  The oracle
    is plain COUNT(DISTINCT), proving bitmap == exact."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    words = ev.select(
        "event_type",
        (F.col("user_id") / 64).cast("long").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(user_id % 64 as int))").alias(
            "mask"
        ),
    )
    grid = words.groupBy("event_type", "word").agg(
        F.bit_or("mask").alias("bits")
    )
    return grid.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_users")
    )


@query(
    "agg_pareto_nation_n80",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nationkey,
             o.o_custkey AS custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
               AS r
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    tot AS (
      SELECT nationkey, CAST(SUM(r) AS DECIMAL(38,2)) AS total_r,
             CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM rev GROUP BY 1),
    run AS (
      SELECT nationkey, custkey, r,
             CAST(SUM(r) OVER (PARTITION BY nationkey
                               ORDER BY r DESC, custkey
                               ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,2))
               AS cum_r
      FROM rev)
    SELECT run.nationkey,
           CAST(COUNT(*) FILTER (
             WHERE (cum_r - r) * 100 < total_r * 80) AS BIGINT) AS n80_custs,
           tot.n_cust AS n_total_custs
    FROM run JOIN tot ON run.nationkey = tot.nationkey
    GROUP BY 1, 3
    """,
)
def agg_pareto_nation_n80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration (N80): per nation, how many top customers make
    up 80% of order revenue — the who-matters analysis behind every
    account-tier decision.

    A customer is in the N80 set while the revenue BEFORE them is under
    80% of the nation total, evaluated as exact-decimal cross-multiplied
    integers ((cum - r) * 100 < total * 80 — no division, no epsilon).
    The running sum partitions by nation (bounded per-key sort, never a
    global window); revenue, totals, and the cumulative sum all stay in
    the decimal domain end-to-end."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("r")
        )
    )
    tot = rev.groupBy("nationkey").agg(
        F.sum("r").cast("decimal(38,2)").alias("total_r"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    w = (
        W.partitionBy("nationkey")
        .orderBy(F.desc("r"), F.asc("custkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = rev.select(
        "nationkey",
        "custkey",
        "r",
        F.sum("r").over(w).cast("decimal(38,2)").alias("cum_r"),
    )
    in_n80 = (F.col("cum_r") - F.col("r")) * 100 < F.col("total_r") * 80
    return (
        run.join(tot, "nationkey")
        .groupBy("nationkey", F.col("n_cust").alias("n_total_custs"))
        .agg(F.sum(F.when(in_n80, 1).otherwise(0)).cast("long").alias("n80_custs"))
        .select("nationkey", "n80_custs", "n_total_custs")
    )


@query(
    "agg_weighted_avg_exact",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * CAST(l.l_discount AS DECIMAL(8,2)))
                     AS DECIMAL(38,4)) AS DOUBLE)
             / CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS DOUBLE)
             AS weighted_disc,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def agg_weighted_avg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted average discount per brand: Σ(w·x)/Σ(w) with BOTH
    sums accumulated in exact decimal and ONE double division at the end —
    the weighted-mean discipline (a naive avg(w*x)/avg(w) in floats drifts
    with partitioning; this is partition-order-independent by
    construction).  One fact-dim join (dim broadcasts) + one grouped
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    wx = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(8,2)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            (
                F.sum(wx).cast("decimal(38,4)").cast("double")
                / F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("decimal(38,2)")
                .cast("double")
            ).alias("weighted_disc"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "ts_mom_revenue_change",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
               AS rev
      FROM orders GROUP BY 1),
    with_prev AS (
      SELECT m, rev, LAG(rev) OVER (ORDER BY m) AS prev_rev
      FROM monthly)
    SELECT m AS month_idx,
           CAST(rev AS DOUBLE) AS revenue,
           CASE WHEN prev_rev IS NULL THEN NULL
                ELSE CAST(rev - prev_rev AS DOUBLE) / CAST(prev_rev AS DOUBLE)
           END AS mom_change
    FROM with_prev
    """,
)
def ts_mom_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly exact-decimal totals, LAG,
    and one double division of identical decimal-derived operands — the
    trend metric every revenue dashboard opens with.

    The window orders a ~50-row monthly rollup (aggregate FIRST, window
    over the aggregate — never a window over the raw fact table for a
    per-month metric); integer month indexes keep the order total."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(28,2)")
        .alias("rev")
    )
    w = W.orderBy("m")
    with_prev = monthly.select(
        "m", "rev", F.lag("rev").over(w).alias("prev_rev")
    )
    return with_prev.select(
        F.col("m").alias("month_idx"),
        F.col("rev").cast("double").alias("revenue"),
        F.when(F.col("prev_rev").isNull(), F.lit(None).cast("double"))
        .otherwise(
            (F.col("rev") - F.col("prev_rev")).cast("double")
            / F.col("prev_rev").cast("double")
        )
        .alias("mom_change"),
    )


@query(
    "agg_cube_grouping_id",
    oracle="""
    SELECT l_returnflag AS returnflag,
           l_linestatus AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING metadata: gid disambiguates "NULL because this
    row aggregates over the column" from "NULL data value" — the
    correctness detail every cube consumer needs and plain cube output
    cannot express.  Same single Expand + partial/final aggregate plan as
    agg_cube; the grouping bits are free metadata."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
            "gid",
            "n",
        )
    )


@query(
    "agg_weighted_quantile_exact",
    oracle="""
    WITH pv AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS wt
      FROM lineitem GROUP BY 1, 2),
    cw AS (
      SELECT flag, price, wt,
             SUM(wt) OVER (PARTITION BY flag ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(wt) OVER (PARTITION BY flag) AS tot
      FROM pv),
    qs AS (SELECT unnest([1, 2, 3]) AS qn)
    SELECT flag, CAST(qn AS DOUBLE) / 4 AS q, MIN(price) AS wquantile
    FROM cw CROSS JOIN qs
    WHERE cum * 4 >= tot * qn
    GROUP BY flag, qn
    """,
)
def agg_weighted_quantile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted quantiles (q ∈ {.25, .5, .75}) of extendedprice
    weighted by quantity, per return flag — the lower-weighted-quantile
    definition: the smallest x whose cumulative weight reaches q·W.  The
    deterministic exact counterpart to the t-digest sketch
    (``udaf_tdigest_quantiles``): same question, sort-based answer.

    Determinism discipline: weights collapse to one row per (flag, price)
    FIRST (so the cumulative sum is over unique, totally-ordered keys —
    never order-dependent within ties), weights accumulate in
    DECIMAL(28,2), and the threshold test is integer-scaled
    (``cum·4 ≥ tot·qn``) instead of a float multiply.  Scale shape: one
    partial-agg groupBy plus one window over (flag)-partitioned unique
    prices — the window's sort is per-flag, not global, and at 100 TB the
    grouped pre-aggregation has already crushed the row count to distinct
    price points."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("price"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("wt")
        )
    )
    run = W.partitionBy("flag").orderBy("price").rowsBetween(W.unboundedPreceding, 0)
    cw = pv.select(
        "flag",
        "price",
        F.sum("wt").over(run).alias("cum"),
        F.sum("wt").over(W.partitionBy("flag")).alias("tot"),
    )
    qs = spark.range(1, 4).select(F.col("id").cast("int").alias("qn"))
    return (
        cw.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") * 4 >= F.col("tot") * F.col("qn"))
        .groupBy("flag", "qn")
        .agg(F.min("price").alias("wquantile"))
        .select(
            "flag",
            (F.col("qn").cast("double") / 4).alias("q"),
            "wquantile",
        )
    )


def _ranked_customer_revenue(spark: SparkSession, sf_dir: str):
    """(ranked_df(custkey, rev_cents, rank), n_total) — customers ranked by
    lifetime revenue desc (custkey tie-break) WITHOUT a single-partition
    window: repartitionByRange on the rank key, row_number within each
    range partition, plus a driver-side prefix-sum over the 32 partition
    counts (metadata-sized collect).  The sampled range boundaries are
    nondeterministic, but rank = offset + local row_number is invariant to
    them (keys are totally ordered and duplicate-free).  Shared by the
    decile lift table and the Gini coefficient."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("rev_cents")
    )
    parts = cust.repartitionByRange(
        32, F.col("rev_cents").desc(), F.col("custkey")
    ).withColumn("pid", F.spark_partition_id())
    parts = materialize(parts)  # pin pids for the 2 passes
    sizes = {
        r["pid"]: r["n"]
        for r in parts.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(sizes.values())
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_col = F.lit(0)
    for pid, off in offsets.items():
        off_col = F.when(F.col("pid") == pid, F.lit(off)).otherwise(off_col)
    lw = W.partitionBy("pid").orderBy(F.col("rev_cents").desc(), "custkey")
    ranked = parts.select(
        "custkey",
        "rev_cents",
        (off_col + F.row_number().over(lw)).alias("rank"),
    )
    return ranked, n_total


@query(
    "agg_decile_lift_table",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1),
    tiled AS (
      SELECT custkey, rev_cents,
             NTILE(10) OVER (ORDER BY rev_cents DESC, custkey) AS decile
      FROM cust),
    by_decile AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(rev_cents) AS cents
      FROM tiled GROUP BY 1),
    cum AS (
      SELECT decile, n_customers, cents,
             SUM(cents) OVER (ORDER BY decile) AS cum_cents,
             SUM(cents) OVER () AS total_cents
      FROM by_decile)
    SELECT CAST(decile AS INT) AS decile,
           n_customers,
           CAST(cents AS DOUBLE) / 100 AS decile_revenue,
           CAST((cum_cents::HUGEINT * 1000000) // total_cents AS BIGINT)
             AS cum_share_ppm
    FROM cum ORDER BY decile
    """,
)
def agg_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue decile lift table (the marketing 'gains chart'):
    rank customers by lifetime revenue, split into 10 equal tiles, report
    per-decile customer count, revenue, and cumulative revenue share.

    Scale shape — global ranking WITHOUT a single-partition window: a bare
    ``NTILE(10) OVER (ORDER BY ...)`` funnels every row through one task.
    Instead the per-customer aggregate is ``repartitionByRange`` on the
    rank key, ranks are ``row_number`` WITHIN each range partition plus a
    driver-side prefix-sum of the 32 per-partition counts (metadata-sized
    collect), and the tile is computed arithmetically from the global rank
    with NTILE's exact first-`n mod k`-tiles-get-one-extra semantics.  The
    range boundaries Spark samples are nondeterministic, but rank =
    offset + local row_number is invariant to them (keys are totally
    ordered and duplicate-free), so the output is deterministic.

    Exactness: revenue in integer cents; cumulative share in ppm via
    integer floor-division (cum*1e6 runs in decimal(38) / HUGEINT — no
    int64 headroom cliff at large SF)."""
    ranked, n_total = _ranked_customer_revenue(spark, sf_dir)
    # NTILE(k) of global rank r over n rows: first n%k tiles hold n/k+1
    q, m = n_total // 10, n_total % 10
    cutover = m * (q + 1)
    decile = F.when(
        F.col("rank") <= cutover, F.expr(f"(rank - 1) div {q + 1}")
    ).otherwise(
        F.lit(m) + F.expr(f"(rank - {cutover} - 1) div {max(q, 1)}")
    ).cast("int") + 1
    tiled = ranked.select("rev_cents", decile.alias("decile"))
    byd = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev_cents").alias("cents"),
    )
    cw = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = byd.select(
        "decile",
        "n_customers",
        "cents",
        F.sum("cents").over(cw).alias("cum_cents"),
        F.sum("cents").over(W.orderBy(F.lit(1)).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing
        )).alias("total_cents"),
    )
    return cum.select(
        "decile",
        "n_customers",
        (F.col("cents").cast("double") / 100).alias("decile_revenue"),
        F.expr(
            "CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000"
            " div total_cents AS BIGINT)"
        ).alias("cum_share_ppm"),
    ).orderBy("decile")


# Benford expected first-digit frequencies, log10(1 + 1/d) in ppm —
# precomputed constants so no libm log crosses the engine boundary.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@query(
    "dq_benford_first_digit",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
      FROM cents),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM digits
      GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS t FROM obs),
    bf(digit, benford_ppm) AS (VALUES
      {", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM.items())})
    SELECT o.digit, o.n_orders,
           CAST(o.n_orders * 1000000 // t.t AS BIGINT) AS obs_ppm,
           CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
           CAST(abs(o.n_orders * 1000000 // t.t - b.benford_ppm) AS BIGINT)
             AS deviation_ppm
    FROM obs o JOIN bf b ON b.digit = o.digit CROSS JOIN tot t
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data screen (synthetic or truncated value columns deviate
    hard from log10(1+1/d)).  First significant digit comes from the
    integer CENTS string (int→string is engine-identical; float→string
    never crosses the oracle boundary, and the first significant digit is
    scale-invariant so cents ≡ dollars), expected frequencies are
    precomputed ppm constants (no libm log in either engine), and
    observed shares are integer floor-division ppm.  One narrow pass +
    one 9-group aggregate; the 1-row total broadcasts."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    digits = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = obs.agg(F.sum("n_orders").alias("t"))
    bf = None
    for d, p in _BENFORD_PPM.items():
        row = spark.range(1).select(
            F.lit(d).alias("digit"), F.lit(p).cast("long").alias("benford_ppm")
        )
        bf = row if bf is None else bf.unionByName(row)
    joined = obs.join(F.broadcast(bf), "digit").crossJoin(F.broadcast(tot))
    obs_ppm = F.expr("n_orders * 1000000 div t")
    return joined.select(
        "digit",
        "n_orders",
        obs_ppm.alias("obs_ppm"),
        "benford_ppm",
        F.abs(obs_ppm - F.col("benford_ppm")).alias("deviation_ppm"),
    )


@query(
    "agg_gini_coefficient",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1),
    ranked AS (
      -- ascending rank for the standard Gini index formula
      SELECT rev_cents,
             ROW_NUMBER() OVER (ORDER BY rev_cents, custkey) AS i
      FROM cust),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev_cents) AS HUGEINT) AS sx,
             CAST(SUM(i::HUGEINT * rev_cents) AS HUGEINT) AS six
      FROM ranked)
    SELECT n AS n_customers,
           CAST(sx AS BIGINT) AS total_cents,
           CAST((2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
             AS gini_ppm
    FROM sums
    """,
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini inequality coefficient of customer revenue — the
    concentration metric behind "what share of revenue do the top
    customers hold" (the decile lift table's scalar summary):
    G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) over ascending-sorted x.

    Reuses :func:`_ranked_customer_revenue`'s range-partitioned global
    rank (descending — converted as i = n+1−rank, so no second sort), all
    moments in exact decimal(38)/HUGEINT integer cents, and ONE integer
    floor-division into ppm at the end (numerator is non-negative since x
    is sorted ascending, so trunc-div equals floor-div)."""
    ranked, n = _ranked_customer_revenue(spark, sf_dir)
    # ascending index from the descending rank
    asc = ranked.select(
        "rev_cents", (F.lit(n) + 1 - F.col("rank")).alias("i")
    )
    sums = asc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("rev_cents")
        ).alias("six"),
    )
    return sums.select(
        F.col("n").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        F.expr(
            "CAST((2 * six - (n + 1) * sx) * 1000000 div (n * sx) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@query(
    "agg_herfindahl_index",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment AS segment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
               AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1),
    tot AS (SELECT SUM(rev) AS t, CAST(COUNT(*) AS BIGINT) AS k FROM seg)
    SELECT k AS n_segments,
           CAST(t AS BIGINT) AS total_cents,
           CAST((SELECT SUM(rev * rev) FROM seg) * 1000000 // (t * t)
                AS BIGINT) AS hhi_ppm
    FROM tot
    """,
)
def agg_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of revenue across market
    segments: HHI = Σ share_i² — the sort-free concentration metric next
    to the Gini (monopoly screening, corpus-source concentration).
    Computed as Σ rev_i² · 1e6 floor-div (Σ rev)² entirely in
    decimal(38)/HUGEINT — rev² reaches ~1e26 at large SF, far past
    int64, so the squares NEVER touch BIGINT."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("decimal(38,0)")
            .alias("rev")
        )
    )
    sums = seg.agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("rev").alias("t"),
        F.sum(F.col("rev") * F.col("rev")).alias("ss"),
    )
    return sums.select(
        "n_segments",
        F.col("t").cast("long").alias("total_cents"),
        F.expr("CAST(ss * 1000000 div (t * t) AS BIGINT)").alias("hhi_ppm"),
    )


@query(
    "dq_fact_detail_reconcile",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(8,2)))
                      * (1 + CAST(l_tax AS DECIMAL(8,2))))
                  AS DECIMAL(38,6)) AS detail_total
      FROM lineitem GROUP BY 1),
    joined AS (
      SELECT o.o_orderkey,
             CAST(abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - li.detail_total)
                  * 1000000 AS BIGINT) AS adelta_micro,
             li.detail_total IS NULL AS no_detail
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey),
    bucketed AS (
      SELECT CASE WHEN no_detail THEN 'no_detail'
                  WHEN adelta_micro = 0 THEN 'exact'
                  WHEN adelta_micro <= 1000000 THEN 'within_1'
                  WHEN adelta_micro <= 100000000 THEN 'within_100'
                  ELSE 'over_100' END AS bucket,
             adelta_micro
      FROM joined)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COALESCE(MAX(adelta_micro), 0) AS BIGINT) AS max_adelta_micro
    FROM bucketed GROUP BY 1
    """,
)
def dq_fact_detail_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-detail reconciliation: recompute each order's total from its
    line items (extendedprice·(1−discount)·(1+tax), exact decimal scale 6)
    and bucket the absolute header-vs-detail delta — the nightly
    finance-close audit (dq_referential_integrity's value-level sibling:
    that one checks the keys exist, this one checks the MONEY adds up).
    Orders with no line items land in 'no_detail' instead of vanishing.

    One fact-fact aggregate-then-join (both sides shuffle on orderkey —
    never broadcast a fact), deltas in exact integer micro-dollars."""
    li = load_table(spark, sf_dir, "lineitem")
    detail = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(8,2)"))
            * (F.lit(1) + F.col("l_tax").cast("decimal(8,2)"))
        )
        .cast("decimal(38,6)")
        .alias("detail_total")
    )
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(
        detail, o["o_orderkey"] == detail["l_orderkey"], "left"
    ).select(
        (
            F.abs(
                F.col("o_totalprice").cast("decimal(18,2)")
                - F.col("detail_total")
            )
            * 1000000
        )
        .cast("long")
        .alias("adelta_micro"),
        F.col("detail_total").isNull().alias("no_detail"),
    )
    bucket = (
        F.when(F.col("no_detail"), "no_detail")
        .when(F.col("adelta_micro") == 0, "exact")
        .when(F.col("adelta_micro") <= 1000000, "within_1")
        .when(F.col("adelta_micro") <= 100000000, "within_100")
        .otherwise("over_100")
    )
    return joined.select(
        bucket.alias("bucket"), "adelta_micro"
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.coalesce(F.max("adelta_micro"), F.lit(0))
        .cast("long")
        .alias("max_adelta_micro"),
    )


@query(
    "agg_pareto_frontier_2d",
    oracle="""
    WITH m AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT custkey, rev_cents, n_orders
    FROM m q
    WHERE NOT EXISTS (
      SELECT 1 FROM m p
      WHERE p.rev_cents >= q.rev_cents AND p.n_orders >= q.n_orders
        AND (p.rev_cents > q.rev_cents OR p.n_orders > q.n_orders))
    """,
)
def agg_pareto_frontier_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): customers not strictly dominated on
    (total revenue, order count) — "who is best at some tradeoff of spend
    vs frequency".  The textbook formulation is the quadratic NOT-EXISTS
    self-join (which the DuckDB oracle runs, making this a genuinely
    independent differential pair); the Spark plan is the distributed
    two-phase skyline:

    1. PRUNE — bucket revenue into ≤1024 fixed integer ranges, take each
       bucket's max order-count, suffix-max those ≤1024 scalars on the
       driver (model-state-sized, like the IVF centroids), and broadcast
       the per-bucket "best count among strictly-richer buckets" back.
       Any point whose count ≤ that threshold is dominated (richer bucket
       ⇒ strictly higher revenue) and drops map-side — at 100 TB this
       kills ~everything without a global sort.
    2. EXACT — survivors (≈ frontier-sized: per bucket only counts above
       every richer bucket's max survive) go through the O(s log s)
       sweep: a range-frame window ordered by revenue gives each point
       the best count among STRICTLY richer survivors, a same-revenue max
       handles ties.  Dominance through a pruned point is always realized
       by some surviving richer point (chain argument), so
       frontier(survivors) = frontier(all).

    Only the tiny survivor set crosses the single-partition window — the
    shape that survives 100 TB where NOT EXISTS or a global-window-only
    sweep never could."""
    o = load_table(spark, sf_dir, "orders")
    m = materialize(o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    ))  # probed 3x (range, bucket maxes, prune)
    lo, hi = m.agg(F.min("rev_cents"), F.max("rev_cents")).first()
    if lo is None:
        return m.select("custkey", "rev_cents", "n_orders").limit(0)
    width = max((hi - lo) // 1024 + 1, 1)
    m = m.withColumn("bkt", (F.col("rev_cents") - F.lit(lo)) / F.lit(width))
    m = m.withColumn("bkt", F.col("bkt").cast("long"))
    bkt_max = {
        r["bkt"]: r["mx"]
        for r in m.groupBy("bkt").agg(F.max("n_orders").alias("mx")).collect()
    }
    suffix, best = {}, -1
    for b in sorted(bkt_max, reverse=True):
        suffix[b] = best  # best count in STRICTLY richer buckets
        best = max(best, bkt_max[b])
    thresh = spark.createDataFrame(
        [(b, s) for b, s in suffix.items()], "bkt long, richer_bkt_best long"
    )
    survivors = (
        m.join(F.broadcast(thresh), "bkt")
        .where(F.col("n_orders") > F.col("richer_bkt_best"))
        .select("custkey", "rev_cents", "n_orders")
    )
    w_richer = W.orderBy("rev_cents").rangeBetween(1, W.unboundedFollowing)
    w_tie = W.partitionBy("rev_cents")
    flagged = survivors.select(
        "custkey",
        "rev_cents",
        "n_orders",
        F.coalesce(
            F.max("n_orders").over(w_richer), F.lit(-1)
        ).alias("best_richer"),
        F.max("n_orders").over(w_tie).alias("best_tie"),
    )
    return flagged.where(
        (F.col("best_richer") < F.col("n_orders"))
        & (F.col("best_tie") <= F.col("n_orders"))
    ).select("custkey", "rev_cents", "n_orders")


@query(
    "fin_prorate_largest_remainder",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents
      FROM lineitem),
    sized AS (
      SELECT l.l_orderkey, l.l_linenumber, l.price_cents,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS total_cents,
             CAST(SUM(l.price_cents) OVER (PARTITION BY l.l_orderkey)
                  AS BIGINT) AS order_price_cents,
             CAST(COUNT(*) OVER (PARTITION BY l.l_orderkey) AS BIGINT)
               AS n_lines
      FROM lines l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    quota AS (
      SELECT *,
             (total_cents * price_cents) // order_price_cents AS floor_alloc,
             (total_cents * price_cents) % order_price_cents AS rem_num
      FROM sized),
    ranked AS (
      SELECT *,
             total_cents - CAST(SUM(floor_alloc) OVER
               (PARTITION BY l_orderkey) AS BIGINT) AS leftover,
             CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY rem_num DESC, l_linenumber ASC) AS BIGINT) AS rk
      FROM quota),
    alloc AS (
      SELECT l_orderkey, n_lines, total_cents,
             floor_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
               AS alloc_cents
      FROM ranked)
    SELECT l_orderkey AS orderkey,
           CAST(MAX(n_lines) AS BIGINT) AS n_lines,
           CAST(MAX(total_cents) AS BIGINT) AS total_cents,
           CAST(SUM(alloc_cents) AS BIGINT) AS alloc_sum_cents,
           CAST(MAX(alloc_cents) AS BIGINT) AS max_alloc_cents,
           CAST(MIN(alloc_cents) AS BIGINT) AS min_alloc_cents
    FROM alloc GROUP BY 1
    """,
)
def fin_prorate_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proration: allocate each order header's total across its line
    items proportionally to extended price using the largest-remainder
    (Hamilton) method, so integer-cent allocations sum EXACTLY to the
    header total — the finance-engineering primitive behind revenue
    splits, tax apportionment and budget spreads, where naive rounding
    leaks cents.  floor quotas via integer division, then the
    total − Σfloor leftover cents (provably 0..n_lines−1) go to the
    largest fractional remainders, ties broken by line number.

    All arithmetic is int64 under ANSI mode: total_cents ≤ ~6e7 and
    price_cents ≤ ~1e7, so total_cents·price_cents ≤ ~6e14 ≪ 2^63.
    Three windows + the final digest groupBy all share one shuffle on
    orderkey (Catalyst reuses the exchange) — per-order work is O(lines
    log lines) locally, linear across orders, broadcast-free: the 100 TB
    shape.  Output is the per-order digest; alloc_sum_cents ==
    total_cents for every row is the conservation proof (also pinned by
    a unit test)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lines = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    sized = lines.join(
        o.select(
            "o_orderkey",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("total_cents"),
        ),
        lines["l_orderkey"] == F.col("o_orderkey"),
    ).drop("o_orderkey")
    w_ord = W.partitionBy("l_orderkey")
    sized = sized.withColumn(
        "order_price_cents", F.sum("price_cents").over(w_ord)
    ).withColumn("n_lines", F.count(F.lit(1)).over(w_ord))
    quota = sized.withColumn(
        "floor_alloc",
        F.expr("(total_cents * price_cents) div order_price_cents"),
    ).withColumn(
        "rem_num", F.expr("(total_cents * price_cents) % order_price_cents")
    )
    ranked = quota.withColumn(
        "leftover", F.col("total_cents") - F.sum("floor_alloc").over(w_ord)
    ).withColumn(
        "rk",
        F.row_number().over(
            w_ord.orderBy(F.desc("rem_num"), F.asc("l_linenumber"))
        ).cast("long"),
    )
    alloc = ranked.withColumn(
        "alloc_cents",
        F.col("floor_alloc")
        + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0),
    )
    return alloc.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.max("n_lines").alias("n_lines"),
        F.max("total_cents").alias("total_cents"),
        F.sum("alloc_cents").alias("alloc_sum_cents"),
        F.max("alloc_cents").alias("max_alloc_cents"),
        F.min("alloc_cents").alias("min_alloc_cents"),
    )


@query(
    "dq_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      FROM dev GROUP BY 1)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(d.med) AS median_value,
           MAX(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1
    """,
)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type via Median Absolute
    Deviation: median and MAD are both percentile_disc (actual data
    elements — no interpolation, no float-summation order dependence, so
    exactly oracle-checkable unlike a stddev-based z-score), outliers are
    values whose absolute deviation exceeds 3×MAD (raw-MAD threshold; the
    σ-equivalent would scale by 1.4826).  MAD tolerates up to 50%
    contamination where dq_anomaly_sigma's mean/σ is dragged by the very
    outliers it hunts — the two are complementary DQ probes.

    Two grouped percentile passes with a broadcast of the 5-row
    per-type medians between them; the fact table streams twice (the
    deviation table is lineage-cut so the MAD pass and the final census
    read the materialized deviations instead of re-scanning events a
    third time — exact MAD is irreducibly ≥2 passes: the median must
    exist before deviations can), nothing else shuffles — linear at any
    scale."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.createOrReplaceTempView("_mad_events")
    med = spark.sql(
        """SELECT event_type,
                  percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
           FROM _mad_events GROUP BY 1"""
    )
    dev = materialize(ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    ))
    dev.createOrReplaceTempView("_mad_dev")
    mad = spark.sql(
        """SELECT event_type,
                  percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
           FROM _mad_dev GROUP BY 1"""
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("median_value"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


_PROFILE_COLS = ['o_orderkey', 'o_custkey', 'o_orderstatus', 'o_totalprice', 'o_orderdate', 'o_orderpriority']

_PROFILE_ORACLE = """
    SELECT 'o_orderkey' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_totalprice' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderdate' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct
    FROM orders
"""


@query("dq_completeness_profile", oracle=_PROFILE_ORACLE)
def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level completeness/cardinality profile of the orders table -
    per column: row count, nulls, exact distinct count (the Deequ/
    Great-Expectations-style "profile my table" primitive that gates every
    ingestion pipeline).

    The Spark plan is ONE pass: a single Aggregate with a count-distinct
    per column (Catalyst plans multi-distinct via Expand - ~Ncols x row
    multiplication map-side, partial-agged before the shuffle, the
    standard exact form; the 100 TB escape hatch is approx_count_distinct,
    which agg_approx_count_distinct already registers) followed by a
    stack() to long format.  The oracle is one independent single-column
    scan per column UNION ALLed - a genuinely different decomposition of
    the same answer."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias("null_" + c))
        aggs.append(F.countDistinct(F.col(c)).alias("dist_" + c))
    wide = o.agg(*aggs)
    stack = (
        "stack(" + str(len(_PROFILE_COLS)) + ", "
        + ", ".join(
            "'%s', null_%s, dist_%s" % (c, c, c) for c in _PROFILE_COLS
        )
        + ") AS (col_name, n_null, n_distinct)"
    )
    return wide.select(F.expr(stack), "n_rows").select(
        "col_name", "n_rows", "n_null", "n_distinct"
    )


@query(
    "agg_rfm_segmentation",
    oracle="""
    WITH m AS (
      SELECT o_custkey AS custkey,
             CAST(datediff('day', MAX(o_orderdate),
                           (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT)
               AS rec_days,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS mon_cents
      FROM orders GROUP BY 1),
    thr AS (
      SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY rec_days) AS r1,
             percentile_disc(0.50) WITHIN GROUP (ORDER BY rec_days) AS r2,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY rec_days) AS r3,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY freq) AS f1,
             percentile_disc(0.50) WITHIN GROUP (ORDER BY freq) AS f2,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY freq) AS f3,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY mon_cents) AS m1,
             percentile_disc(0.50) WITHIN GROUP (ORDER BY mon_cents) AS m2,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY mon_cents) AS m3
      FROM m)
    SELECT custkey, rec_days, freq, mon_cents,
           CAST(1 + CASE WHEN rec_days <= r3 THEN 1 ELSE 0 END
                  + CASE WHEN rec_days <= r2 THEN 1 ELSE 0 END
                  + CASE WHEN rec_days <= r1 THEN 1 ELSE 0 END AS BIGINT)
             AS r_score,
           CAST(1 + CASE WHEN freq > f1 THEN 1 ELSE 0 END
                  + CASE WHEN freq > f2 THEN 1 ELSE 0 END
                  + CASE WHEN freq > f3 THEN 1 ELSE 0 END AS BIGINT) AS f_score,
           CAST(1 + CASE WHEN mon_cents > m1 THEN 1 ELSE 0 END
                  + CASE WHEN mon_cents > m2 THEN 1 ELSE 0 END
                  + CASE WHEN mon_cents > m3 THEN 1 ELSE 0 END AS BIGINT)
             AS m_score
    FROM m CROSS JOIN thr
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile scores for Recency (days since
    last order, measured against the dataset's max date — lower is better,
    so the score inverts), Frequency (order count) and Monetary (lifetime
    cents).  The marketing-analytics staple behind churn/VIP targeting.

    Scores come from THRESHOLD comparison against the three
    percentile_disc quartile boundaries (actual data elements — exact in
    both engines), not from a global ntile: the boundary row is one
    9-column broadcast, so there is NO single-partition ranking window
    anywhere — per-customer aggregate, one tiny scalar aggregate,
    broadcast compare.  That is the 100 TB shape (ntile's equal-bucket
    tie-splitting is what _ranked_customer_revenue's range-partitioned
    rank provides when exact decile SIZES matter; RFM convention is
    boundary-based).  Ties at a boundary land in the lower band in both
    engines by the same comparison."""
    o = load_table(spark, sf_dir, "orders")
    max_date = o.agg(F.max("o_orderdate")).first()[0]
    m = materialize(o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(F.lit(max_date), F.max("o_orderdate"))
        .cast("long")
        .alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("mon_cents"),
    ))  # feeds thresholds AND scoring — one scan
    m.createOrReplaceTempView("_rfm_metrics")
    thr = spark.sql(
        """SELECT
             percentile_disc(0.25) WITHIN GROUP (ORDER BY rec_days) AS r1,
             percentile_disc(0.50) WITHIN GROUP (ORDER BY rec_days) AS r2,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY rec_days) AS r3,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY freq) AS f1,
             percentile_disc(0.50) WITHIN GROUP (ORDER BY freq) AS f2,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY freq) AS f3,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY mon_cents) AS m1,
             percentile_disc(0.50) WITHIN GROUP (ORDER BY mon_cents) AS m2,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY mon_cents) AS m3
           FROM _rfm_metrics"""
    )
    j = m.crossJoin(F.broadcast(thr))
    band_up = lambda x, a, b, c: (  # noqa: E731 — higher value, higher score
        F.lit(1)
        + (F.col(x) > F.col(a)).cast("long")
        + (F.col(x) > F.col(b)).cast("long")
        + (F.col(x) > F.col(c)).cast("long")
    )
    r_score = (
        F.lit(1)
        + (F.col("rec_days") <= F.col("r3")).cast("long")
        + (F.col("rec_days") <= F.col("r2")).cast("long")
        + (F.col("rec_days") <= F.col("r1")).cast("long")
    )
    return j.select(
        "custkey",
        "rec_days",
        "freq",
        "mon_cents",
        r_score.alias("r_score"),
        band_up("freq", "f1", "f2", "f3").alias("f_score"),
        band_up("mon_cents", "m1", "m2", "m3").alias("m_score"),
    )


@query(
    "agg_share_of_parent",
    oracle="""
    WITH nat AS (
      SELECT n.n_regionkey AS regionkey, n.n_name AS nation,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS nation_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    reg AS (
      SELECT regionkey, CAST(SUM(nation_cents) AS BIGINT) AS region_cents
      FROM nat GROUP BY 1)
    SELECT r.r_name AS region, nat.nation,
           nat.nation_cents,
           reg.region_cents,
           CAST(nat.nation_cents * 1000000 // reg.region_cents AS BIGINT)
             AS share_ppm
    FROM nat
    JOIN reg USING (regionkey)
    JOIN region r ON r.r_regionkey = nat.regionkey
    """,
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent in a dimension hierarchy: each nation's revenue as
    ppm of its region's total — the % -of-parent column every drill-down
    report carries (rollup gives the LEVELS; this gives the RATIO between
    adjacent levels, exact integer ppm so no float division drift).

    The child level aggregates once from the fact table (customer joins
    by shuffle — it GROWS with the data, so it is never broadcast; the
    25-row nation and 5-row region dims are); the parent level
    re-aggregates the 25-row child table, and the share join runs
    entirely on dimension-sized inputs — the fact table is read exactly
    once at any scale."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # 25 rows feeding parent agg + share join — one fact scan
    nat = materialize(
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_regionkey").alias("regionkey"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("nation_cents")
        )
    )
    reg = nat.groupBy("regionkey").agg(
        F.sum("nation_cents").cast("long").alias("region_cents")
    )
    return (
        nat.join(reg, "regionkey")
        .join(F.broadcast(r), F.col("regionkey") == r["r_regionkey"])
        .select(
            F.col("r_name").alias("region"),
            "nation",
            "nation_cents",
            "region_cents",
            F.expr("nation_cents * 1000000 div region_cents").alias("share_ppm"),
        )
    )


@query(
    "dq_cross_field_rules",
    oracle="""
    SELECT 'quantity_positive' AS rule,
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'discount_in_unit_interval',
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'price_consistent_with_quantity',
           CAST(SUM(CASE WHEN l_extendedprice <= 0 OR l_quantity <= 0
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'ship_not_before_order',
           CAST(SUM(CASE WHEN CAST(l.l_shipdate AS DATE) < o.o_orderdate
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'returnflag_domain',
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R')
                    THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    """,
)
def dq_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-engine validation report (Great-Expectations / Deequ style):
    five declarative cross-field rules over lineitem — domain checks,
    range checks, and one CROSS-TABLE temporal rule (a line may not ship
    before its order was placed) — each emitting (rule, violations,
    checked).  The shape every ingestion gate needs: a fixed, auditable
    rule list with counts, not a boolean.

    The four single-table rules fold into ONE pass (conditional partial
    aggregates); the cross-table rule shuffles lineitem↔orders on
    orderkey once.  Adding a rule is one more conditional sum — cost
    grows per-expression, not per-scan.  The oracle deliberately runs
    each rule as its own scan (independent decomposition)."""
    li = load_table(spark, sf_dir, "lineitem")
    single = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("v_qty"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("v_disc"),
        F.sum(
            ((F.col("l_extendedprice") <= 0) | (F.col("l_quantity") <= 0)).cast(
                "long"
            )
        ).alias("v_price"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("v_flag"),
    )
    single_rows = single.select(
        F.expr(
            "stack(4,"
            " 'quantity_positive', v_qty,"
            " 'discount_in_unit_interval', v_disc,"
            " 'price_consistent_with_quantity', v_price,"
            " 'returnflag_domain', v_flag"
            ") AS (rule, n_violations)"
        ),
        F.col("n").alias("n_checked"),
    ).select("rule", "n_violations", "n_checked")
    o = load_table(spark, sf_dir, "orders")
    cross = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .agg(
            F.sum(
                (F.col("l_shipdate").cast("date") < F.col("o_orderdate")).cast(
                    "long"
                )
            ).alias("n_violations"),
            F.count(F.lit(1)).alias("n_checked"),
        )
        .select(
            F.lit("ship_not_before_order").alias("rule"),
            "n_violations",
            "n_checked",
        )
    )
    return single_rows.unionByName(cross)


@query(
    "dq_chisq_drift",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS category,
             (strpos('0123456789abcdef',
                     substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) < 8
               AS in_a
      FROM orders),
    cell AS (
      SELECT category,
             CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM base GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_a) AS HUGEINT) AS ta,
             CAST(SUM(n_b) AS HUGEINT) AS tb
      FROM cell),
    contrib AS (
      SELECT category, n_a, n_b,
             (1000000 * (CAST(n_a AS HUGEINT) * (ta + tb)
                         - ta * (n_a + n_b))
                      * (CAST(n_a AS HUGEINT) * (ta + tb)
                         - ta * (n_a + n_b)))
               // (ta * (n_a + n_b) * (ta + tb)) AS ca,
             (1000000 * (CAST(n_b AS HUGEINT) * (ta + tb)
                         - tb * (n_a + n_b))
                      * (CAST(n_b AS HUGEINT) * (ta + tb)
                         - tb * (n_a + n_b)))
               // (tb * (n_a + n_b) * (ta + tb)) AS cb
      FROM cell, tot)
    SELECT category, n_a, n_b,
           CAST(ca AS BIGINT) AS contrib_a_micro,
           CAST(cb AS BIGINT) AS contrib_b_micro,
           CAST((SELECT SUM(ca + cb) FROM contrib) AS BIGINT) AS chi2_micro
    FROM contrib
    """,
)
def dq_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit as a chi-square homogeneity statistic in
    EXACT integer arithmetic — the portable alternative to PSI/KL drift
    scores, whose ``ln()`` cannot cross engines bit-for-bit.  The order
    stream splits into two cohorts by content hash (md5 first nibble — in
    production the split is yesterday/today or producer A/B), and each
    priority category contributes ``(observed·N − n_cohort·n_category)² /
    (n_cohort·n_category·N)`` in micro units: the classic
    ``(o − e)²/e`` with the expected count kept rational instead of
    floated.  Intermediates go through DECIMAL(38,0) (HUGEINT in the
    oracle): the squared term reaches ~(o·N)² ≈ 5·10¹⁸ at sf0.1 — past
    int64 — and this bound grows with N², so 128-bit intermediates are a
    correctness requirement, not caution (the output micro units fit
    BIGINT trivially).  Both engines truncate the positive division
    identically.

    One scan → 5-row cell table → broadcast margins → pure arithmetic;
    a drift monitor at 100 TB is margin-bounded (cohorts × categories),
    never data-bounded."""
    o = load_table(spark, sf_dir, "orders")
    nib = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1), 16, 10
    ).cast("int")
    # 5-row table feeding four plan branches (tot, contrib, and the
    # replicated chi2 total's copy of each): materialized so the fact scan
    # runs once, as the docstring promises
    cell = materialize(
        o.select(F.col("o_orderpriority").alias("category"), nib.alias("nib"))
        .groupBy("category")
        .agg(
            F.sum(F.when(F.col("nib") < 8, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("nib") >= 8, 1).otherwise(0)).alias("n_b"),
        )
    )
    tot = cell.agg(
        F.sum("n_a").cast("decimal(38,0)").alias("ta"),
        F.sum("n_b").cast("decimal(38,0)").alias("tb"),
    )
    d38 = "decimal(38,0)"
    contrib = (
        cell.crossJoin(F.broadcast(tot))
        .select(
            "category",
            "n_a",
            "n_b",
            F.col("n_a").cast(d38).alias("da"),
            F.col("n_b").cast(d38).alias("db"),
            (F.col("n_a").cast(d38) + F.col("n_b").cast(d38)).alias("ni"),
            (F.col("ta") + F.col("tb")).alias("nn"),
            "ta",
            "tb",
        )
        .select(
            "category",
            "n_a",
            "n_b",
            F.expr(
                "1000000 * (da * nn - ta * ni) * (da * nn - ta * ni)"
                " div (ta * ni * nn)"
            ).alias("ca"),
            F.expr(
                "1000000 * (db * nn - tb * ni) * (db * nn - tb * ni)"
                " div (tb * ni * nn)"
            ).alias("cb"),
        )
    )
    total = contrib.agg(
        F.sum(F.col("ca") + F.col("cb")).cast("long").alias("chi2_micro")
    )
    return contrib.crossJoin(F.broadcast(total)).select(
        "category",
        "n_a",
        "n_b",
        F.col("ca").cast("long").alias("contrib_a_micro"),
        F.col("cb").cast("long").alias("contrib_b_micro"),
        "chi2_micro",
    )


# --------------------------------------------------------------------------
# Recency weighting and resampled uncertainty — both exact-integer
# --------------------------------------------------------------------------

# half-life for the recency weighting, in days (26 weeks)
DECAY_HALF_LIFE_DAYS = 182


@query(
    "agg_time_decay_revenue",
    oracle=f"""
    WITH bounds AS (
      SELECT MAX(o_orderdate) AS maxd,
             CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                  AS BIGINT) // {DECAY_HALF_LIFE_DAYS} AS h
      FROM orders),
    scored AS (
      SELECT o_orderpriority AS priority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             b.h - CAST(date_diff('day', o_orderdate, b.maxd) AS BIGINT)
                   // {DECAY_HALF_LIFE_DAYS} AS shift
      FROM orders CROSS JOIN bounds b)
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS BIGINT) AS raw_cents,
           CAST(SUM(CAST(cents * (CAST(1 AS BIGINT) << shift)
                         AS DECIMAL(38,0))) AS BIGINT) AS decayed_score
    FROM scored GROUP BY priority
    """,
)
def agg_time_decay_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted revenue with an EXACT power-of-two decay — the
    time-decay scoring every freshness-aware sampler / RFM-style ranking
    wants, made bit-portable by restricting the decay base to 2: an order
    loses half its weight every {DECAY_HALF_LIFE_DAYS} days, and the weight
    is carried as an INTEGER left-shift ``cents << (H - age_halflives)``
    (H = the corpus' own maximum age in half-lives, data-derived), so the
    score is a plain integer sum — no pow(), no floats, no libm ulps.
    Reading it: decayed_score / 2^H is the score in "cents at
    corpus-max-age weight"; only the shift convention, not the ranking,
    depends on H.

    Overflow bound: H for a 7-year fixture is ~13, so per-order score ≤
    cents·2^13 ≈ 5e11; sums accumulate in DECIMAL(38,0) and the emitted
    BIGINT stays exact while orders-per-group · avg_cents · 2^H < 2^63
    (≈ 7e7 orders per priority at this generator's price scale, ~sf50;
    past that, widen the emitted column or lengthen the half-life).  Shapes: one aggregate for the (maxd, H) scalar
    (broadcast as a literal / scalar subquery), then one scan + one
    5-group partial-agg rollup — shuffle is 5 rows."""
    o = load_table(spark, sf_dir, "orders")
    maxd, mind = o.agg(
        F.max("o_orderdate"), F.min("o_orderdate")
    ).collect()[0]
    h = (maxd - mind).days // DECAY_HALF_LIFE_DAYS
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    shift = (
        F.lit(h)
        - F.floor(
            F.datediff(F.lit(maxd), F.col("o_orderdate"))
            / DECAY_HALF_LIFE_DAYS
        )
    ).cast("int")
    return (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            cents,
            shift.alias("shift"),
        )
        .withColumn("w", F.expr("shiftleft(cast(1 as bigint), shift)"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("cents").cast("decimal(38,0)"))
            .cast("long")
            .alias("raw_cents"),
            F.sum((F.col("cents") * F.col("w")).cast("decimal(38,0)"))
            .cast("long")
            .alias("decayed_score"),
        )
    )


# Poisson(1) inverse-CDF thresholds on a 4096 grid (floor(4096*CDF(k)) for
# k = 0..6; the tail mass beyond 7 is < 1.1e-5 and maps to weight 7).  The
# replicate weight is the count of thresholds <= u for a uniform 12-bit u —
# mean weight over the grid is 4099/4096 ≈ 1.00073, and both engines evaluate the SAME
# fixed integer ladder, so the draw is deterministic and bit-portable.
POISSON1_THRESHOLDS = (1506, 3013, 3767, 4018, 4081, 4093, 4095)
BOOTSTRAP_REPLICATES = 8


@query(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (
      SELECT unnest(range(0, {BOOTSTRAP_REPLICATES})) AS rep),
    drawn AS (
      SELECT r.rep,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                 || CAST(r.rep AS VARCHAR)), 1, 3))::BIGINT
               AS u
      FROM orders CROSS JOIN reps r),
    weighted AS (
      SELECT rep, cents,
             CASE
               WHEN u < {POISSON1_THRESHOLDS[0]} THEN 0
               WHEN u < {POISSON1_THRESHOLDS[1]} THEN 1
               WHEN u < {POISSON1_THRESHOLDS[2]} THEN 2
               WHEN u < {POISSON1_THRESHOLDS[3]} THEN 3
               WHEN u < {POISSON1_THRESHOLDS[4]} THEN 4
               WHEN u < {POISSON1_THRESHOLDS[5]} THEN 5
               WHEN u < {POISSON1_THRESHOLDS[6]} THEN 6
               ELSE 7 END AS w
      FROM drawn)
    SELECT rep AS replicate_id,
           CAST(SUM(w) AS BIGINT) AS n_sampled,
           CAST(SUM(CAST(w * cents AS DECIMAL(38,0))) AS BIGINT)
             AS revenue_cents
    FROM weighted GROUP BY rep
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP — the standard way to put confidence intervals on
    a 100 TB aggregate in ONE pass: instead of resampling n rows with
    replacement (which needs global coordination), each row independently
    receives a Poisson(1) replicate weight, and the B = {BOOTSTRAP_REPLICATES}
    re-weighted sums estimate the sampling distribution.  The spread of
    ``revenue_cents`` across replicates IS the standard error of total
    revenue.

    The Poisson draw is derandomized so both engines agree bit-for-bit:
    u = first 3 md5 nibbles of "orderkey:replicate" (12-bit uniform), and
    the weight walks the fixed integer threshold ladder
    {POISSON1_THRESHOLDS} (floor(4096·CDF); grid mean 4099/4096).
    This is the repo's md5-nibble idiom (NOTES playbook #7) applied to
    inverse-CDF sampling.

    Shapes: one scan, a ×{BOOTSTRAP_REPLICATES} replicate explode (bounded
    constant fan-out, like the 28-day day-explode), partial aggregation
    collapses everything to {BOOTSTRAP_REPLICATES} groups — the shuffle is
    {BOOTSTRAP_REPLICATES} rows regardless of input size."""
    o = load_table(spark, sf_dir, "orders")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    drawn = o.select(F.col("o_orderkey"), cents).select(
        "cents",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOTSTRAP_REPLICATES - 1))
        ).alias("rep"),
        F.col("o_orderkey"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("rep").cast("string"),
                ).cast("binary")
            ),
            1,
            3,
        ),
        16,
        10,
    ).cast("long")
    # materialize u in its own projection: inlining it into the CASE ladder
    # makes codegen re-evaluate the md5 chain once per threshold
    drawn = drawn.withColumn("u", u)
    w = F.lit(7)
    for k in range(len(POISSON1_THRESHOLDS) - 1, -1, -1):
        w = F.when(F.col("u") < POISSON1_THRESHOLDS[k], F.lit(k)).otherwise(w)
    return (
        drawn.withColumn("w", w.cast("long"))
        .groupBy(F.col("rep").cast("long").alias("replicate_id"))
        .agg(
            F.sum("w").alias("n_sampled"),
            F.sum((F.col("w") * F.col("cents")).cast("decimal(38,0)"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


# ECDF band width for the KS statistic: cents div 2^20 (~$10.5k bands).
# The fixture price domain (< 2^26 cents) yields ~60 bands; per-band row
# counts stay window-task-sized up to ~1e6 distinct values per band.  At a
# wider domain, raise k to keep band count ~sqrt(distinct values).
KS_BAND_SHIFT = 20


@query(
    "dq_ks_drift",
    oracle="""
    WITH base AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             (strpos('0123456789abcdef',
                     substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) < 8
               AS in_a
      FROM orders),
    vals AS (
      SELECT cents,
             CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      FROM base GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
             CAST(SUM(cnt_b) AS BIGINT) AS nb
      FROM vals),
    cum AS (
      SELECT cents,
             CAST(SUM(cnt_a) OVER (ORDER BY cents) AS BIGINT) AS cum_a,
             CAST(SUM(cnt_b) OVER (ORDER BY cents) AS BIGINT) AS cum_b
      FROM vals),
    scored AS (
      SELECT t.na, t.nb, c.cents,
             CAST(abs(c.cum_a * t.nb - c.cum_b * t.na) AS BIGINT) AS d_num
      FROM cum c CROSS JOIN tot t)
    SELECT na AS n_a, nb AS n_b, cents AS at_cents, d_num,
           CAST(CAST(1000000 AS HUGEINT) * d_num
                // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS d_ppm
    FROM scored
    ORDER BY d_num DESC, cents LIMIT 1
    """,
)
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV drift audit in EXACT integer
    arithmetic — the rank-based complement to :func:`dq_chisq_drift`
    (chi-square sees categorical shifts; KS sees shifts anywhere in a
    numeric distribution without choosing bins).  Cohorts split by the
    same md5-nibble hash; the statistic is
    ``D = max_v |cumA(v)·nB − cumB(v)·nA| / (nA·nB)``, kept as the
    integer numerator plus a ppm quotient, with the arg-max price as the
    drift location (ties broken toward the smallest value).

    The scale problem KS poses is the GLOBAL cumulative sum over the value
    axis — a naive window is one task.  This uses the repo's banded
    distributed-ECDF pattern (decile/pareto family): per-value counts
    shuffle once on the value; each value band (cents >> {KS_BAND_SHIFT})
    cumsums independently; the ≤~100 per-band totals collect to the driver
    (model-state-sized, like the ANN centroids) whose exclusive prefix
    sums broadcast back as band offsets.  Overflow: cum·n ≤ nA·nB — int64
    to ~3e9 rows per cohort; the ppm quotient runs in DECIMAL(38,0)."""
    o = load_table(spark, sf_dir, "orders")
    nib = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1), 16, 10
    ).cast("int")
    base = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        (nib < 8).alias("in_a"),
    )
    # feeds the band-total collect AND the banded window — one scan
    vals = materialize(
        base.groupBy("cents")
        .agg(
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("cnt_a"),
            F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("cnt_b"),
        )
        .withColumn("band", F.expr(f"cents div {1 << KS_BAND_SHIFT}"))
    )
    band_rows = sorted(
        vals.groupBy("band")
        .agg(F.sum("cnt_a").alias("ba"), F.sum("cnt_b").alias("bb"))
        .collect(),
        key=lambda r: r["band"],
    )
    na = sum(r["ba"] for r in band_rows)
    nb = sum(r["bb"] for r in band_rows)
    offsets, oa, ob = [], 0, 0
    for r in band_rows:
        offsets.append((r["band"], oa, ob))
        oa += r["ba"]
        ob += r["bb"]
    off = spark.createDataFrame(
        offsets, "band bigint, off_a bigint, off_b bigint"
    )
    w = W.partitionBy("band").orderBy("cents").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = (
        vals.join(F.broadcast(off), "band")
        .withColumn("cum_a", F.col("off_a") + F.sum("cnt_a").over(w))
        .withColumn("cum_b", F.col("off_b") + F.sum("cnt_b").over(w))
    )
    scored = cum.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        F.col("cents").alias("at_cents"),
        F.abs(F.col("cum_a") * nb - F.col("cum_b") * na).alias("d_num"),
    )
    top = scored.orderBy(F.desc("d_num"), "at_cents").limit(1)
    # `div`, not `/`: decimal division rounds while the oracle's `//`
    # truncates (one-ulp ppm disagreements at sf0.01)
    return top.withColumn(
        "d_ppm",
        F.expr(
            f"cast((cast(1000000 as decimal(38,0)) * d_num)"
            f" div (cast({na} as decimal(38,0)) * {nb}) as long)"
        ),
    )


# --- Neyman optimal stratified-sampling allocation ---------------------------

NEYMAN_BUDGET = 1000


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH strata AS (
      SELECT o_orderpriority AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2
      FROM orders GROUP BY 1),
    weighted AS (
      SELECT stratum, n_total,
             n_total * sqrt((s2 - s1 * s1 / n_total) / n_total) AS w
      FROM strata),
    shares AS (
      SELECT stratum, n_total, w,
             {NEYMAN_BUDGET} * w / (SELECT SUM(w) FROM weighted) AS share
      FROM weighted),
    floored AS (
      SELECT stratum, n_total, w, share,
             CAST(FLOOR(share) AS BIGINT) AS base,
             share - FLOOR(share) AS rem
      FROM shares),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rk,
             (SELECT {NEYMAN_BUDGET} - SUM(base) FROM floored) AS leftover
      FROM floored)
    SELECT stratum, n_total,
           CAST(ROUND(w * 100) AS BIGINT) AS weight_c,
           CAST(LEAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END,
                      n_total) AS BIGINT) AS alloc_n,
           CAST(LEAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END,
                      n_total) * 1000000 // n_total AS BIGINT)
             AS sampling_rate_ppm
    FROM ranked
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman OPTIMAL stratified-sampling allocation: split a fixed budget
    of {NEYMAN_BUDGET} samples across the order-priority strata
    proportionally to N_h * S_h (stratum size x standard deviation) — the
    textbook minimum-variance design, vs. sample_stratified's fixed
    per-stratum rates.  High-variance strata get oversampled; the
    allocation is integerized by LARGEST REMAINDER (the
    fin_prorate_largest_remainder discipline: floors + ranked fractional
    remainders, ties to the stratum name, so conservation is exact) and
    capped at the stratum population.

    Determinism across engines: per-stratum moments are EXACT decimal
    sums cast to double once, the variance/sqrt/share arithmetic is the
    identical fixed-order IEEE expression on identical inputs (sqrt is
    correctly rounded per IEEE-754, so both engines agree bit-for-bit —
    the same reasoning as the cosine operators), and the remainder
    ranking totally orders on (remainder, stratum).

    Distributed shape: ONE scan with partial+final aggregation into a
    |strata|-row table; every window/scalar after that runs on 5 rows.
    The subsequent take (not materialized here) would be the md5-rank
    filter of sample_stratified with these rates broadcast.
    """
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    strata = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    w_col = F.col("n_total") * F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_total"))
        / F.col("n_total")
    )
    weighted = strata.select("stratum", "n_total", w_col.alias("w"))
    tot = weighted.agg(F.sum("w").alias("tw"))
    shares = weighted.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_total",
        "w",
        (F.lit(NEYMAN_BUDGET) * F.col("w") / F.col("tw")).alias("share"),
    )
    floored = shares.select(
        "stratum",
        "n_total",
        "w",
        "share",
        F.floor("share").cast("long").alias("base"),
        (F.col("share") - F.floor("share")).alias("rem"),
    )
    # 5-row table: the windows below are trivially bounded
    rk = F.row_number().over(W.orderBy(F.desc("rem"), F.asc("stratum")))
    leftover = F.lit(NEYMAN_BUDGET) - F.sum("base").over(
        W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    ranked = floored.select(
        "stratum", "n_total", "w", "base", rk.alias("rk"), leftover.alias("leftover")
    )
    alloc = F.least(
        F.col("base")
        + F.when(F.col("rk") <= F.col("leftover"), F.lit(1)).otherwise(F.lit(0)),
        F.col("n_total"),
    ).cast("long")
    return ranked.select(
        "stratum",
        "n_total",
        F.round(F.col("w") * 100).cast("long").alias("weight_c"),
        alloc.alias("alloc_n"),
        F.expr(
            f"CAST(least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END,"
            f" n_total) * 1000000 div n_total AS BIGINT)"
        ).alias("sampling_rate_ppm"),
    )


# --------------------------------------------------------------------------
# KMV (bottom-k) sketch set algebra: distinct-count union AND intersection
# --------------------------------------------------------------------------

KMV_K = 64  # sketch size; estimator error ~ 1/sqrt(K-2) ≈ 13%
# the md5-prefix hash below is 15 hex chars = 60 bits, so hv is uniform on
# [0, 2^60); the (K-1)th-order-statistic estimator numerator (K-1)·2^60 is
# derived from these two constants EVERYWHERE (operator, oracle f-string,
# property test) so a KMV_K change cannot silently skew one of the three
# (ADVICE r8)
KMV_HASH_SPACE = 2**60


@query(
    "agg_kmv_set_intersect",
    oracle=f"""
    WITH ids AS (
      SELECT o_custkey,
             MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS in_b
      FROM orders
      WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY 1),
    h AS (SELECT in_a, in_b,
                 ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS hv
          FROM ids),
    ex AS (SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a,
                  CAST(SUM(in_b) AS BIGINT) AS exact_b,
                  CAST(SUM(in_a * in_b) AS BIGINT) AS exact_intersect
           FROM h),
    ka AS (SELECT MAX(hv) AS ha, COUNT(*) AS ca
           FROM (SELECT hv FROM h WHERE in_a = 1 ORDER BY hv LIMIT {KMV_K})),
    kb AS (SELECT MAX(hv) AS hb, COUNT(*) AS cb
           FROM (SELECT hv FROM h WHERE in_b = 1 ORDER BY hv LIMIT {KMV_K})),
    ku AS (SELECT MAX(hv) AS hu, COUNT(*) AS cu,
                  CAST(SUM(in_a * in_b) AS BIGINT) AS kmv_matches
           FROM (SELECT hv, in_a, in_b FROM h ORDER BY hv LIMIT {KMV_K})),
    est AS (
      SELECT ex.*, ku.kmv_matches,
        CASE WHEN ka.ca < {KMV_K} THEN CAST(ka.ca AS DOUBLE)
             ELSE {KMV_K - 1}.0 * {KMV_HASH_SPACE}.0 / CAST(ka.ha AS DOUBLE)
        END AS est_a,
        CASE WHEN kb.cb < {KMV_K} THEN CAST(kb.cb AS DOUBLE)
             ELSE {KMV_K - 1}.0 * {KMV_HASH_SPACE}.0 / CAST(kb.hb AS DOUBLE)
        END AS est_b,
        CASE WHEN ku.cu < {KMV_K} THEN CAST(ku.cu AS DOUBLE)
             ELSE {KMV_K - 1}.0 * {KMV_HASH_SPACE}.0 / CAST(ku.hu AS DOUBLE)
        END AS est_union,
        ku.cu AS cu
      FROM ex CROSS JOIN ka CROSS JOIN kb CROSS JOIN ku)
    SELECT CAST({KMV_K} AS INT) AS k,
           exact_a, exact_b, exact_intersect,
           est_a, est_b, est_union, kmv_matches,
           CASE WHEN cu < {KMV_K} THEN CAST(kmv_matches AS DOUBLE)
                ELSE (CAST(kmv_matches AS DOUBLE) * est_union) / {KMV_K}.0
           END AS est_intersect
    FROM est
    """,
)
def agg_kmv_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / K-Minimum-Values) sketch set algebra: estimate the
    distinct-count of two sets, their UNION, and — the operation HLL
    cannot do — their INTERSECTION, from three {KMV_K}-row sketches, with
    the exact answers alongside for audit.  Sets: customers ordering in
    1995 (A) vs 1996 (B).

    The sketch of a set is its {KMV_K} smallest values under the
    md5-prefix hash (the repo's engine-portable 60-bit hash).  With h_K
    the K-th minimum on the [0, 2^60) line, N_hat = (K-1)*2^60/h_K; the
    union sketch is the bottom-K of the merged hash stream (mergeable —
    the property that makes this a DISTRIBUTED sketch), and the
    intersection estimate is the Jaccard-style match fraction inside the
    union sketch scaled by the union estimate (Beyer et al., SIGMOD'07).
    Sets smaller than K are carried exactly — the estimator branch is
    taken only when the sketch is full, identically in both engines.

    Determinism: hashes are exact integers; every estimate divides the
    SAME exact-integer-derived doubles (63*2^60 is mantissa-exact) in the
    same order, so results are bit-identical across engines — no RNG,
    unlike sampling-based sketch libraries.

    Scale shape: one groupBy(custkey) membership aggregate, then three
    ORDER BY hash LIMIT K passes — Spark plans TakeOrderedAndProject
    (per-partition bounded top-K, K-row driver merge), never a global
    sort.  Sketch state is K rows regardless of N; at 100 TB the same
    three sketches stream map-side and merge associatively."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("y")
    )
    ids = (
        o.filter(F.col("y").isin(1995, 1996))
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("y") == 1995, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("y") == 1996, 1).otherwise(0)).alias("in_b"),
        )
    )
    hv = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    return kmv_set_stats(ids.select("in_a", "in_b", hv.alias("hv")))


def kmv_set_stats(h: DataFrame) -> DataFrame:
    """KMV estimator core over any (in_a 0/1, in_b 0/1, hv bigint)
    relation of DISTINCT elements: bottom-K sketches for A, B, and the
    union, exact audit sums, and the intersection estimate.
    Property-tested against a pure-Python KMV on hypothesis-generated
    sets (tests/test_properties.py); ``agg_kmv_set_intersect`` wires the
    orders fixture + md5-prefix hash in front of it."""
    ex = h.agg(
        F.sum("in_a").alias("exact_a"),
        F.sum("in_b").alias("exact_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_intersect"),
    )
    ka = (
        h.filter(F.col("in_a") == 1)
        .orderBy("hv")
        .limit(KMV_K)
        .agg(F.max("hv").alias("ha"), F.count(F.lit(1)).alias("ca"))
    )
    kb = (
        h.filter(F.col("in_b") == 1)
        .orderBy("hv")
        .limit(KMV_K)
        .agg(F.max("hv").alias("hb"), F.count(F.lit(1)).alias("cb"))
    )
    ku = (
        h.orderBy("hv")
        .limit(KMV_K)
        .agg(
            F.max("hv").alias("hu"),
            F.count(F.lit(1)).alias("cu"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("kmv_matches"),
        )
    )

    num = F.lit(float(KMV_K - 1)) * F.lit(float(KMV_HASH_SPACE))

    def est(cnt, hk):
        return F.when(
            F.col(cnt) < KMV_K, F.col(cnt).cast("double")
        ).otherwise(num / F.col(hk).cast("double"))

    return (
        ex.crossJoin(ka)
        .crossJoin(kb)
        .crossJoin(ku)
        .select(
            F.lit(KMV_K).cast("int").alias("k"),
            "exact_a",
            "exact_b",
            "exact_intersect",
            est("ca", "ha").alias("est_a"),
            est("cb", "hb").alias("est_b"),
            est("cu", "hu").alias("est_union"),
            "kmv_matches",
            F.when(
                F.col("cu") < KMV_K, F.col("kmv_matches").cast("double")
            )
            .otherwise(
                (F.col("kmv_matches").cast("double") * est("cu", "hu"))
                / F.lit(float(KMV_K))
            )
            .alias("est_intersect"),
        )
    )


# --------------------------------------------------------------------------
# incremental JOIN-view maintenance (the bilinear delta rule)
# --------------------------------------------------------------------------


@query(
    "incremental_join_maintenance",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the bilinear delta rule
    (DBToaster / differential-dataflow style).  For V = A |><| B with
    arrivals dA and dB:

        V_new = A_old |><| B_old           (yesterday's materialized state)
              U A_old |><| dB  U  dA |><| B_old  U  dA |><| dB

    Here A = orders (delta: orders placed on/after 1997-01-01) and B =
    customer (delta: a deterministic tenth of customers, standing in for
    the day's upserted dimension rows).  The maintained view is rolled up
    to (segment, count, integer-cents revenue) and the oracle recomputes
    the same aggregate from the full join — proving delta-rule ==
    recompute, the companion to ``incremental_agg_merge`` (which covers
    the aggregate-only case; this covers the join).

    Scale shape: the three delta terms each scan ONE delta against the
    other side's (broadcastable or bucketed) relation — O(|delta|) work
    per refresh, never O(history); the A_old |><| B_old term is the
    previously materialized state, recomputed in-plan here only because
    the fixture has no cross-run storage (documented, same posture as
    incremental_agg_merge).  NULL join keys can't drop rows silently:
    custkey is non-null in both fixtures and an inner join discards them
    identically in both engines anyway."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", cents.alias("cents")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp")
    # NULL routing (incremental_agg_merge's lesson): a bare >=/< pair drops
    # NULL dates from BOTH partitions; unknown-date rows belong to the
    # immutable history, never the refresh delta
    a_is_old = (F.col("o_orderdate") < cutoff) | F.col("o_orderdate").isNull()
    b_is_delta = F.col("c_custkey") % 10 == 0

    a_old, a_new = orders.filter(a_is_old), orders.filter(~a_is_old)
    b_old, b_new = cust.filter(~b_is_delta), cust.filter(b_is_delta)

    v = bilinear_join_view(
        a_old, a_new, b_old, b_new,
        on=(F.col("o_custkey") == F.col("c_custkey")),
        cols=["c_mktsegment", "cents"],
    )
    return v.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )


def bilinear_join_view(
    a_old: DataFrame,
    a_new: DataFrame,
    b_old: DataFrame,
    b_new: DataFrame,
    on,
    cols: list[str],
) -> DataFrame:
    """The bilinear delta rule itself: (A_old U dA) |><| (B_old U dB)
    expanded into four join terms and unioned.  Sound ONLY when
    (a_old, a_new) and (b_old, b_new) each PARTITION their input.
    Property-tested against the plain join on hypothesis-generated
    tables with arbitrary partition predicates
    (tests/test_properties.py)."""

    def term(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, on).select(*cols)

    return (
        term(a_old, b_old)                 # materialized state
        .unionByName(term(a_old, b_new))   # A_old |><| dB
        .unionByName(term(a_new, b_old))   # dA |><| B_old
        .unionByName(term(a_new, b_new))   # dA |><| dB
    )


# --------------------------------------------------------------------------
# privacy: k-anonymity / l-diversity audit over quasi-identifiers
# --------------------------------------------------------------------------

KANON_K = 10  # the disclosure-risk threshold the audit reports against


@query(
    "dq_k_anonymity",
    oracle=f"""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS m
      FROM customer GROUP BY 1, 2),
    ka AS (
      SELECT CAST(SUM(m) AS BIGINT) AS n_customers,
             CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(MIN(m) AS BIGINT) AS k_anonymity,
             CAST(SUM(CASE WHEN m < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_k,
             CAST(COALESCE(SUM(CASE WHEN m < {KANON_K} THEN m END), 0)
                  AS BIGINT) AS rows_below_k
      FROM cls),
    ld AS (
      SELECT CAST(MIN(l) AS BIGINT) AS l_diversity FROM (
        SELECT c.c_nationkey, c.c_mktsegment,
               COUNT(DISTINCT o.o_orderpriority) AS l
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2) t)
    SELECT n_customers, n_classes, k_anonymity, classes_below_k,
           rows_below_k,
           CAST(rows_below_k * 1000000 // n_customers AS BIGINT)
             AS suppression_ppm,
           l_diversity
    FROM ka, ld
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit of the customer table under the quasi-identifier set
    (nation, market segment): k-anonymity = the smallest equivalence
    class (an attacker knowing only the QIs can narrow any customer to
    at least k records), the number/row-mass of classes below the
    KANON_K threshold (what a suppress-below-k release would drop, in
    ppm), and l-diversity of the order-priority sensitive attribute
    within classes (a k-anonymous class is still disclosive if everyone
    in it shares the sensitive value).  The governance gate a
    training-data pipeline runs before releasing joined user data —
    complementing the dq family's uniqueness/completeness audits with
    the disclosure-risk axis.

    All-integer counting (exact distinct per class), so cross-engine
    exact.  One QI-keyed aggregate over each side: class count is
    bounded by the QI domain, the distinct-agg is the same Expand shape
    as dq_uniqueness_audit.  l-diversity is measured over classes that
    HAVE orders (inner join) — an empty class has no sensitive values
    to diversify; k-anonymity counts every class."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cls = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("m")
    )
    ka = cls.agg(
        F.sum("m").alias("n_customers"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("m").alias("k_anonymity"),
        F.sum(F.when(F.col("m") < KANON_K, 1).otherwise(0)).alias(
            "classes_below_k"
        ),
        F.coalesce(
            F.sum(F.when(F.col("m") < KANON_K, F.col("m"))), F.lit(0)
        ).alias("rows_below_k"),
    )
    ld = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count_distinct("o_orderpriority").alias("l"))
        .agg(F.min("l").alias("l_diversity"))
    )
    return ka.crossJoin(ld).select(
        "n_customers",
        "n_classes",
        "k_anonymity",
        "classes_below_k",
        "rows_below_k",
        F.expr("rows_below_k * 1000000 div n_customers").alias(
            "suppression_ppm"
        ),
        "l_diversity",
    )


# --------------------------------------------------------------------------
# portable HyperLogLog — the from-scratch, fully oracle-adjudicated sketch
# --------------------------------------------------------------------------

import math as _math

HLL_P = 6                     # 2^6 = 64 registers
HLL_M = 1 << HLL_P
HLL_REST_BITS = 42            # 48-bit md5 prefix = 6 bucket + 42 rho bits
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # the standard alpha_64
# integer numerator alpha * m^2 * 2^50 — ONE Python-time constant baked
# into both engines' expressions, so no float constant-folding differs
HLL_A_NUM = round(_HLL_ALPHA * HLL_M * HLL_M * (1 << 50))
# linear-counting table m*ln(m/V) in micro-units, V = 1..m — libm runs at
# CODEGEN time only (the NDCG precomputed-log2 precedent); both engines
# look the SAME integers up
HLL_LC_X1E6 = tuple(
    round(HLL_M * _math.log(HLL_M / v) * 1_000_000) for v in range(1, HLL_M + 1)
)
HLL_SMALL_RANGE_X1E6 = 2_500_000 * HLL_M  # 2.5*m threshold in micro-units


def _hll_oracle() -> str:
    lc = ", ".join(str(x) for x in HLL_LC_X1E6)
    return f"""
    WITH h AS (
      SELECT o_orderstatus AS status,
             CAST(month(o_orderdate) AS INT) AS part,
             ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT
               AS h48,
             o_custkey
      FROM orders),
    rho AS (
      SELECT status, part,
             h48 // {1 << HLL_REST_BITS} AS bucket,
             CASE WHEN h48 % {1 << HLL_REST_BITS} = 0
                  THEN {HLL_REST_BITS + 1}
                  ELSE {HLL_REST_BITS + 1}
                       - length(bin(h48 % {1 << HLL_REST_BITS})) END AS r
      FROM h),
    partial AS (
      SELECT status, part, bucket, MAX(r) AS m FROM rho GROUP BY 1, 2, 3),
    reg AS (
      SELECT status, bucket, MAX(m) AS m FROM partial GROUP BY 1, 2),
    per AS (
      SELECT status,
             CAST(COUNT(*) AS BIGINT) AS n_set,
             CAST({HLL_M} - COUNT(*) AS BIGINT) AS v_zero,
             CAST(SUM(1::BIGINT << (50 - m))
                  + ({HLL_M} - COUNT(*)) * {1 << 50} AS BIGINT) AS s
      FROM reg GROUP BY 1),
    est AS (
      SELECT status, n_set, v_zero, s,
             CAST(floor(CAST({HLL_A_NUM} AS DOUBLE) / CAST(s AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS raw_x1e6
      FROM per),
    fin AS (
      SELECT status, n_set, v_zero, s,
             CASE WHEN raw_x1e6 <= {HLL_SMALL_RANGE_X1E6} AND v_zero > 0
                  THEN ([{lc}])[v_zero]
                  ELSE raw_x1e6 END AS estimate_x1e6
      FROM est),
    ex AS (
      SELECT o_orderstatus AS status,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
      FROM orders GROUP BY 1)
    SELECT f.status, f.n_set, f.v_zero, f.s AS s_scaled,
           CAST(f.estimate_x1e6 AS BIGINT) AS estimate_x1e6,
           ex.n_exact,
           CAST(abs(f.estimate_x1e6 - ex.n_exact * 1000000)
                // ex.n_exact AS BIGINT) AS err_ppm
    FROM fin f JOIN ex USING (status)
    """


@query("agg_hll_portable_estimate", oracle=_hll_oracle())
def agg_hll_portable_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog from scratch, fully oracle-adjudicated — the portable
    sibling of ``agg_hll_sketch_union`` (whose DataSketches binaries are
    engine-specific, so it could only ever be rows-only checked).  Every
    stage is engine-portable integer arithmetic:

    * **hash** — 48-bit md5 prefix of the value (the md5-nibble +
      from_hex split keeps everything in BIGINT on both engines);
      top 6 bits pick one of 64 registers, the remaining 42 carry rho =
      leading-zero count + 1 via the bin()-length idiom;
    * **registers** — MAX(rho) per bucket, built per (status, month)
      then MERGED with a second MAX: the mergeability that makes sketch
      columns materializable in rollup tables is the associativity of
      MAX, exercised structurally in the plan;
    * **harmonic sum** — Σ 2^(−M_j) integerized as Σ 2^(50−M_j) (rho <=
      43, so every term is an exact int64 and the sum is
      order-independent — no float accumulation crosses the shuffle);
    * **estimate** — alpha·m²/S with alpha·m²·2^50 baked as ONE
      Python-time integer constant; the only float op is a single
      division of identical operands, floored to micro-units;
    * **small-range correction** — linear counting m·ln(m/V) via 64
      PRECOMPUTED micro-nat integers (libm runs at codegen time only,
      the NDCG log2-table precedent), selected by the same branch
      predicate in both engines.

    Output per order status: registers set, zero registers, the scaled
    harmonic sum, the estimate in micro-units, the exact distinct count
    (audit), and the error in ppm — bounded by the standard 1.04/√64 ≈
    13 % in expectation (asserted with slack in the round-10 tests).

    Scale shape: two hash aggregates (partial registers, then the merge)
    over constant 64-register state per group — the sketch property; the
    exact audit column is the only data-sized distinct and exists to
    grade the estimator."""
    o = load_table(spark, sf_dir, "orders")
    md5s = F.md5(F.col("o_custkey").cast("string").cast("binary"))
    h48 = F.conv(F.substring(md5s, 1, 12), 16, 10).cast("long")
    rest = F.pmod(h48, F.lit(1 << HLL_REST_BITS))
    rho = F.when(rest == 0, F.lit(HLL_REST_BITS + 1)).otherwise(
        F.lit(HLL_REST_BITS + 1) - (F.length(F.bin(rest)) - 1) - 1
    )
    hashed = o.select(
        F.col("o_orderstatus").alias("status"),
        F.month("o_orderdate").cast("int").alias("part"),
        (h48 / F.lit(1 << HLL_REST_BITS)).cast("long").alias("bucket"),
        rho.alias("r"),
    )
    partial = hashed.groupBy("status", "part", "bucket").agg(
        F.max("r").alias("m")
    )
    reg = partial.groupBy("status", "bucket").agg(F.max("m").alias("m"))
    per = reg.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_set"),
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("long").alias("v_zero"),
        (
            F.sum(F.expr("shiftleft(1L, 50 - m)"))
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << 50)
        )
        .cast("long")
        .alias("s"),
    )
    raw = F.floor(
        F.lit(float(HLL_A_NUM)) / F.col("s").cast("double") * F.lit(1e6)
    ).cast("long")
    lc_arr = F.array(*[F.lit(x).cast("long") for x in HLL_LC_X1E6])
    est = per.select(
        "status",
        F.col("n_set").cast("long").alias("n_set"),
        "v_zero",
        F.col("s").alias("s_scaled"),
        F.when(
            (raw <= HLL_SMALL_RANGE_X1E6) & (F.col("v_zero") > 0),
            F.element_at(lc_arr, F.col("v_zero").cast("int")),
        )
        .otherwise(raw)
        .alias("estimate_x1e6"),
    )
    ex = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact")
    )
    return est.join(ex, "status").select(
        "status",
        "n_set",
        "v_zero",
        "s_scaled",
        "estimate_x1e6",
        "n_exact",
        F.expr(
            "abs(estimate_x1e6 - n_exact * 1000000) div n_exact"
        ).alias("err_ppm"),
    )
