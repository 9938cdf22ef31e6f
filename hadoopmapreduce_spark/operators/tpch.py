"""[GEN] Classic multi-join analytics (TPC-H Q3/Q5 shapes) — the deep join
trees the reference's single reduce-side join generalizes into.

These are the headline plans for scale review: Catalyst orders the joins,
dims broadcast, facts shuffle on join keys once each, and revenue sums run
in the exact decimal domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import load_table, materialize
from hadoopmapreduce_spark.functions.numeric import sql_dsum
from hadoopmapreduce_spark.registry import query


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1999-03-15 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    grouped revenue, top-10.  Both filters push into their scans before the
    joins; the final top-k is a bounded heap."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-03-15 00:00:00").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join with a local-supplier (customer and
    supplier share a nation) condition.  nation/region broadcast; the
    customer⇄supplier nation equality is a post-join filter Catalyst pushes
    into the join condition."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned items.
    Fact-fact join shuffles once per key; nation broadcasts; the returnflag
    filter pushes to the lineitem scan; the top-20 is
    TakeOrderedAndProject (bounded heaps per partition, no global sort).
    Revenue ties break on custkey so the LIMIT selection is deterministic."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


Q18_QTY_THRESHOLD = 300


@query(
    "q18_large_volume_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_QTY_THRESHOLD})
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_totalprice AS totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN big        ON big.l_orderkey = o.o_orderkey
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate (orders whose total
    quantity exceeds a threshold) semi-joined back into a customer/order
    detail aggregate.  The `big` subquery is a partial+final aggregate whose
    output is small enough to broadcast into the main join — the
    aggregate-then-semi-join pattern that avoids carrying the full lineitem
    through the wide join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > Q18_QTY_THRESHOLD)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(big), li.l_orderkey == big.l_orderkey)
        .groupBy(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"))
    )

@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice * l_discount', 6)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, no join.  All three
    predicates push to the parquet scan (min/max row-group pruning at scale)
    and the global sum is a partial+final aggregate — the cheapest possible
    full-table query, the yardstick for scan throughput."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
       OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}')
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair trade volume by year.  The two nation
    dims broadcast with their name filters applied BEFORE the join (each
    side keeps only the two relevant nations, so the fact rows that survive
    the supplier/customer joins are already nation-pruned); the disjunctive
    pair condition is a cheap post-join filter on two broadcast columns."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    )
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B))
            | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"))
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: the synthetic schema has no l_shipmode, so
    l_linestatus plays the mode column and "late" is shipdate more than 60
    days past the order date).  Conditional counts split one pass over the
    joined facts into high/low priority tallies — map-side partial
    aggregation keeps the shuffle at |linestatus| rows per task.

    Oracle-side SUM(CASE) yields HUGEINT in DuckDB → CAST AS BIGINT
    (CORRECTNESS_r01 failure pattern, now standard in every oracle)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1) counts
    GROUP BY 1
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customers-per-order-count histogram.  LEFT join so
    order-less customers survive with c_count=0; the join-side predicate
    lives in the JOIN condition (not WHERE) to preserve them.  Two
    aggregations: the first shuffles on custkey, the second on the tiny
    c_count domain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q14_promo_effect",
    oracle=f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share in one month.  part broadcasts
    into the month-pruned lineitem scan; both sums run in the exact decimal
    domain so the final double division is bit-stable cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        (
            F.lit(100.0)
            * F.sum(promo_rev.cast("decimal(18,4)")).cast("double")
            / F.sum(rev.cast("decimal(18,4)")).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY 1)
    SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.
    The scalar-subquery MAX becomes an unpartitioned window max over the
    per-supplier aggregate (|suppliers| rows — tiny after the first
    aggregation), avoiding a second scan of lineitem; revenue is decimal-
    exact so the equality against the max is safe cross-engine."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("total_revenue")
        )
        .withColumn(
            "max_rev",
            F.max("total_revenue").over(Window.partitionBy(F.lit(1))),
        )
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .drop("max_rev")
    )
    s = load_table(spark, sf_dir, "supplier")
    return revenue.join(F.broadcast(s), revenue.supplier_no == s.s_suppkey).select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_name").alias("name"),
        "total_revenue",
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / COUNT(l_quantity)) AS qty_threshold
      FROM lineitem GROUP BY 1) t
      ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'
      AND l.l_quantity < t.qty_threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand.
    The correlated AVG subquery decorrelates into a per-part aggregate
    (|parts| rows) that broadcasts back into the brand-filtered fact join —
    one lineitem shuffle on partkey for the aggregate, zero for the probe
    (both the part dim and the threshold table broadcast).  The threshold
    (0.2 × decimal-exact mean) and the comparison are bit-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("l_quantity")
            )
        ).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(thresholds), li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.  Catalyst
    extracts the common-prefix predicates it can (brand/size conjuncts
    involving only `part` push to the broadcast side's scan via an OR'd
    filter) and evaluates the residual disjunction post-join — the classic
    test that disjunctions don't force a cartesian plan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(rev.cast("decimal(18,4)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q22_INACTIVE_CUTOFF = "2000-01-01"  # lapsed = no orders on/after this date


@query(
    "q22_sales_opportunity",
    oracle=f"""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(c_acctbal) AS v
      FROM customer WHERE c_acctbal > 0.0)
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (SELECT v FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '{Q22_INACTIVE_CUTOFF} 00:00:00')
    GROUP BY 1
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: nations stand in for phone country codes;
    "inactive" means no orders on/after Q22_INACTIVE_CUTOFF, because the
    synthetic generator gives every customer at least one lifetime order —
    the textbook "no orders at all" predicate is vacuously empty here).
    Rich-but-lapsed customers: acctbal above the global positive mean
    (scalar subquery → one-row broadcast cross join) and no recent orders
    (LEFT ANTI join against the date-filtered orders fact — the date filter
    pushes down to the scan, then the anti join is the one shuffle; the
    scalar and nation sides broadcast).  The mean is decimal-exact so the
    > comparison can't flip cross-engine."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(f"{Q22_INACTIVE_CUTOFF} 00:00:00").cast("timestamp")
    )
    n = load_table(spark, sf_dir, "nation")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count("c_acctbal")
            ).alias("avg_bal")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


Q2_REGION = "EUROPE"
Q2_SIZE = 15
Q2_TYPE = "STANDARD"


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2),
    eligible AS (
      SELECT c.l_partkey, c.unit_cost, s.s_acctbal, s.s_name, n.n_name
      FROM cost c
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = '{Q2_REGION}')
    SELECT e.s_acctbal AS acctbal, e.s_name AS name, e.n_name AS nation,
           p.p_partkey AS partkey, e.unit_cost AS unit_cost
    FROM eligible e
    JOIN part p ON p.p_partkey = e.l_partkey
    WHERE p.p_size = {Q2_SIZE} AND p.p_type = '{Q2_TYPE}'
      AND e.unit_cost = (SELECT MIN(e2.unit_cost) FROM eligible e2
                         WHERE e2.l_partkey = e.l_partkey)
    ORDER BY acctbal DESC, name, partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp table, so the observed minimum
    unit price MIN(l_extendedprice/l_quantity) per (part, supplier) plays
    ps_supplycost).  For each size-15 STANDARD part, the cheapest
    {Q2_REGION} supplier — the classic correlated-MIN subquery.

    Decorrelation: the per-(part,supplier) MIN is one lineitem shuffle on
    (partkey, suppkey); the correlated "= MIN per part" becomes a window
    MIN over partkey on the already-aggregated (small) table — no second
    fact-table pass, unlike a naive rewrite that re-joins lineitem.  The
    supplier⋈nation⋈region chain and the filtered part dim all broadcast.
    Unit cost is a per-row IEEE division and MIN is exact, so the equality
    filter cannot flip cross-engine."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE)
    )
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eligible = cost.join(F.broadcast(supp), cost.l_suppkey == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    return (
        eligible.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            F.col("s_acctbal").alias("acctbal"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("nation"),
            F.col("p_partkey").alias("partkey"),
            "unit_cost",
        )
        .orderBy(F.desc("acctbal"), "name", "partkey")
        .limit(100)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: "late" = shipped >60 days after the order
    date, standing in for commitdate < receiptdate).  The EXISTS becomes a
    LEFT SEMI join: orders keep their multiplicity (an order with five late
    lines counts once), the date window pushes to the orders scan before
    the join, and the residual shipdate-vs-orderdate comparison rides on
    the equi-join — no second aggregation to deduplicate, no fact×fact
    blow-up."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > F.date_add(o.o_orderdate, 60)),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q8_REGION = "AMERICA"
Q8_TYPE = "ECONOMY"
Q8_NATION = "NATION_5"


@query(
    "q8_market_share",
    oracle=f"""
    WITH flat AS (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = '{Q8_REGION}' AND p.p_type = '{Q8_TYPE}'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
    SELECT CAST(o_year AS INT) AS o_year,
           CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                         THEN CAST(volume AS DECIMAL(18,4))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
    FROM flat GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: {Q8_NATION}'s share of {Q8_TYPE}-part revenue sold
    into {Q8_REGION} customers, by order year.  The widest join tree in the
    suite (7 tables, lineitem joined through both its supplier and its
    order→customer→nation→region lineage); every dimension broadcasts, so
    lineitem is shuffled only by the orders join — and with AQE that too
    can turn into a broadcast at small SF.  Share = conditional decimal
    sum / total decimal sum, a bit-stable double division."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == Q8_NATION, volume).otherwise(
                        F.lit(0).cast("decimal(18,4)")
                    )
                ).cast("double")
                / F.sum(volume).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity')} AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp, so supply cost is modeled as
    10% of p_retailprice per unit).  Profit on 'red' parts by supplier
    nation and order year.  The p_name LIKE filter prunes the part dim
    before broadcast; lineitem shuffles once for the orders join and once
    for the final (nation, year) aggregate — the second is 25×|years| rows
    thanks to map-side partial aggregation.  The profit expression is
    per-row IEEE arithmetic in the same association order in both engines,
    then decimal-summed."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit.cast("decimal(18,4)")).cast("double").alias("profit"))
    )


Q11_NATION = "NATION_7"
Q11_FRACTION = 0.001


@query(
    "q11_important_stock",
    oracle=f"""
    WITH value_by_part AS (
      SELECT l.l_partkey AS partkey,
             CAST(SUM(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(18,4)))
                  AS DOUBLE) AS value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = '{Q11_NATION}'
      GROUP BY 1)
    SELECT partkey, value
    FROM value_by_part
    WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                          * {Q11_FRACTION}
                   FROM value_by_part)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: "stock value" of a part held by
    {Q11_NATION} suppliers = decimal-exact SUM(extendedprice × quantity)
    over their lineitems).  Parts whose value exceeds {Q11_FRACTION} of the
    nation's total — the HAVING-with-global-scalar-subquery pattern.

    The per-part aggregate is materialized ONCE (``materialize`` of
    the |parts|-row table — executor memory, like dedup_clusters' rounds)
    and reused by both consumers; without the cut Spark plans the scalar
    subquery and the output branch as two independent lineitem scans
    (measured 2× the runtime).  Both sums run in the decimal domain; the
    threshold multiply and the > compare are bit-stable doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    value_by_part = (
        li.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
                li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)"))
            .cast("double")
            .alias("value")
        )
    )
    value_by_part = materialize(value_by_part)
    total = value_by_part.agg(
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") * F.lit(Q11_FRACTION)).alias(
            "threshold"
        )
    )
    return (
        value_by_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("partkey", "value")
    )


@query(
    "q16_supplier_relationship",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#21' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: the excluded-supplier subquery keys on
    negative account balance instead of the absent comment column).  How
    many distinct suppliers serve each surviving (brand, type, size)
    combination.

    The NOT IN subquery is safe to rewrite as a LEFT ANTI join because
    s_suppkey is non-null (NOT IN's null-poisoning semantics can't fire);
    the excluded set is tiny and broadcasts.  COUNT(DISTINCT) expands into
    Spark's two-phase distinct aggregate — partial dedup of (group, supp)
    pairs map-side, so the shuffle carries pairs, not raw lines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#21")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


Q20_NATION = "NATION_3"
Q20_QTY = 100


@query(
    "q20_part_promotion",
    oracle=f"""
    SELECT s.s_name AS name, s.s_acctbal AS acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = '{Q20_NATION}'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE '%red%')
          AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > {Q20_QTY})
    ORDER BY name
    """,
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: "shipped more than {Q20_QTY} units of
    red parts in 1997" stands in for the availqty-vs-half-of-sold stock
    check).  Nested IN subqueries: part-name filter → lineitem
    qualification → supplier qualification.

    Both INs become LEFT SEMI joins.  Inner: lineitem semi-joins the
    broadcast red-part keys (no row explosion — semi keeps lineitem
    multiplicity for the quantity sum).  Outer: the HAVING-filtered
    supplier keys are a ≤|suppliers| row set that broadcasts back against
    the nation-filtered supplier dim.  One lineitem shuffle total (the
    per-supplier aggregate)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    red_parts = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q20_NATION)
    qualified = (
        li.join(F.broadcast(red_parts), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > Q20_QTY)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(qualified), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select(F.col("s_name").alias("name"), F.col("s_acctbal").alias("acctbal"))
        .orderBy("name")
    )


Q21_NATION = "NATION_4"


@query(
    "q21_suppliers_kept_waiting",
    oracle=f"""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    SELECT s.s_name AS name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = '{Q21_NATION}'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1
    ORDER BY numwait DESC, name
    LIMIT 50
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: "late" = shipped >60 days after the order
    date on a finalized order).  Suppliers from {Q21_NATION} who were the
    SOLE late supplier on a multi-supplier order — the EXISTS + NOT EXISTS
    pair over the same fact.

    Plan: the late-line set is computed once (orders join with both filters
    pushed down) and reused for the probe side AND the NOT EXISTS side
    (self-referencing anti join on alias).  EXISTS(other supplier) is a
    LEFT SEMI on orderkey with a suppkey<> residual; NOT EXISTS(other late
    supplier) is a LEFT ANTI with the same shape — each late l1 row is
    kept at its own multiplicity, exactly the per-row semantics of the
    correlated original.  Three shuffles on orderkey total, all
    co-partitioned, so AQE can chain them without re-exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q21_NATION)
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    return (
        l1.join(
            F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
            F.col("l1.l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "name")
        .limit(50)
    )


_SPINE_SQL = """
    WITH RECURSIVE spine(month_start) AS (
      SELECT CAST('1996-01-01' AS DATE)
      UNION ALL
      SELECT CAST(month_start + INTERVAL 1 MONTH AS DATE) FROM spine
      WHERE month_start < CAST('1997-12-01' AS DATE)
    ),
    monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1
    )
    SELECT s.month_start,
           COALESCE(m.n_orders, 0) AS n_orders,
           COALESCE(m.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN monthly m ON s.month_start = m.month_start
"""


@query("recursive_date_spine", oracle=_SPINE_SQL)
def recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled monthly time series via a RECURSIVE CTE (Spark 4 finally
    supports WITH RECURSIVE): generate the 24-month spine recursively,
    left-join the monthly revenue aggregate, fill gaps with zero — the
    sparse→dense densification every dashboard needs, and the ONE query
    whose Spark SQL text and DuckDB oracle are byte-identical.

    Scale: the recursion generates 24 rows (bounded, driver-light — each
    step is a one-row union); the heavy side is the orders aggregate,
    which is an ordinary pushed-down scan + 24-group hash agg that the
    spine then broadcasts against.  For long spines (days over decades),
    ``sequence()`` + explode is the constant-step alternative — the
    recursive form is kept deliberately for SQL-portability parity."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SPINE_SQL)
