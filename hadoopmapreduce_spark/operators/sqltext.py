"""[GEN] SQL-text interface: the engine's ``spark.sql`` surface as a
first-class registered query.

Every other query in the registry declares its plan through the DataFrame
API; a user of the reference switching to this engine also gets plain SQL
over the catalog (``register_views`` publishes the fixture tables a text
reads as temp views; ``python -m hadoopmapreduce_spark run`` executes
either form).
This module pins that surface with queries whose Spark SQL string IS the
oracle string — one text, two engines — restricted to the shared
ANSI dialect both Spark and DuckDB parse identically (typed DATE literals,
explicit DECIMAL casts for every float aggregate, CAST(COUNT AS BIGINT)).

Reference parity: the reference has no SQL layer at all (ClickThru.java is
the whole program); SURVEY.md §2.1 derives its semantics as a SQL query —
``sql_shared_ctr`` runs exactly that derived statement as text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoopmapreduce_spark.catalog import register_views
from hadoopmapreduce_spark.registry import query

# one string, two engines — the shared-dialect discipline is the point
SHARED_REVENUE_SQL = """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= DATE '1995-01-01'
  AND o.o_orderdate < DATE '1996-01-01'
GROUP BY n.n_name
"""

SHARED_CTR_SQL = """
SELECT e.props AS referrer_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(SUM(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converted
FROM events e
LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
WHERE e.event_type = 'view'
GROUP BY e.props
"""


@query("sql_shared_revenue", oracle=SHARED_REVENUE_SQL)
def sql_shared_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1995 revenue per nation, executed from SQL TEXT via ``spark.sql``
    over the registered catalog views — the identical string runs as the
    DuckDB oracle, so the check covers the SQL parser/analyzer surface, not
    just the DataFrame layer.  Catalyst plans text and DataFrame forms into
    the same physical tree (broadcast dims, partial aggs); nothing
    perf-relevant changes at any scale."""
    register_views(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(SHARED_REVENUE_SQL)


@query("sql_shared_ctr", oracle=SHARED_CTR_SQL)
def sql_shared_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CTR semantics (SURVEY.md §2.1: existence join +
    DISTINCT + grouped flag count, ClickThru.java:130-151) as one shared
    SQL text over the events fixture — view events joined against the
    distinct set of converting users.  The DISTINCT subquery is
    load-bearing exactly as in the reference (N purchases count once)."""
    register_views(spark, sf_dir, "events")
    return spark.sql(SHARED_CTR_SQL)


# Correlated scalar subqueries + EXISTS, one text for both engines.  The
# above-own-average comparison is done in the exact rational domain
# (price·count > sum) so no engine-specific AVG result type can flip a
# boundary tie.
SHARED_CORRELATED_SQL = """
SELECT c.c_custkey AS custkey,
       CAST((SELECT COUNT(*)
             FROM orders o
             JOIN (SELECT o_custkey,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                               AS DECIMAL(38,2)) AS s
                   FROM orders GROUP BY o_custkey) t
               ON t.o_custkey = o.o_custkey
             WHERE o.o_custkey = c.c_custkey
               AND CAST(o.o_totalprice AS DECIMAL(18,2)) * t.n > t.s)
            AS BIGINT) AS n_above_own_avg
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o4 WHERE o4.o_custkey = c.c_custkey)
"""


@query("sql_shared_correlated", oracle=SHARED_CORRELATED_SQL)
def sql_shared_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery surface: per customer (restricted by a
    correlated EXISTS), how many of their own orders beat their own
    average order value — a correlated scalar COUNT subquery (carrying an
    uncorrelated aggregate join, in the exact rational domain price·n > Σ
    so no AVG result type can flip a tie) plus a correlated EXISTS, which
    Catalyst must DECORRELATE into aggregate-then-join / left-semi plans
    (RewriteCorrelatedScalarSubquery; depth-1 correlation only — Spark
    rejects outer references through two subquery levels, which is itself
    a pinned dialect boundary).  The identical text runs on DuckDB, whose
    subquery unnesting is an independent implementation of the same
    transformation — the check pins the semantics of the rewrite, not
    either engine's plan.  Decorrelated, this is two shuffles on custkey
    at any scale; the naive per-row evaluation it replaces is quadratic."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(SHARED_CORRELATED_SQL)


# GROUPING SETS — the arbitrary-combination sibling of agg_cube_grouping_id
# (cube) and ts_rollup_time_hierarchy (rollup).  The shared ANSI surface:
# both engines expand each set through one Expand-style pass, and
# GROUPING(col) disambiguates "NULL because rolled up" from data NULLs.
SHARED_GROUPING_SETS_SQL = """
SELECT n.n_name AS nation,
       o.o_orderpriority AS priority,
       GROUPING(n.n_name) AS g_nation,
       GROUPING(o.o_orderpriority) AS g_priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY GROUPING SETS ((n.n_name), (o.o_orderpriority), ())
"""


@query("sql_shared_grouping_sets", oracle=SHARED_GROUPING_SETS_SQL)
def sql_shared_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with explicit set list — the arbitrary-combination
    member of the multi-level aggregation family (cube:
    agg_cube_grouping_id; rollup: ts_rollup_time_hierarchy; THIS: the
    hand-picked sets a reporting layer actually asks for — per-nation,
    per-priority, and grand total, WITHOUT the nation×priority cross
    level cube would add).  GROUPING() flags distinguish rolled-up NULLs
    from data NULLs, which is what makes the result joinable/cacheable
    downstream.

    One shared ANSI text for both engines.  Plan: Spark expands the three
    sets through one Expand node feeding a single partial+final hash
    aggregate — one fact scan for all levels, the same 100 TB shape as
    the rollup queries (x3 expansion rows, each narrower than the
    input)."""
    register_views(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(SHARED_GROUPING_SETS_SQL)


# LATERAL correlated subquery — the "top-N per row of the outer table"
# idiom.  Exercises Catalyst's LateralJoin/DecorrelateInnerQuery surface
# (a different code path from window-function top-k) against DuckDB's
# lateral unnesting.  Dialect notes: both engines require the LATERAL
# keyword here and accept a correlated ORDER BY ... LIMIT inside it; the
# tie-break on o_orderkey makes the selected row unique so the engines
# cannot legally differ.
SHARED_LATERAL_SQL = """
SELECT r.r_name AS region,
       big.o_orderkey AS top_orderkey,
       CAST(big.o_totalprice AS DOUBLE) AS top_price
FROM region r,
LATERAL (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 1
) big
"""


@query("sql_shared_lateral", oracle=SHARED_LATERAL_SQL)
def sql_shared_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — top order per region written the way
    an analyst writes it (a per-row subquery with ORDER BY/LIMIT), not as
    a window function.  One shared text: Spark 4 decorrelates the lateral
    into a ranked join (DecorrelateInnerQuery), DuckDB executes it as
    lateral unnesting — the check proves the two rewrites select the same
    rows, which only holds because the inner ORDER BY is a total order.

    Scale note: after decorrelation this is the window-top-1 plan
    (rank-over-region + filter), NOT an N-per-outer-row rescan — the
    5-row outer table makes that visible in PLANS.md; with a large outer
    table the same rewrite keeps it a single joined pass."""
    register_views(spark, sf_dir, "region", "orders", "customer", "nation")
    return spark.sql(SHARED_LATERAL_SQL)
