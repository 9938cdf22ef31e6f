"""[EXT] Time-series operators: gap filling and resampling.

The reference's data model is event logs keyed by (user, timestamp)
(``ClickThru.java:24-31`` parses per-user impression/click times); these
operators are the time-series queries a user of that pipeline asks next —
regularize an irregular event stream onto a fixed grid (gap-fill) and
downsample it into OHLC bars (resample).

Scale notes
-----------
* ``ts_gapfill_locf``: the spine explode is per-user and bounded by the
  user's own active span, so output size is O(users × span-days) and every
  shuffle (daily agg, spine join, LOCF window) keys on ``user_id`` — one
  partitioning reused end-to-end, AQE coalesces the exchanges.
* ``ts_resample_ohlc``: one shuffle on the (series, bucket) grain; the
  open/close row_numbers and the min/max/sum aggregate share it.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import load_table, materialize
from hadoopmapreduce_spark.functions.numeric import dsum, sql_dsum
from hadoopmapreduce_spark.registry import query


@query(
    "ts_gapfill_locf",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             {daily_sum} AS day_value
      FROM events GROUP BY 1, 2),
    spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM spans)
    SELECT sp.user_id, sp.day,
           LAST_VALUE(d.day_value IGNORE NULLS) OVER (
             PARTITION BY sp.user_id ORDER BY sp.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           CAST(d.day_value IS NULL AS INT) AS is_gap
    FROM spine sp LEFT JOIN daily d
      ON d.user_id = sp.user_id AND d.day = sp.day
    """.format(daily_sum=sql_dsum("value", 6)),
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's event stream onto a daily grid: aggregate
    value per (user, day), explode the user's min→max day span into a dense
    spine, and fill missing days by carrying the last observation forward.

    The first spine day is always observed (the span starts at the user's
    first event), so LOCF never reads before the window start and
    ``filled_value`` is never null.  Day sums run in the exact decimal
    domain so the carried values hash identically across engines."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        dsum("value", 6).alias("day_value")
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("day_value").isNull().cast("int").alias("is_gap"),
    )


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH x AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket_hour,
             value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
               ORDER BY ts ASC, event_id ASC) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT event_type, bucket_hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {vol} AS total_value
    FROM x GROUP BY 1, 2
    """.format(vol=sql_dsum("value", 6)),
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to hourly OHLC bars per event type:
    open/close are the first/last value in the bucket with an explicit
    (ts, event_id) tie-break, high/low are min/max, plus count and an exact
    decimal-domain volume sum.

    One shuffle on (event_type, hour): the two row_number windows and the
    final aggregate all key on the same grain, so Spark reuses the sort and
    exchange across them."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
        "value",
        "ts",
        "event_id",
    )
    grain = ["event_type", "bucket_hour"]
    w_asc = Window.partitionBy(*grain).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_desc = Window.partitionBy(*grain).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn_a", F.row_number().over(w_asc))
        .withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy(*grain)
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("total_value"),
        )
    )


@query(
    "ts_interpolate_linear",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             {daily_sum} AS day_value
      FROM events GROUP BY 1, 2),
    spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
              FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM spans),
    ctx AS (
      SELECT sp.user_id, sp.day, d.day_value,
             LAST_VALUE(d.day_value IGNORE NULLS) OVER (
               PARTITION BY sp.user_id ORDER BY sp.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
             LAST_VALUE(CASE WHEN d.day_value IS NOT NULL THEN sp.day END
                        IGNORE NULLS) OVER (
               PARTITION BY sp.user_id ORDER BY sp.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
             FIRST_VALUE(d.day_value IGNORE NULLS) OVER (
               PARTITION BY sp.user_id ORDER BY sp.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
             FIRST_VALUE(CASE WHEN d.day_value IS NOT NULL THEN sp.day END
                         IGNORE NULLS) OVER (
               PARTITION BY sp.user_id ORDER BY sp.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
      FROM spine sp LEFT JOIN daily d
        ON d.user_id = sp.user_id AND d.day = sp.day)
    SELECT user_id, day,
           CASE
             WHEN day_value IS NOT NULL THEN day_value
             ELSE prev_val + (next_val - prev_val)
                  * (date_diff('day', prev_day, day)
                     / date_diff('day', prev_day, next_day))
           END AS interp_value,
           CAST(day_value IS NULL AS INT) AS is_gap
    FROM ctx
    """.format(daily_sum=sql_dsum("value", 6)),
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across daily gaps: each missing day gets
    ``prev + (next - prev) * elapsed/gap_span`` between its surrounding
    observations.  The spine spans first→last observation per user, so
    every gap is interior — both neighbors always exist — and the day-ratio
    and arithmetic are written identically in both engines (exact ints into
    one double multiply-add), so values hash-match.

    Same single-key shuffle posture as :func:`ts_gapfill_locf`: daily agg,
    spine join, and all four context windows key on user_id."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        dsum("value", 6).alias("day_value")
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    ctx = (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("prev_val", F.last("day_value", ignorenulls=True).over(back))
        .withColumn("prev_day", F.last(obs_day, ignorenulls=True).over(back))
        .withColumn("next_val", F.first("day_value", ignorenulls=True).over(fwd))
        .withColumn("next_day", F.first(obs_day, ignorenulls=True).over(fwd))
    )
    frac = F.datediff(F.col("day"), F.col("prev_day")) / F.datediff(
        F.col("next_day"), F.col("prev_day")
    )
    return ctx.select(
        "user_id",
        "day",
        F.when(F.col("day_value").isNotNull(), F.col("day_value"))
        .otherwise(
            F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac
        )
        .alias("interp_value"),
        F.col("day_value").isNull().cast("int").alias("is_gap"),
    )


@query(
    "ts_rollup_time_hierarchy",
    oracle="""
    WITH keyed AS (
      SELECT CAST(EXTRACT(year FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS yr,
             CAST(EXTRACT(month FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS mo,
             CAST(EXTRACT(day FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS dy,
             value
      FROM events)
    SELECT yr, mo, dy,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {total} AS total_value,
           CAST(GROUPING(yr) + GROUPING(mo) + GROUPING(dy) AS BIGINT) AS lvl
    FROM keyed
    GROUP BY ROLLUP (yr, mo, dy)
    """.format(total=sql_dsum("value", 6)),
)
def ts_rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: one pass over the event stream
    produces day, month, year, and grand-total aggregates simultaneously
    via ``ROLLUP(year, month, day)`` — the continuous-aggregate shape a
    time-series store materializes per chunk.

    Spark plans a single Expand + partial/final hash aggregate (each input
    row fans to its 4 hierarchy levels map-side, partial sums absorb the
    fan-out before the shuffle); counts and decimal-domain sums make every
    level hash-exact.  ``lvl`` (sum of GROUPING bits) disambiguates a NULL
    rollup level from a genuinely-NULL key, and both engines emit it
    identically."""
    e = load_table(spark, sf_dir, "events")
    yr = F.year("ts").cast("long").alias("yr")
    mo = F.month("ts").cast("long").alias("mo")
    dy = F.dayofmonth("ts").cast("long").alias("dy")
    return (
        e.select(yr, mo, dy, "value")
        .rollup("yr", "mo", "dy")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("total_value"),
            (
                F.grouping("yr") + F.grouping("mo") + F.grouping("dy")
            ).cast("long").alias("lvl"),
        )
        .select("yr", "mo", "dy", "n_events", "total_value", "lvl")
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS m,
             CAST(month(o_orderdate) AS INT) AS moy,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1, 2),
    trended AS (
      SELECT m, moy, rev_cents,
             CASE WHEN COUNT(*) OVER w = 13
                  THEN SUM(rev_cents) OVER w // 13 END AS trend_cents
      FROM monthly
      WINDOW w AS (ORDER BY m ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
    detrended AS (
      SELECT moy, rev_cents - trend_cents AS detr
      FROM trended WHERE trend_cents IS NOT NULL)
    SELECT moy AS month_of_year,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           CAST(floor(SUM(detr) * 1000.0 / COUNT(*)) AS BIGINT)
             AS seasonal_milli_cents
    FROM detrended GROUP BY 1
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue:
    trend = centered 13-month moving mean (complete windows only, exact
    integer cents floor-divided by 13 — positive operands, so Spark's
    trunc-div and DuckDB's floor-div agree), seasonal = per-calendar-month
    mean of the detrended series in milli-cents.

    The seasonal mean divides a possibly-NEGATIVE sum, where trunc-vs-
    floor integer division DIVERGES between engines — so it runs as IEEE
    double division + floor on identical integer operands (bit-identical
    in both engines; operands stay < 2^53 far past sf1).  The trend
    window is a single ordered pass over the ~84-row monthly aggregate —
    window state is month-count-sized, not data-sized, so the global
    window is fine at any SF."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m"),
        F.month("o_orderdate").cast("int").alias("moy"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("m").rowsBetween(-6, 6)
    trended = monthly.select(
        "moy",
        "rev_cents",
        F.when(
            F.count(F.lit(1)).over(w) == 13,
            F.expr("1") * F.sum("rev_cents").over(w),
        ).alias("wsum"),
    ).select(
        "moy",
        (F.col("rev_cents") - F.expr("wsum div 13")).alias("detr"),
    ).filter(F.col("wsum").isNotNull())
    return trended.groupBy(F.col("moy").alias("month_of_year")).agg(
        F.count(F.lit(1)).alias("n_months"),
        F.floor(F.sum("detr") * 1000.0 / F.count(F.lit(1)))
        .cast("long")
        .alias("seasonal_milli_cents"),
    )


@query(
    "ts_linear_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
               AS y_tenk
      FROM events GROUP BY 1, 2),
    centered AS (
      SELECT event_type,
             CAST(x - MIN(x) OVER (PARTITION BY event_type) AS BIGINT) AS x,
             y_tenk
      FROM daily),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y_tenk AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(y_tenk AS HUGEINT))
                  AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
               AS sxx
      FROM centered GROUP BY 1)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                     ELSE CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END
                          * (abs(n * sxy - sx * sy) * 1000000
                             // (n * sxx - sx * sx))
                END AS BIGINT) AS slope_ppm_tenk_per_day
    FROM mom
    """,
)
def ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ordinary-least-squares trend per event type: slope of daily
    total value over time, computed entirely in the integer/decimal domain
    — ``slope = (nΣxy − ΣxΣy) / (nΣxx − (Σx)²)`` with x the day index
    CENTERED on each group's first day and y the daily value total in
    1e-4 units.  The quotient is emitted in ppm with the sign split out,
    because Spark's ``div`` truncates toward zero while DuckDB's ``//``
    floors — on |numerator| both agree.  The moment products run in
    decimal(38,0) (Spark) / HUGEINT (DuckDB): centering keeps x ≤ the
    span in days, so nΣxy ≤ days³·maxdaily ≈ 1e25 at petabyte scale —
    inside both domains, and ANSI mode would THROW rather than corrupt
    past them.  agg_moments is the correlation sibling; this is the
    forecasting primitive (trend per segment) with no float partial-sum
    order dependence anywhere.

    Plan: one groupBy(type, day) partial-agg, a per-type min-window on
    the tiny daily table, one 5-row moment aggregate — linear, two
    shuffles, nothing driver-side."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
        .cast("long")
        .alias("y_tenk")
    )
    centered = daily.select(
        "event_type",
        (F.col("x") - F.min("x").over(Window.partitionBy("event_type")))
        .cast("long")
        .alias("x"),
        "y_tenk",
    )
    d38 = "decimal(38,0)"
    mom = centered.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y_tenk").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y_tenk").cast(d38)).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38)).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return mom.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.when(den == 0, F.lit(0).cast("long"))
        .otherwise(
            F.when(num < 0, -1).otherwise(1).cast("long")
            * F.expr("abs(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)")
        )
        .alias("slope_ppm_tenk_per_day"),
    )


@query(
    "ts_cusum_alerts",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS y_cents
      FROM orders GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(CAST(y_cents AS HUGEINT)) AS HUGEINT) AS total
            FROM daily),
    dev AS (
      SELECT day, y_cents,
             CAST(SUM(CAST(y_cents AS HUGEINT) * n - total)
                  OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS HUGEINT)
               AS s
      FROM daily CROSS JOIN tot),
    refl AS (
      -- min includes the virtual S_0 = 0 (empty prefix): without it the
      -- reflection is wrong whenever the series OPENS above the mean
      SELECT day, y_cents,
             s - LEAST(CAST(0 AS HUGEINT),
                       MIN(s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
               AS cusum_scaled,
             (SELECT total FROM tot) AS total
      FROM dev)
    SELECT day, y_cents,
           CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
           CAST(CASE WHEN cusum_scaled > 5 * total THEN 1 ELSE 0 END
                AS BIGINT) AS alert
    FROM refl
    """,
)
def ts_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection on daily revenue — the SPC /
    monitoring primitive for "did the level shift upward?".  The textbook
    recursion C⁺_t = max(0, C⁺_{t-1} + (x_t − μ)) is NOT a window
    function, but its closed form is: C⁺_t = S_t − min_{0≤i≤t} S_i with
    S the running sum of deviations and S_0 = 0 (the empty prefix —
    dropping it breaks any series that opens above the mean; pinned by a
    crafted-series unit test) — one cumulative-sum window plus one
    running-min window floored at zero, both engines, no recursion.  Everything stays
    rational: deviations are scaled by n (n·x − total avoids the mean
    division), and a day alerts when the reflected sum exceeds 5·total —
    i.e. cumulative excess above the mean worth five average days.

    The ordering window is global BUT the series is calendar-bounded:
    daily rollup rows number |days|, not |orders| — at 100 TB it is still
    a few thousand rows through the single-partition window, after a
    fully parallel groupBy(day).  Overflow bound: |S| ≤ n²·max_daily
    cents; decimal(38,0) (Spark) / HUGEINT (DuckDB) carry it to ~1e31 —
    ANSI throws, never corrupts, past that."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y_cents")
    )
    d38 = "decimal(38,0)"
    # n/total come from an unpartitioned window over the CALENDAR-BOUNDED
    # daily table (a few thousand rows at any SF) instead of a separate
    # agg + cross join, which would re-derive daily and scan orders twice
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dev = daily.withColumn(
        "n", F.count(F.lit(1)).over(w_all).cast(d38)
    ).withColumn(
        "total", F.sum(F.col("y_cents").cast(d38)).over(w_all)
    ).withColumn(
        "s",
        F.sum(F.col("y_cents").cast(d38) * F.col("n") - F.col("total")).over(
            w_cum
        ),
    )
    # the min must include the virtual S_0 = 0 (empty prefix) or the
    # reflection is wrong whenever the series opens above the mean
    refl = dev.withColumn(
        "cusum_scaled",
        F.col("s")
        - F.least(F.lit(0).cast(d38), F.min("s").over(w_cum)),
    )
    return refl.select(
        "day",
        "y_cents",
        F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
        F.when(F.col("cusum_scaled") > 5 * F.col("total"), 1)
        .otherwise(0)
        .cast("long")
        .alias("alert"),
    )


@query(
    "ts_weekday_profile",
    oracle="""
    WITH d AS (
      SELECT (datediff('day', DATE '1970-01-05', o_orderdate) % 7 + 7) % 7
               AS weekday,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders),
    w AS (
      SELECT CAST(weekday AS BIGINT) AS weekday,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS rev_cents
      FROM d GROUP BY 1),
    tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total FROM w)
    SELECT weekday, n_orders, rev_cents,
           CAST(rev_cents * 1000000 // total AS BIGINT) AS share_ppm
    FROM w CROSS JOIN tot
    """,
)
def ts_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile of order revenue (the weekly twin of
    ts_seasonal_decompose's monthly index).  Weekday is derived PORTABLY:
    days since Monday 1970-01-05 mod 7 (0 = Monday) — Spark's
    dayofweek() counts 1 = Sunday while DuckDB's isodow() counts
    1 = Monday, so neither builtin crosses engines; the epoch-anchored
    modulo is the cross-engine idiom (double-mod guards pre-1970 dates,
    where % is a remainder, not a floor-mod, in both engines).  Shares in
    exact integer ppm.  One 7-row aggregate + a scalar broadcast —
    shuffle cost is the partial-agg merge only."""
    o = load_table(spark, sf_dir, "orders")
    weekday = (
        (
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-05").cast("date")
            )
            % 7
            + 7
        )
        % 7
    ).cast("long")
    w = o.select(
        weekday.alias("weekday"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).groupBy("weekday").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("rev_cents"),
    )
    # normalize via an unpartitioned window over the 7-ROW aggregate, not a
    # separate agg + join — the latter would re-derive w and scan orders
    # twice (plan-pinned to one scan)
    total = F.sum("rev_cents").over(Window.partitionBy())
    return w.select(
        "weekday",
        "n_orders",
        "rev_cents",
        (F.col("rev_cents") * 1000000)
        .cast("long")
        .alias("_num"),
        total.cast("long").alias("_tot"),
    ).select(
        "weekday",
        "n_orders",
        "rev_cents",
        F.expr("_num div _tot").alias("share_ppm"),
    )


@query(
    "ts_rolling_trend_28d",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
               AS y_tenk
      FROM events GROUP BY 1, 2),
    centered AS (
      SELECT event_type,
             CAST(x - MIN(x) OVER (PARTITION BY event_type) AS BIGINT) AS x,
             CAST(MIN(x) OVER (PARTITION BY event_type) AS BIGINT) AS x0,
             y_tenk
      FROM daily),
    roll AS (
      SELECT event_type, x, x0,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y_tenk) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * y_tenk) OVER w AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
      FROM centered
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   RANGE BETWEEN 27 PRECEDING AND CURRENT ROW))
    SELECT event_type,
           DATE '1970-01-01' + CAST(x + x0 AS INT) AS day,
           n AS n_days,
           CAST(CASE
             WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx = 0
               THEN 0
             ELSE CASE WHEN CAST(n AS HUGEINT) * sxy
                            - CAST(sx AS HUGEINT) * sy < 0
                       THEN -1 ELSE 1 END
                  * (abs(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                     * 1000000
                     // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx))
           END AS BIGINT) AS slope_ppm_tenk_per_day
    FROM roll WHERE n >= 7
    """,
)
def ts_rolling_trend_28d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 28-day OLS trend per event type — ts_linear_trend's
    windowed twin and the shape real monitoring uses: "what is the slope
    RIGHT NOW", recomputed each day over the trailing four weeks.  A
    RANGE frame on the day index (not ROWS) makes gaps behave: a missing
    day shrinks the window rather than silently stretching it to 28
    observations.

    Same exact-integer discipline as the global trend: x centered on each
    type's first day (a constant shift leaves the slope unchanged and
    keeps the moments small), y in 1e-4 units, windowed moments in int64
    (bounded: 28 days × span × daily total), then the num/den products
    widened to decimal(38)/HUGEINT and the quotient emitted in ppm with
    the sign split out (Spark div truncates, DuckDB // floors; they agree
    on |numerator|).  Windows with under 7 observations are suppressed —
    a 2-point "trend" is noise, and both engines drop identical rows.

    Plan: one groupBy(type, day) partial agg, then five window aggregates
    sharing ONE type-keyed sort over the tiny daily table — the rolling
    moments never touch event rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
        .cast("long")
        .alias("y_tenk")
    )
    wt = Window.partitionBy("event_type")
    centered = daily.select(
        "event_type",
        (F.col("x") - F.min("x").over(wt)).cast("long").alias("x"),
        F.min("x").over(wt).cast("long").alias("x0"),
        "y_tenk",
    )
    wr = Window.partitionBy("event_type").orderBy("x").rangeBetween(-27, 0)
    roll = centered.select(
        "event_type",
        "x",
        "x0",
        F.count(F.lit(1)).over(wr).alias("n"),
        F.sum("x").over(wr).alias("sx"),
        F.sum("y_tenk").over(wr).alias("sy"),
        F.sum(F.col("x") * F.col("y_tenk")).over(wr).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wr).alias("sxx"),
    ).filter(F.col("n") >= 7)
    d38 = "decimal(38,0)"
    wide = roll.select(
        "event_type",
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            (F.col("x") + F.col("x0")).cast("int"),
        ).alias("day"),
        F.col("n").alias("n_days"),
        F.col("n").cast(d38).alias("n38"),
        F.col("sx").cast(d38).alias("sx38"),
        F.col("sy").cast(d38).alias("sy38"),
        F.col("sxy").cast(d38).alias("sxy38"),
        F.col("sxx").cast(d38).alias("sxx38"),
    )
    num = F.col("n38") * F.col("sxy38") - F.col("sx38") * F.col("sy38")
    den = F.col("n38") * F.col("sxx38") - F.col("sx38") * F.col("sx38")
    return wide.select(
        "event_type",
        "day",
        "n_days",
        F.when(den == 0, F.lit(0).cast("long"))
        .otherwise(
            F.when(num < 0, -1).otherwise(1).cast("long")
            * F.expr(
                "abs(n38 * sxy38 - sx38 * sy38) * 1000000"
                " div (n38 * sxx38 - sx38 * sx38)"
            )
        )
        .alias("slope_ppm_tenk_per_day"),
    )


# --- time-weighted average (TWAP) --------------------------------------------


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             date_diff('second', TIMESTAMP '1970-01-01',
                       CAST(ts AS TIMESTAMP)) AS sec,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             event_id
      FROM events),
    seg AS (
      SELECT user_id, day, cents,
             COALESCE(
               LEAD(sec) OVER (PARTITION BY user_id, day
                               ORDER BY sec, event_id),
               date_diff('second', TIMESTAMP '1970-01-01',
                         CAST(day AS TIMESTAMP)) + 86400) - sec AS dur_s
      FROM e)
    SELECT day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
           CAST(SUM(cents * dur_s) AS BIGINT) AS weighted_cents_s,
           CAST(SUM(cents * dur_s) * 1000000 // SUM(dur_s) AS BIGINT)
             AS twap_micro
    FROM seg GROUP BY 1
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) over the IRREGULAR event stream — the
    aggregate that makes irregular samples comparable: each observation
    holds until the user's next event that day (the last one holds to
    midnight), so a value that persisted 6 hours counts 6 hours, not one
    sample.  The plain AVG over irregular events is biased toward chatty
    periods; TWAP is what monitoring/financial rollups actually report.

    Exactness: values quantize to integer cents BEFORE weighting, hold
    durations are integer seconds (both engines truncate the timestamp
    to whole seconds identically), the weighted sum is pure int64
    (bounded: cents x 86400 per segment), and the day-level TWAP is an
    integer micro-units division — nothing but exact integers crosses
    the engine boundary.  Division contract: Spark's ``div`` truncates
    while DuckDB's ``//`` floors, which agree ONLY for non-negative
    operands — holds here because event values are non-negative in every
    fixture generation (asserted in tests); a signed-value deployment
    would switch both sides to an explicit pmod-based floor division.

    Distributed shape: ONE user+day-keyed LEAD window (the same exchange
    class as sessionize), then a partial+final aggregate onto the day
    grain.  No spine explode (that's ts_gapfill_locf's job) — TWAP
    weights the raw events directly, so the shuffle volume is the event
    count, independent of the grid resolution.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date(F.col("ts")).alias("day"),
        F.col("ts").cast("bigint").alias("sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "day").orderBy("sec", "event_id")
    day_end = F.col("day").cast("timestamp").cast("bigint") + 86400
    seg = e.select(
        "user_id",
        "day",
        "cents",
        (
            F.coalesce(F.lead("sec").over(w), day_end) - F.col("sec")
        ).alias("dur_s"),
    )
    return seg.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.sum("dur_s").cast("long").alias("total_dur_s"),
        F.sum(F.col("cents") * F.col("dur_s")).cast("long").alias(
            "weighted_cents_s"
        ),
        F.expr(
            "CAST(sum(cents * dur_s) * 1000000 div sum(dur_s) AS BIGINT)"
        ).alias("twap_micro"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival (time-to-first-purchase)
# --------------------------------------------------------------------------

KM_BUCKET_US = 28_800_000_000  # 8-hour analysis buckets
KM_HORIZON_US = 345_600_000_000  # 96-hour observation window
KM_CENSOR_BUCKET = KM_HORIZON_US // KM_BUCKET_US  # = 12, beyond any death

_KM_RECURSION = """
    WITH RECURSIVE km (rk, t, n, d, s) AS (
      SELECT rk, t, n, d, (1000000000 * (n - d)) DIV n
      FROM {steps} WHERE rk = 1
      UNION ALL
      SELECT s2.rk, s2.t, s2.n, s2.d, (km.s * (s2.n - s2.d)) DIV s2.n
      FROM km JOIN {steps} s2 ON s2.rk = km.rk + 1
    )
    SELECT CAST(t AS INT) AS t_bucket,
           CAST(n AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(s AS BIGINT) AS survival_x1e9
    FROM km
"""

# per-call unique temp-view suffix: spark.sql() analyzes eagerly, but two
# km_curve() calls building plans concurrently on a shared session could
# still race createOrReplaceTempView under a FIXED name (ADVICE r8)
_KM_VIEW_SEQ = itertools.count()


@query(
    "ts_survival_km",
    oracle=f"""
    WITH RECURSIVE
    v AS (SELECT user_id, MIN(epoch_us(ts)) AS t0 FROM events
          WHERE event_type = 'view' GROUP BY 1),
    p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS tp
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.t0
          GROUP BY 1),
    life AS (
      SELECT v.user_id,
             CASE WHEN p.tp IS NOT NULL
                       AND p.tp - v.t0 < {KM_HORIZON_US}
                  THEN (p.tp - v.t0) // {KM_BUCKET_US}
                  ELSE {KM_CENSOR_BUCKET} END AS t,
             CASE WHEN p.tp IS NOT NULL
                       AND p.tp - v.t0 < {KM_HORIZON_US}
                  THEN 1 ELSE 0 END AS death
      FROM v LEFT JOIN p ON v.user_id = p.user_id),
    counts AS (SELECT t, COUNT(*) AS c, SUM(death) AS d
               FROM life GROUP BY 1),
    risk AS (SELECT t, d,
                    SUM(c) OVER (ORDER BY t DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS n
             FROM counts),
    steps AS (SELECT t, d, n, ROW_NUMBER() OVER (ORDER BY t) AS rk
              FROM risk WHERE d > 0),
    km (rk, t, n, d, s) AS (
      SELECT rk, t, n, d, (1000000000 * (n - d)) // n
      FROM steps WHERE rk = 1
      UNION ALL
      SELECT s2.rk, s2.t, s2.n, s2.d, (km.s * (s2.n - s2.d)) // s2.n
      FROM km JOIN steps s2 ON s2.rk = km.rk + 1
    )
    SELECT CAST(t AS INT) AS t_bucket,
           CAST(n AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(s AS BIGINT) AS survival_x1e9
    FROM km
    """,
)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over time-to-first-purchase: for
    each user, duration runs from their first ``view`` to their first
    subsequent ``purchase`` (an "event"/death), right-censored at a
    96-hour observation horizon; durations are 8-hour analysis buckets.
    S(t) = prod over death steps t_i <= t of (n_i - d_i)/n_i with n_i =
    subjects still at risk (duration >= t_i; censored subjects stay at
    risk through the censor bucket, which sits beyond every death
    bucket by construction).

    Engine determinism: the product is NON-ASSOCIATIVE once integerized,
    so it is computed stepwise — S_k = floor(S_{{k-1}} * (n_k - d_k) / n_k)
    on a 1e9 scale — via a RECURSIVE CTE that walks the death steps in
    order (Spark 4 WITH RECURSIVE; DuckDB mirrors the walk exactly).
    All inputs are exact integers (epoch-microsecond floor-division
    buckets, counts), so both engines produce bit-identical rows; no
    libm (exp/log) crosses the boundary.

    Scale shape: the heavy work — per-user first-view/first-purchase
    aggregates and the at-risk counts — is ordinary distributed
    groupBy/shuffle on user_id and the bucket grain.  The recursion runs
    over the DEATH-STEP table only (<= {KM_CENSOR_BUCKET} rows, a bounded
    aggregate), each iteration a one-row join: driver-light model state,
    exactly like the bounded prefix collects elsewhere.  The one
    unpartitioned window (at-risk reverse cumsum) also runs on those
    <= {KM_CENSOR_BUCKET}+1 rows.  Integer headroom: S <= 1e9 and
    S*(n-d) must fit int64, so the scheme holds to ~9e9 subjects; past
    that, pre-reduce (n-d)/n by gcd or bucket coarser."""
    us = F.unix_micros
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us(F.col("ts"))).alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us(F.col("ts")).alias("tp_us"))
        .join(v, "user_id")
        .filter(F.col("tp_us") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp_us").alias("tp"))
    )
    observed = F.col("tp").isNotNull() & (
        F.col("tp") - F.col("t0") < KM_HORIZON_US
    )
    life = v.join(p, "user_id", "left").select(
        F.when(
            observed,
            F.expr(f"(tp - t0) div {KM_BUCKET_US}"),
        )
        .otherwise(F.lit(KM_CENSOR_BUCKET))
        .alias("t"),
        F.when(observed, F.lit(1)).otherwise(F.lit(0)).alias("death"),
    )
    return km_curve(life)


def km_curve(life: DataFrame) -> DataFrame:
    """Kaplan-Meier estimator over any life table (columns ``t`` integer
    duration, ``death`` 0/1): returns one row per death step —
    (t_bucket, n_at_risk, d_events, survival_x1e9).  Property-tested
    against a pure-Python KM on hypothesis-generated tables
    (tests/test_properties.py); ``ts_survival_km`` wires the events
    fixture in front of it."""
    spark = life.sparkSession
    counts = life.groupBy("t").agg(
        F.count(F.lit(1)).alias("c"), F.sum("death").alias("d")
    )
    # at-risk reverse cumsum over the bounded per-duration aggregate —
    # the bounded-aggregate exception to the no-global-window rule
    w_risk = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    steps = (
        counts.withColumn("n", F.sum("c").over(w_risk))
        .filter(F.col("d") > 0)
        .withColumn("rk", F.row_number().over(Window.orderBy("t")))
        .select("rk", "t", "n", "d")
    )
    # materialize the bounded step table BEFORE the recursion: a temp
    # view is a logical plan, so each recursion step would otherwise
    # re-run the whole life-table DAG (steps x the input scan); materialized,
    # every iteration is a one-row join against a tiny resident LogicalRDD
    view = f"km_steps_{next(_KM_VIEW_SEQ)}"
    materialize(steps).createOrReplaceTempView(view)
    out = spark.sql(_KM_RECURSION.format(steps=view))
    # spark.sql analyzes eagerly, so the returned plan has already inlined
    # the view's LogicalRDD; dropping the catalog entry here releases the
    # per-call view (and its resident checkpoint blocks once the caller
    # drops the DataFrame) instead of pinning one per invocation for the
    # session lifetime (ADVICE r9).
    spark.catalog.dropTempView(view)
    return out


# --------------------------------------------------------------------------
# autocorrelation function over the daily event-count series
# --------------------------------------------------------------------------

ACF_MAX_LAG = 14  # two weeks of calendar lags — exposes the weekly cycle


@query(
    "ts_acf_lags",
    oracle=f"""
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(cnt) AS BIGINT) AS s FROM daily),
    c AS (SELECT x, n * cnt - s AS c FROM daily, st),
    den AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT))
                        AS BIGINT) AS den FROM c),
    k AS (SELECT CAST(unnest(range(1, {ACF_MAX_LAG} + 1)) AS INT) AS lag),
    num AS (
      SELECT k.lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT))
                  AS BIGINT) AS num
      FROM k CROSS JOIN c a JOIN c b ON b.x = a.x + k.lag
      GROUP BY 1)
    SELECT lag, n_pairs, num, den.den AS den,
           CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE) AS acf
    FROM num, den
    """,
)
def ts_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at
    calendar lags 1..ACF_MAX_LAG — the standard seasonality/persistence
    diagnostic (a lag-7 peak is the weekly cycle) that precedes any
    forecasting model choice.

    Engine determinism: the mean-centering that makes ACF a correlation
    is done WITHOUT rationals — each term is scaled by n so
    c_t = n·x_t − S is an exact int64; numerator Σ c_t·c_{{t+k}} and
    denominator Σ c_t² are exact integer sums (order-independent), and
    the returned acf is ONE double division of identical int64 operands
    in both engines (the ts_seasonal_decompose recipe; no libm).  Lags
    are CALENDAR lags via an equi-join on day-index + k, so a missing
    day drops the pair instead of silently shifting the series (n_pairs
    exposes exactly how many terms each lag summed).

    Scale shape: one groupBy to day grain (the only data-sized shuffle,
    with map-side partial counts), then everything runs on the bounded
    day-grain table: a broadcast 2-scalar stats row, a broadcast
    ACF_MAX_LAG-row lag spine, and a self-equi-join of the ~thousands-row
    daily series.  Integer headroom: den ≈ n·(n·cnt)² must fit int64 —
    holds beyond 10k daily events across a 7-year span; past that,
    coarsen the grain or pre-scale cnt (ANSI mode fails loudly, never
    wraps)."""
    e = load_table(spark, sf_dir, "events").select(
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("x")
    )
    daily = e.groupBy("x").agg(F.count(F.lit(1)).alias("cnt"))
    st = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("s")
    )
    c = daily.crossJoin(F.broadcast(st)).select(
        "x", (F.col("n") * F.col("cnt") - F.col("s")).alias("c")
    )
    den = c.agg(F.sum(F.col("c") * F.col("c")).alias("den"))
    lag_df = spark.createDataFrame(
        [(k,) for k in range(1, ACF_MAX_LAG + 1)], "lag int"
    )
    a, b = c.alias("a"), c.alias("b")
    num = (
        a.crossJoin(F.broadcast(lag_df))
        .join(b, F.col("b.x") == F.col("a.x") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("a.c") * F.col("b.c")).alias("num"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        "num",
        "den",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "acf"
        ),
    )


# --------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential) over monthly revenue
# --------------------------------------------------------------------------
#
# alpha = 1/4 and beta = 1/8 are DYADIC smoothing weights, so the whole
# recursion stays in exact integer cents: l_t = floordiv(x_t + 3(l+b), 4),
# b_t = floordiv((l_t - l) + 7b, 8).  Trend terms go NEGATIVE, where
# Spark's DIV (truncates) and DuckDB's // (floors) diverge — so both
# dialects floor-divide via the pmod construction (a - pmod(a, m) is an
# exact multiple of m, making trunc == floor); one Python builder emits
# both texts so they cannot drift.


def _holt_recursion(steps: str, div: str) -> str:
    def fdiv(a: str, m: int) -> str:
        return f"(({a}) - (((({a}) % {m}) + {m}) % {m})) {div} {m}"

    lnew = fdiv("s.x + 3 * (h.l + h.b)", 4)
    bnew = fdiv(f"(({lnew}) - h.l) + 7 * h.b", 8)
    return f"""
    holt (rk, m, x, l, b) AS (
      SELECT rk, m, x, x, COALESCE(x2 - x, 0) FROM {steps} WHERE rk = 1
      UNION ALL
      SELECT s.rk, s.m, s.x, {lnew}, {bnew}
      FROM holt h JOIN {steps} s ON s.rk = h.rk + 1
    )
    SELECT CAST(rk AS INT) AS month_index,
           CAST(m AS BIGINT) AS m,
           CAST(x AS BIGINT) AS rev_cents,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(l + b AS BIGINT) AS forecast_next_cents
    FROM holt"""


@query(
    "ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE
    monthly AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS x
      FROM orders GROUP BY 1),
    steps AS (
      SELECT m, x,
             ROW_NUMBER() OVER (ORDER BY m) AS rk,
             LEAD(x) OVER (ORDER BY m) AS x2
      FROM monthly),
    {_holt_recursion("steps", "//")}
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of monthly
    revenue — the forecasting primitive between ``ewma_user_value``
    (level only) and ``ts_linear_trend`` (one global OLS line): a
    recursive level+trend state with init l_1 = x_1, b_1 = x_2 − x_1,
    emitting per month the smoothed level, trend, and the one-step-ahead
    forecast l+b made at that month.

    Engine determinism: the smoothing weights are dyadic (α=1/4, β=1/8),
    so the recursion is exact integer arithmetic in cents; because trend
    terms go negative, both engines floor-divide via the pmod
    construction (Spark's DIV truncates, DuckDB's // floors — they agree
    only on exact multiples, which a − pmod(a, m) guarantees).  One
    builder (`_holt_recursion`) emits both dialect texts.

    Scale shape: the heavy work is the monthly integer-cents aggregate
    (one shuffle with map-side partials); the inherently sequential
    level/trend recursion then runs DRIVER-SIDE over the collected
    ≤84-row month table (bounded model state, the power-iteration/
    k-center discipline) in exact Python ints — Python's // IS floor
    division, the same function both SQL dialects construct.  The
    in-engine WITH RECURSIVE alternative (the ``ts_survival_km`` recipe)
    was measured at ~80 ms of fixed cost PER STEP (6.9 s for 84 months
    vs 2.8 s for KM's 12 steps); it is the right call only when the step
    count is small — the engine recursion showcase stays with KM, and
    Holt documents the cutover."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x")
    )
    steps = sorted(
        (int(r["m"]), int(r["x"])) for r in monthly.collect()
    )  # bounded: one row per calendar month at any SF
    out = []
    l = b = 0
    for rk, (m, x) in enumerate(steps, start=1):
        if rk == 1:
            l = x
            b = (steps[1][1] - x) if len(steps) > 1 else 0
        else:
            a = x + 3 * (l + b)
            l_new = a // 4  # Python // IS floor division — the same
            b = ((l_new - l) + 7 * b) // 8  # function both dialects build
            l = l_new
        out.append((rk, m, x, l, b, l + b))
    return spark.createDataFrame(
        out,
        schema=(
            "month_index int, m long, rev_cents long, level_cents long,"
            " trend_cents long, forecast_next_cents long"
        ),
    )


# --------------------------------------------------------------------------
# changepoint detection: binary segmentation over the daily revenue series
# --------------------------------------------------------------------------


@query(
    "ts_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS rev
      FROM orders GROUP BY 1),
    pre AS (
      SELECT day, rev,
             SUM(rev) OVER w AS s_l,
             CAST(ROW_NUMBER() OVER w AS HUGEINT) AS n_l
      FROM daily WINDOW w AS (ORDER BY day)),
    tot AS (SELECT SUM(rev) AS s, CAST(COUNT(*) AS HUGEINT) AS n
            FROM daily),
    cand AS (
      SELECT p.day, p.n_l, t.n - p.n_l AS n_r,
             p.s_l, t.s - p.s_l AS s_r,
             abs(t.n * p.s_l - p.n_l * t.s) AS stat
      FROM pre p, tot t
      WHERE p.n_l < t.n),
    best AS (
      SELECT * FROM cand ORDER BY stat DESC, day ASC LIMIT 1)
    SELECT day AS split_day,
           CAST(n_l AS BIGINT) AS n_left,
           CAST(n_r AS BIGINT) AS n_right,
           CAST(s_l // n_l AS BIGINT) AS mean_left_cents,
           CAST(s_r // n_r AS BIGINT) AS mean_right_cents,
           CAST(s_r // n_r - s_l // n_l AS BIGINT) AS delta_cents
    FROM best
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection over the daily revenue series via the
    CUSUM statistic: the split k maximizing |Σ_{i<=k}(x_i - x̄)| — i.e.
    ``argmax_k |n·S_L(k) - n_L(k)·S|`` — the classic mean-shift
    changepoint estimator (Page/Hinkley family; binary segmentation
    recurses on each side with the same primitive).

    Criterion choice, documented: the least-squares binseg score
    S_L²/n_L + S_R²/n_R needs a per-candidate rational division whose
    quotients exceed int64 (~10^26 here), and no fixed-precision sort
    key represents those rationals exactly — a draft using
    DECIMAL-divided scores diverged between engines at the argmax.  The
    CUSUM statistic is DIVISION-FREE: |n·S_L - n_L·S| is exact
    DECIMAL(38,0)/HUGEINT arithmetic (~10^15 here, headroom past sf100),
    the sort key is exact in both engines, and the day-ASC tie-break
    makes the argmax total.

    Exactness: revenues are integer cents; prefix sums ride one ordered
    window over the BOUNDED daily aggregate (calendar-bounded series —
    the bounded-aggregate exception); segment means emit as floor-div
    cents (non-negative operands, so Spark div == DuckDB //).

    Scale shape: one day-grain shuffle builds the daily table; window,
    scalar totals, and the 1-row top-1 all run on the bounded series —
    the ts_* family posture."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("decimal(38,0)")
        .alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        F.sum("rev").over(w).alias("s_l"),
        F.row_number()
        .over(Window.orderBy("day"))
        .cast("decimal(38,0)")
        .alias("n_l"),
    )
    tot = daily.agg(
        F.sum("rev").alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("n_l") < F.col("n"))
        .select(
            "day",
            "n_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            "s_l",
            (F.col("s") - F.col("s_l")).alias("s_r"),
            F.abs(
                F.col("n") * F.col("s_l") - F.col("n_l") * F.col("s")
            ).alias("stat"),
        )
    )
    best = cand.orderBy(F.desc("stat"), F.asc("day")).limit(1)
    return best.select(
        F.col("day").alias("split_day"),
        F.col("n_l").cast("long").alias("n_left"),
        F.col("n_r").cast("long").alias("n_right"),
        F.expr("s_l div n_l").cast("long").alias("mean_left_cents"),
        F.expr("s_r div n_r").cast("long").alias("mean_right_cents"),
        F.expr("s_r div n_r - s_l div n_l")
        .cast("long")
        .alias("delta_cents"),
    )
