"""[REF] Click-through-rate pipeline — the reference's entire query surface.

The reference (``/root/reference/ClickThru.java``) is a two-stage MapReduce
job: stage 1 unifies impression/click JSON-lines and computes an existence
join on ``impressionId`` (reducer folds each id-group into the impression
payload plus a clicked-flag, ``ClickThru.java:130-151``); stage 2 re-keys on
``(referrer, adId)`` and emits ``clicks/impressions`` as the grouped mean
(``ClickThru.java:174-189``).  Relationally:

    SELECT i.referrer, i.ad_id, AVG(flag) FROM impressions i
    LEFT JOIN (SELECT DISTINCT impression_id FROM clicks) c USING (impression_id)
    GROUP BY i.referrer, i.ad_id

Semantics preserved here (SURVEY.md §2.3):
  * E2 — N clicks on one impression count ONCE (the reducer sets a flag, never
    increments, ``ClickThru.java:137,145``) → ``DISTINCT`` on the click side
    before the join.
  * E4 — clicks with no matching impression crash the reference; we drop them
    gracefully via the left join.

Spark-first notes: the two MapReduce jobs (with a full HDFS materialization
between them, ``ClickThru.java:57,75``) collapse into one lazy DAG.  The
click side is deduped *before* the join so the join build side is minimal;
at 100 TB both sides shuffle-partition on the join key and AQE converts to
broadcast when the deduped click side fits, and the grouped mean runs as
partial+final hash aggregation (the reference ships every flag across the
network — it never sets a combiner).

The fixture mapping (SURVEY.md §7 step 0): ``events`` rows with
``event_type='view'`` are impressions, ``event_type='click'`` are clicks,
joined on ``user_id``; the grouping dimension is the view's calendar date
(role of the reference's ``(referrer, adId)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import load_table, work_dir
from hadoopmapreduce_spark.registry import query


def _views(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # filter + projection push down to the parquet scan
    return ev.filter(F.col("event_type") == "view").select(
        "user_id", F.to_date("ts").alias("view_date")
    )


def _clickers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # E2: dedupe clicks BEFORE the join — one click is as good as N
    return (
        ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    )


def _flagged_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """views left-join deduped clickers → per-impression 0/1 clicked flag."""
    views = _views(spark, sf_dir)
    clickers = _clickers(spark, sf_dir).withColumn("has_click", F.lit(1))
    return views.join(clickers, "user_id", "left").withColumn(
        "clicked",
        F.when(F.col("has_click").isNotNull(), F.lit(1.0)).otherwise(F.lit(0.0)),
    )


@query(
    "ctr_flagship",
    oracle="""
    SELECT CAST(i.ts AS DATE)                                    AS view_date,
           AVG(CASE WHEN c.user_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS ctr,
           COUNT(*)                                              AS n_impressions
    FROM events i
    LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') c
      ON i.user_id = c.user_id
    WHERE i.event_type = 'view'
    GROUP BY 1
    """,
)
def ctr_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTR per view-date: scan → filter → distinct → left join → flag → avg.

    Exercises every [REF] operator in one query.  The 0/1 flag mean is exact
    in IEEE arithmetic (integer-valued sums), so plain ``avg`` is
    deterministic and hash-stable against the oracle.
    """
    return (
        _flagged_views(spark, sf_dir)
        .groupBy("view_date")
        .agg(
            F.avg("clicked").alias("ctr"),
            F.count(F.lit(1)).alias("n_impressions"),
        )
    )


@query(
    "existence_join",
    oracle="""
    SELECT v.user_id,
           CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS clicked
    FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
    """,
)
def existence_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] the reducer's id-group fold (``ClickThru.java:130-151``) as a
    left join against a deduplicated build side: per distinct viewer, did any
    click exist.  Spark plans this as shuffle/broadcast hash join chosen by
    AQE; no per-group imperative fold needed."""
    views = _views(spark, sf_dir).select("user_id").distinct()
    clickers = _clickers(spark, sf_dir).withColumn("has_click", F.lit(1))
    return views.join(clickers, "user_id", "left").select(
        "user_id",
        F.when(F.col("has_click").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("clicked"),
    )


@query(
    "group_avg_ctr",
    oracle="""
    SELECT i.user_id % 10 AS cohort,
           AVG(CASE WHEN c.user_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS ctr,
           COUNT(*) AS n_impressions
    FROM events i
    LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') c
      ON i.user_id = c.user_id
    WHERE i.event_type = 'view'
    GROUP BY 1
    """,
)
def group_avg_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] stage-2 grouped mean (``ClickThru.java:174-189``) on a composite
    cohort key.  The reference packs the key as the formatted string
    ``"[url, adID]"`` (``ClickThru.java:166``); here it is a real grouping
    column and the mean runs partial+final (the reference has no combiner)."""
    flagged = _flagged_views(spark, sf_dir)
    return (
        flagged.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("cohort")
        .agg(
            F.avg("clicked").alias("ctr"),
            F.count(F.lit(1)).alias("n_impressions"),
        )
    )


# ---------------------------------------------------------------------------
# JSON-lines scan fidelity ops
# ---------------------------------------------------------------------------

# Reconstruct the reference's native input shape (junk-prefixed JSON line,
# FIXTURES.md §A) from the events fixture, then parse it back the way the
# reference does: scan to the first '{' (ClickThru.java:98) and extract fields
# (ClickThru.java:105,114-115). Building the line inside the query keeps the
# oracle bit-identical — both engines format from the same integer/string
# columns.

@query(
    "scan_jsonlines",
    oracle="""
    WITH lines AS (
      SELECT CAST(event_id AS VARCHAR) || chr(9) ||
             '{"impressionId": "imp-' || CAST(event_id AS VARCHAR) ||
             '", "adId": "ad-' || CAST(user_id % 50 AS VARCHAR) || '"}' AS value
      FROM events WHERE event_type = 'view'
    ),
    parsed AS (
      SELECT json_extract_string(substr(value, strpos(value, '{')), '$.impressionId') AS impression_id,
             json_extract_string(substr(value, strpos(value, '{')), '$.adId')        AS ad_id
      FROM lines
    )
    SELECT ad_id, COUNT(*) AS n, COUNT(DISTINCT impression_id) AS n_ids
    FROM parsed GROUP BY ad_id
    """,
)
def scan_jsonlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] tolerant JSON-line parse: substring from the first ``{`` then
    JSON-extract (``ClickThru.java:98,104-105``).  Junk prefixes (e.g. a
    ``key\\t`` left by a prior job's TextOutputFormat) are skipped exactly as
    the reference does."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    lines = ev.select(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit("\t"),
            F.lit('{"impressionId": "imp-'),
            F.col("event_id").cast("string"),
            F.lit('", "adId": "ad-'),
            (F.col("user_id") % 50).cast("string"),
            F.lit('"}'),
        ).alias("value")
    )
    payload = F.expr("substring(value, instr(value, '{'))")
    parsed = lines.select(
        F.get_json_object(payload, "$.impressionId").alias("impression_id"),
        F.get_json_object(payload, "$.adId").alias("ad_id"),
    )
    return parsed.groupBy("ad_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("impression_id").alias("n_ids"),
    )


@query(
    "tag_by_schema_sniff",
    oracle="""
    SELECT CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                THEN 'impression' ELSE 'click' END AS kind,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def tag_by_schema_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] per-record provenance sniffing: the reference classifies a record
    as an impression iff the JSON has a ``referrer`` key
    (``jsnObj.has("referrer")``, ``ClickThru.java:111``) — not by input path.
    Here: probe the ``events.props`` JSON string for key ``k``."""
    ev = load_table(spark, sf_dir, "events")
    kind = (
        F.when(F.get_json_object(F.col("props"), "$.k").isNotNull(), F.lit("impression"))
        .otherwise(F.lit("click"))
        .alias("kind")
    )
    return ev.select(kind).groupBy("kind").agg(F.count(F.lit(1)).alias("n"))


@query(
    "sink_textkv",
    oracle="""
    WITH ctr AS (
      SELECT CAST(i.ts AS DATE) AS view_date,
             i.user_id % 10     AS cohort,
             AVG(CASE WHEN c.user_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS ctr
      FROM events i
      LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type='click') c
        ON i.user_id = c.user_id
      WHERE i.event_type = 'view'
      GROUP BY 1, 2
    )
    SELECT '[' || CAST(view_date AS VARCHAR) || ', ' || CAST(cohort AS VARCHAR)
           || ']' || chr(9) || CAST(CAST(ROUND(ctr * 10000) AS BIGINT) AS VARCHAR)
           AS line
    FROM ctr
    """,
)
def sink_textkv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] the tab-separated ``key\\tvalue`` text sink shape: job 2 emits
    lines ``[url, adID]\\t0.25`` (``ClickThru.java:166,186-187``).  CTR is
    fixed-pointed to basis points before formatting — float-to-string
    rendering differs across engines, integer rendering doesn't."""
    flagged = _flagged_views(spark, sf_dir)
    ctr = (
        flagged.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("view_date", "cohort")
        .agg(F.avg("clicked").alias("ctr"))
    )
    return ctr.select(
        F.concat(
            F.lit("["),
            F.col("view_date").cast("string"),
            F.lit(", "),
            F.col("cohort").cast("string"),
            F.lit("]\t"),
            F.round(F.col("ctr") * 10000, 0).cast("bigint").cast("string"),
        ).alias("line")
    )


@query(
    "project_fields",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def project_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] bare projection — the reference's mapper extracts exactly 3
    fields and drops the rest by hand (``ClickThru.java:105,114-115``);
    here Catalyst's column pruning pushes the 3-column ReadSchema into the
    parquet scan (asserted in tests/test_plans.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", "user_id", "event_type")


@query(
    "encode_decode_kv_roundtrip",
    oracle="""
    WITH flagged AS (
      SELECT CAST(CAST(i.ts AS DATE) AS VARCHAR) AS referrer,
             CAST(i.user_id % 10 AS VARCHAR)     AS ad_id,
             CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS flag
      FROM events i
      LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type='click') c
        ON i.user_id = c.user_id
      WHERE i.event_type = 'view'
    ),
    encoded AS (
      -- job-1 output shape: 0\t{referrer/x1fadId/x1eflag (ClickThru.java:148-149)
      SELECT '0' || chr(9) || '{' || referrer || '/x1f' || ad_id || '/x1e'
             || CAST(flag AS VARCHAR) AS line
      FROM flagged
    ),
    decoded AS (
      -- job-2 mapper: strip to indexOf('{')+1, regex-split (ClickThru.java:160-165)
      SELECT regexp_split_to_array(substr(line, strpos(line, '{') + 1),
                                   '(/x1f)|(/x1e)') AS kv
      FROM encoded
    )
    SELECT kv[1] AS referrer, kv[2] AS ad_id,
           AVG(CAST(kv[3] AS DOUBLE)) AS ctr,
           COUNT(*) AS n
    FROM decoded GROUP BY 1, 2
    """,
)
def encode_decode_kv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] byte-fidelity shim for the sentinel-string intermediate format.

    The engine never needs string-packed intermediates (typed columns flow
    through one DAG), but the reference's on-disk format between its two
    jobs is observable behavior: lines ``0\\t{url/x1fadId/x1eflag`` packed
    with literal 4-char sentinels (``ClickThru.java:116,148``), re-parsed by
    scanning to ``{`` and regex-splitting on ``(/x1f)|(/x1e)``
    (``ClickThru.java:160-165``).  This query encodes, decodes, and
    re-aggregates through that exact format, proving a migration could
    interoperate with files the reference wrote."""
    flagged = _flagged_views(spark, sf_dir).select(
        F.col("view_date").cast("string").alias("referrer"),
        (F.col("user_id") % 10).cast("string").alias("ad_id"),
        F.col("clicked").cast("int").alias("flag"),
    )
    encoded = flagged.select(
        F.concat(
            F.lit("0\t{"),
            F.col("referrer"),
            F.lit("/x1f"),
            F.col("ad_id"),
            F.lit("/x1e"),
            F.col("flag").cast("string"),
        ).alias("line")
    )
    kv = F.split(
        F.expr("substring(line, instr(line, '{') + 1)"), r"(/x1f)|(/x1e)"
    )
    decoded = encoded.select(
        F.element_at(kv, 1).alias("referrer"),
        F.element_at(kv, 2).alias("ad_id"),
        F.element_at(kv, 3).cast("double").alias("flag"),
    )
    return decoded.groupBy("referrer", "ad_id").agg(
        F.avg("flag").alias("ctr"), F.count(F.lit(1)).alias("n")
    )


@query(
    "dedup_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS latest_event_id,
           CAST(ts AS TIMESTAMP) AS latest_ts, event_type AS latest_type
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def dedup_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction (CDC/log compaction shape): keep
    each user's most recent event via rank-1 selection with a total order.
    This deterministic form replaces the reference's E3 behavior —
    last-write-wins in nondeterministic reduce iteration order
    (``ClickThru.java:142-143``) — and is the standard upsert-log →
    current-state materialization at any scale (one shuffle on the key)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("ts").alias("latest_ts"),
            F.col("event_type").alias("latest_type"),
        )
    )


@query(
    "scan_textkv_source",
    oracle="""
    WITH ctr AS (
      SELECT CAST(i.ts AS DATE) AS view_date,
             i.user_id % 10     AS cohort,
             AVG(CASE WHEN c.user_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS ctr
      FROM events i
      LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type='click') c
        ON i.user_id = c.user_id
      WHERE i.event_type = 'view'
      GROUP BY 1, 2
    )
    SELECT view_date, cohort,
           CAST(ROUND(ctr * 10000) AS BIGINT) AS ctr_bp
    FROM ctr
    """,
)
def scan_textkv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] read side of the reference's text-KV format as a FIRST-CLASS
    Spark source: the CTR result is sunk to ``[key1, key2]\\tvalue`` lines
    (``ClickThru.java:166,186-187`` TextOutputFormat shape), then read back
    through the Python Data Source API (``format("textkv")``,
    sources/textkv_source.py) and re-typed with ordinary expressions — the
    full round trip a reference user performs when job 2's output feeds a
    follow-up job.

    Scale: the custom source exposes newline-aligned byte-range
    InputPartitions (128 MB default, like TextInputFormat block splits —
    a single huge part-file fans out instead of becoming one straggler);
    parsing is plain codegen regexp/cast on top of the (key, value)
    strings."""
    from hadoopmapreduce_spark.sources.textkv_source import register_textkv

    register_textkv(spark)
    outdir = work_dir("textkv", sf_dir, fresh=True)
    sink_textkv(spark, sf_dir).write.mode("overwrite").text(outdir)
    raw = spark.read.format("textkv").load(outdir)
    return raw.select(
        F.regexp_extract("key", r"^\[([^,]+), ([^\]]+)\]$", 1)
        .cast("date")
        .alias("view_date"),
        F.regexp_extract("key", r"^\[([^,]+), ([^\]]+)\]$", 2)
        .cast("bigint")
        .alias("cohort"),
        F.col("value").cast("bigint").alias("ctr_bp"),
    )


@query(
    "sink_textkv_writer_roundtrip",
    oracle="""
    WITH ctr AS (
      SELECT CAST(i.ts AS DATE) AS view_date,
             i.user_id % 10     AS cohort,
             AVG(CASE WHEN c.user_id IS NOT NULL THEN 1.0 ELSE 0.0 END) AS ctr
      FROM events i
      LEFT JOIN (SELECT DISTINCT user_id FROM events WHERE event_type='click') c
        ON i.user_id = c.user_id
      WHERE i.event_type = 'view'
      GROUP BY 1, 2
    )
    SELECT view_date, cohort,
           CAST(ROUND(ctr * 10000) AS BIGINT) AS ctr_bp
    FROM ctr
    """,
)
def sink_textkv_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[REF] WRITE side of the text-KV format as a first-class Spark sink:
    the CTR result goes out through ``df.write.format("textkv")`` — the
    Python Data Source writer (sources/textkv_source.py:TextKVWriter, task
    staging + driver commit + ``_SUCCESS``, the FileOutputCommitter protocol
    under the reference's TextOutputFormat, ``ClickThru.java:186-187``) —
    then back in through the matching reader and is re-typed.  Complements
    ``scan_textkv_source``, which exercises only the read half (its sink
    goes through the built-in ``.text`` writer).

    Scale: each write task streams its partition to one staged file (no
    driver collect); commit is a metadata-only rename pass over one
    message per task."""
    from hadoopmapreduce_spark.sources.textkv_source import register_textkv

    register_textkv(spark)
    outdir = work_dir("textkv_w", sf_dir, fresh=True)
    flagged = _flagged_views(spark, sf_dir)
    ctr = (
        flagged.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("view_date", "cohort")
        .agg(F.avg("clicked").alias("ctr"))
    )
    kv = ctr.select(
        F.concat(
            F.lit("["),
            F.col("view_date").cast("string"),
            F.lit(", "),
            F.col("cohort").cast("string"),
            F.lit("]"),
        ).alias("key"),
        F.round(F.col("ctr") * 10000, 0).cast("bigint").cast("string").alias("value"),
    )
    kv.write.format("textkv").mode("overwrite").save(outdir)
    raw = spark.read.format("textkv").load(outdir)
    return raw.select(
        F.regexp_extract("key", r"^\[([^,]+), ([^\]]+)\]$", 1)
        .cast("date")
        .alias("view_date"),
        F.regexp_extract("key", r"^\[([^,]+), ([^\]]+)\]$", 2)
        .cast("bigint")
        .alias("cohort"),
        F.col("value").cast("bigint").alias("ctr_bp"),
    )


@query(
    "scan_dirty_json_quarantine",
    oracle="""
    WITH built AS (
      SELECT lang,
             CASE
               WHEN doc_id % 7 = 0 THEN
                 substr('{"n": ' || CAST(n_chars AS VARCHAR) || '}', 1,
                        length('{"n": ' || CAST(n_chars AS VARCHAR) || '}') - 2)
               WHEN doc_id % 13 = 0 THEN '{"n": null}'
               ELSE '{"n": ' || CAST(n_chars AS VARCHAR) || '}'
             END AS js
      FROM documents),
    parsed AS (
      SELECT lang,
             CASE WHEN json_valid(js)
                  THEN CAST(json_extract_string(js, '$.n') AS BIGINT)
             END AS n
      FROM built)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(*) FILTER (WHERE n IS NULL) AS BIGINT) AS n_quarantined,
           CAST(SUM(n) AS BIGINT) AS n_sum
    FROM parsed GROUP BY 1
    """,
)
def scan_dirty_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 as a REGISTERED operator: parse a JSON column with a deliberate
    corruption mix (truncated objects for doc_id%7, explicit null fields
    for %13) and QUARANTINE-COUNT the unusable records instead of
    reusing stale values like the reference (``ClickThru.java:113-120``
    catches the JSONException, prints, and silently re-emits the previous
    record's mapper-instance buffer — SURVEY.md §2.3 E1 documents choosing
    null-out + count as the engine policy; tests pin the parse behavior,
    this query makes the metric queryable).

    "Unusable" is field-null after a tolerant parse — covering both
    malformed JSON (Spark's from_json yields a null field; DuckDB guards
    with json_valid) and well-formed-but-null, the two cases a downstream
    consumer cannot distinguish or use.  Pure codegen scan + one hash
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    good = F.concat(
        F.lit('{"n": '), F.col("n_chars").cast("string"), F.lit("}")
    )
    js = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.expr(
                "substr(concat('{\"n\": ', cast(n_chars as string), '}'), 1, "
                "length(concat('{\"n\": ', cast(n_chars as string), '}')) - 2)"
            ),
        )
        .when(F.col("doc_id") % 13 == 0, F.lit('{"n": null}'))
        .otherwise(good)
    )
    parsed = d.select(
        "lang", F.from_json(js, "n bigint").getField("n").alias("n")
    )
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count(F.when(F.col("n").isNull(), 1)).alias("n_quarantined"),
        F.sum("n").alias("n_sum"),
    )
