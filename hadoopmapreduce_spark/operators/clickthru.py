"""The reference pipeline itself, end-to-end, on its native input format.

``run_clickthru`` is the drop-in replacement for the whole of
``/root/reference/ClickThru.java``: given directories of junk-prefixed
JSON-lines impressions and clicks, produce CTR per (referrer, adId).

The reference's two chained MapReduce jobs (``ClickThru.java:40-41``) map
onto two steps here:

* :func:`per_impression` is job 1's reduce keyed on ``impressionId``: one
  ``groupBy`` over one scan of both dirs, so the existence join is a flag
  computed inside the group, with no ``distinct`` and no join;
* :func:`ctr_from_per_impression` is job 2: re-key on the kept
  ``(referrer, adId)`` payload and take the mean of the flag, with the
  map-side partial aggregation the reference never had.

The reference writes job 1's output to the ``combined`` directory and
re-reads it (``ClickThru.java:57,75``), packing the key with sentinel strings
(``"/x1f"``/``"/x1e"``, ``ClickThru.java:116,148``).  The CLI instead
``persist``s the per-impression frame and feeds both of its sinks from it:
:func:`combined_lines` renders job 1's byte format, :func:`ctr_lines` job 2's.
A persisted frame keeps its lineage, so a lost cached block is recomputed
from the input; ``catalog.materialize`` would cut the lineage and lose it.

Fidelity decisions (SURVEY.md §2.3):
  E1 malformed JSON  → null fields + corrupt counter (not stale-value reuse);
                       an impression line with no ``adId`` is dropped (it
                       has no job-2 key)
  E2 N clicks        → counted once (an any-click flag per id) — preserved
  E3 duplicate ids   → one row per id, deterministic max-payload (not
                       last-write-wins in reduce iteration order); the
                       ``combined`` sink still writes every impression line
  E4 orphan clicks   → dropped gracefully (reference crashes, :163-167)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoopmapreduce_spark.functions.javafmt import java_f32_str
from hadoopmapreduce_spark.sources import jsonlines

IMPRESSION_SCHEMA = T.StructType(
    [
        T.StructField("impressionId", T.StringType()),
        T.StructField("referrer", T.StringType()),
        T.StructField("adId", T.StringType()),
    ]
)


def per_impression(
    spark: SparkSession, impressions_path: str, clicks_path: str
) -> DataFrame:
    """The reference's job-1 reduce: one row per impression id.

    Columns: ``impressionId``; ``payloads``, the ``(referrer, adId)`` struct
    of every impression line with that id; ``p``, the one payload kept for
    the CTR (E3); ``clicked``, whether any click line names the id (E2).
    Ids with no impression line (orphan clicks, E4) are dropped.
    """
    # The reference feeds BOTH dirs to one mapper and sniffs provenance per
    # record by probing for a `referrer` key (ClickThru.java:111).  We read
    # them as one scan and apply the same probe — path identity is not
    # trusted, exactly like the reference.
    rows = jsonlines.read_jsonlines_tolerant(
        spark, [impressions_path, clicks_path], IMPRESSION_SCHEMA
    )
    is_impression = F.col("referrer").isNotNull()
    rows = rows.filter(
        F.col("impressionId").isNotNull() & ~(is_impression & F.col("adId").isNull())
    )
    payload = F.when(is_impression, F.struct("referrer", "adId"))
    return (
        rows.groupBy("impressionId")
        .agg(
            F.collect_list(payload).alias("payloads"),  # skips click lines
            F.max(payload).alias("p"),
            F.bool_or(~is_impression).alias("clicked"),
        )
        .filter(F.col("p").isNotNull())
    )


def ctr_from_per_impression(per_id: DataFrame) -> DataFrame:
    """The reference's job 2: mean click flag per kept (referrer, adId)."""
    return per_id.groupBy(
        F.col("p.referrer").alias("referrer"), F.col("p.adId").alias("ad_id")
    ).agg(F.avg(F.col("clicked").cast("double")).alias("ctr"))


def run_clickthru(
    spark: SparkSession, impressions_path: str, clicks_path: str
) -> DataFrame:
    """CTR per (referrer, ad_id) from JSON-lines impression/click dirs.

    Result schema: (referrer string, ad_id string, ctr double) — the typed
    form of the reference's ``[url, adID]\\t<float>`` text lines.
    """
    return ctr_from_per_impression(
        per_impression(spark, impressions_path, clicks_path)
    )


def combined_lines(per_id: DataFrame) -> DataFrame:
    """Job 1's text output, one line per impression line:
    ``0\\t{referrer/x1fadId/x1e<flag>``."""
    q = F.col("q")
    return per_id.select(F.explode("payloads").alias("q"), "clicked").select(
        F.concat(
            F.lit("0\t{"),
            q.referrer,
            F.lit("/x1f"),
            q.adId,
            F.lit("/x1e"),
            F.when(F.col("clicked"), F.lit("1")).otherwise(F.lit("0")),
        ).alias("value")
    )


def ctr_lines(ctr: DataFrame) -> DataFrame:
    """Job 2's text output: ``[referrer, adId]\\t<ctr>``, the CTR rendered
    as Java's ``Float.toString`` of the 32-bit float the reference keeps
    (``ClickThru.java:179-186``)."""
    return ctr.select(
        F.concat(
            F.lit("["),
            F.col("referrer"),
            F.lit(", "),
            F.col("ad_id"),
            F.lit("]\t"),
            java_f32_str(F.col("ctr")),
        ).alias("value")
    )
