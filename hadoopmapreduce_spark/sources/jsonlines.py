"""Tolerant JSON-lines source — the reference's native input format.

The reference reads newline-delimited text where each line is a JSON object
optionally preceded by junk (a ``key\\t`` prefix from a prior job's
TextOutputFormat): the parser scans to the first ``{`` and parses from there
(``ClickThru.java:98``).  Records whose JSON is malformed get nulls in every
extracted field (replacing the reference's E1 behavior — a caught exception
that silently *reuses the previous record's value* due to Hadoop Text object
reuse, ``ClickThru.java:88-89,113-120`` — with honest null propagation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_jsonlines_tolerant(
    spark: SparkSession, path: str | list[str], schema: T.StructType
) -> DataFrame:
    """Read junk-prefix-tolerant JSON lines into a typed DataFrame.

    ``path`` is one directory or a list of them, read as one scan.

    ``spark.read.text`` (splittable, parallel) → substring from the first
    ``{`` → ``from_json`` with an explicit schema (no inference pass over
    the data).  Malformed lines yield a row of nulls plus the original line
    in ``_corrupt`` for quarantine accounting — at 100 TB you count and
    sample corrupt rows, you don't crash (reference behavior E1/E4) or
    silently duplicate.
    """
    raw = spark.read.text(path)
    payload = F.expr("substring(value, instr(value, '{'))")
    parsed = raw.select(
        F.from_json(payload, schema).alias("j"),
        F.expr("instr(value, '{')").alias("_brace"),
        F.col("value").alias("_raw"),
    )
    cols = [F.col(f"j.{f.name}").alias(f.name) for f in schema.fields]
    # from_json in PERMISSIVE mode yields an all-null struct for malformed
    # input (never a null struct) — so "corrupt" is: no '{' on the line, or
    # every schema field null after parsing
    all_null = F.lit(True)
    for f in schema.fields:
        all_null = all_null & F.col(f"j.{f.name}").isNull()
    return parsed.select(
        *cols,
        F.when((F.col("_brace") == 0) | F.col("j").isNull() | all_null, F.col("_raw")).alias(
            "_corrupt"
        ),
    )


def read_jsonlines_observed(
    spark: SparkSession, path: str, schema: T.StructType
):
    """Tolerant JSON-lines read with data-quality metrics attached.

    Returns ``(df, observation)``: the observation reports ``n_rows`` and
    ``n_corrupt`` after the first action on ``df`` — collected piggyback on
    the job itself (no second scan), which is how a 100 TB ingest counts its
    quarantine rate for free.  This replaces the reference's failure modes
    for bad records (E1 stale-value reuse / E4 crash) with accounting.
    """
    from pyspark.sql import Observation

    df = read_jsonlines_tolerant(spark, path, schema)
    obs = Observation("jsonlines_quality")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("_corrupt")).alias("n_corrupt"),
    )
    return observed, obs
