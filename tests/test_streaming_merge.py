"""Cross-batch semantics of the streaming CDC upsert: a multi-file replay
split into several micro-batches must accumulate into the same totals as
the batch aggregate, with one versioned snapshot per merge."""

from __future__ import annotations

import datetime as dt
import shutil

from pyspark.sql import functions as F

from hadoopmapreduce_spark.catalog import work_dir


def test_streaming_merge_accumulates_across_batches(spark, tmp_path, monkeypatch):
    from hadoopmapreduce_spark.streaming.windowed import streaming_merge_upsert

    base = dt.datetime(2021, 6, 1)
    rows = [
        # user 1 purchases land in different files -> different micro-batches
        (1, base, 1, "purchase", 10.0, "{}"),
        (2, base + dt.timedelta(hours=1), 1, "purchase", 2.5, "{}"),
        (3, base + dt.timedelta(hours=2), 2, "purchase", 7.0, "{}"),
        (4, base + dt.timedelta(hours=3), 2, "view", 99.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    # 4 single-row files under events.parquet/ -> 4 micro-batches at mft=1
    df.repartition(4, "event_id").write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MERGE_FILES_PER_TRIGGER", "1")
    try:
        out = {
            r.user_id: (r.n_purchases, r.total_value)
            for r in streaming_merge_upsert(spark, str(tmp_path)).collect()
        }
    finally:
        # the snapshots live in a scratch dir keyed by this test's own
        # tmp_path, which no later run reuses
        shutil.rmtree(work_dir("stream_merge", str(tmp_path)))
    assert out == {1: (2, 12.5), 2: (1, 7.0)}
