"""Custom stateful streaming operator via applyInPandasWithState: a
running per-user event counter that survives across micro-batches — the
escape hatch for operators Structured Streaming's built-ins can't express."""

from __future__ import annotations

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)


def test_apply_in_pandas_with_state(spark, tmp_path):
    # defined inside the test so cloudpickle ships it by value (a top-level
    # function in a pytest module isn't importable on Spark's Python workers)
    def _count_updates(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    path = str(tmp_path / "events")
    schema = "event_id long, ts timestamp, user_id long"

    def write_batch(rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    write_batch([(1, "2024-01-01 00:00:00", 1), (2, "2024-01-01 00:01:00", 1),
                 (3, "2024-01-01 00:02:00", 2)])

    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n_events", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])
    counted = stream.groupBy("user_id").applyInPandasWithState(
        _count_updates,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        counted.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_stateful_counts")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch: state must carry the counts forward
        write_batch([(4, "2024-01-01 00:03:00", 1)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("t_stateful_counts").collect()
    latest: dict[int, int] = {}
    for r in rows:
        latest[r["user_id"]] = max(latest.get(r["user_id"], 0), r["n_events"])
    assert latest == {1: 3, 2: 1}
