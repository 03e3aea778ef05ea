"""Structured Streaming variants of the event-time operators.

``readStream`` over the same parquet fixtures drives the identical
windowed aggregations as operators/timeseries.py — one definition of
the window semantics, two execution modes (the Spark-native analog of
a streaming engine's batch/stream duality).  The batch fixture is
replayed through the streaming engine synchronously
(``processAllAvailable``), which exercises real streaming machinery:
incremental state store, watermark advancement, output modes.

At scale the only changes are the source (kafka/files arriving) and the
trigger; the watermark bounds state at (windows-in-flight × keys).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import events_ddl, normalize_ts
from clickhouse_vs_dbt_spark.operators.common import dsum
from clickhouse_vs_dbt_spark.operators.timeseries import TUMBLE_SEC
from clickhouse_vs_dbt_spark.session import scratch_dir


def _as_stream_dir(sf_dir: str) -> str:
    """FileStreamSource requires a *directory* to monitor; the fixture is
    a single parquet file.  Expose it through a scratch dir with a
    symlink (no fixture copy; the fixture itself is never written)."""
    import os

    d = scratch_dir("events_stream")
    os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), f"{d}/events.parquet")
    return d


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = (
        spark.readStream.schema(events_ddl(spark, f"{sf_dir}/events.parquet"))
        .parquet(_as_stream_dir(sf_dir))
    )
    return normalize_ts(raw)


def run_tumbling_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window count/sum as a streaming query; returns the
    final result table after the fixture is fully replayed.

    outputMode=complete against a memory sink so every window is
    observable; with a real unbounded sink you would use append +
    watermark-expired finalization instead.
    """
    events = streaming_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{TUMBLE_SEC} seconds").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("window_start", "event_type")


def q_events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable wrapper (rows-only: the result is materialized
    through a streaming query, but values must equal the batch
    operator — asserted in tests/test_streaming.py and implied by the
    shared oracle of events_tumbling_window)."""
    return run_tumbling_stream(spark, sf_dir)


def q_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (10 min every 5 min) aggregation as a streaming
    query — each event contributes to size/slide = 2 windows of
    incremental state; the watermark bounds windows-in-flight exactly
    as in the tumbling case."""
    from clickhouse_vs_dbt_spark.operators.timeseries import SLIDE_SEC

    events = streaming_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", f"{TUMBLE_SEC} seconds", f"{SLIDE_SEC} seconds").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    name = f"stream_slide_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("window_start")


QUERIES = {
    "events_tumbling_stream": q_events_tumbling_stream,
    "events_sliding_stream": q_events_sliding_stream,
}

# The streaming results are definitionally equal to the batch windowed
# aggregates — reuse those oracles so the driver hash-checks them too.
from clickhouse_vs_dbt_spark.operators.timeseries import (  # noqa: E402
    O_SLIDING,
    O_TUMBLING,
)

ORACLES = {
    "events_tumbling_stream": O_TUMBLING,
    "events_sliding_stream": O_SLIDING,
}
