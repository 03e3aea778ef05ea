"""Streaming exact deduplication with bounded state.

The batch dedup family (operators/dedup.py) answers "remove duplicates
from a corpus at rest"; a 100 TB ingest pipeline also needs the online
variant — events arriving from an at-least-once source (Kafka, file
drops) where the SAME record can be delivered more than once.  Spark's
native answer is ``dropDuplicatesWithinWatermark``: state holds one
entry per key only until the watermark passes the key's event time, so
state is O(keys within the watermark horizon), not O(all keys ever) —
the property that makes exact streaming dedup viable indefinitely.

Harness shape: the events fixture is replayed TWICE (two file names in
the monitored directory → every event delivered twice), the stream
dedups on ``event_id``, and the result must equal the fixture itself —
which is exactly what the DuckDB oracle selects.  This is a real
end-to-end duplicate-delivery scenario, not a no-op: without the
operator the sink would hold 2× rows and the driver's row-count check
would fail.

Reference parity: no streaming surface exists in the reference
(SURVEY.md §2.2); this is a §2.3 training-data-pipeline extension.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import events_ddl, normalize_ts
from clickhouse_vs_dbt_spark.operators.common import DEC
from clickhouse_vs_dbt_spark.session import scratch_dir


def _as_duplicated_stream_dir(sf_dir: str) -> str:
    """Expose the single-file events fixture as a directory in which the
    same data arrives twice (two distinct file names — the
    FileStreamSource treats them as two deliveries).  Symlinks only; the
    fixture is never copied or written."""
    d = scratch_dir("events_dup_stream")
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    os.symlink(src, f"{d}/delivery_1.parquet")
    os.symlink(src, f"{d}/delivery_2.parquet")
    return d


def q_events_stream_dedup(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Replay events with duplicate delivery, dedup by event_id inside
    the streaming engine, return the deduplicated rows.

    At scale: the watermark bounds the dedup-state store; a duplicate
    arriving later than the watermark horizon is dropped as late data
    rather than growing state forever (choose the horizon ≥ the source's
    redelivery window).  Here both deliveries land in one micro-batch,
    which also exercises intra-batch dedup."""
    raw = spark.readStream.schema(
        events_ddl(spark, f"{sf_dir}/events.parquet")
    ).parquet(_as_duplicated_stream_dir(sf_dir))
    deduped = (
        normalize_ts(raw)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "event_type",
            F.col("value").cast(DEC).cast("double").alias("value_dec"),
        )
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("event_id")


# Dedup of an exactly-duplicated replay must reproduce the fixture —
# the oracle is the fixture itself, keyed and value-rounded identically.
O_STREAM_DEDUP = """
SELECT event_id, event_type,
       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value_dec
FROM events
ORDER BY event_id
"""

QUERIES = {"events_stream_dedup": q_events_stream_dedup}
ORACLES = {"events_stream_dedup": O_STREAM_DEDUP}
