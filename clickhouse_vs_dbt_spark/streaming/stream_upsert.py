"""Streaming upsert sink — ``foreachBatch`` merging each micro-batch
into a keyed table.

The memory-sink variants elsewhere in ``streaming/`` prove operator
semantics; production pipelines land streams in tables, and the Spark
surface for arbitrary-sink merge logic is
``writeStream.foreachBatch``: per micro-batch, a normal batch
DataFrame arrives and ordinary batch code upserts it.  This module
wires that to the same merge-by-key shape as the incremental
materialization (plans/models.py): prior rows whose key appears in the
batch are replaced, then the batch unions in — copy-on-write to a
versioned directory (swap for Delta/Iceberg ``MERGE INTO`` at 100 TB;
identical batch logic, plus file pruning and ACID swap).

End-to-end proof: the events fixture is replayed with duplicate
delivery (every event arrives twice — see stream_dedup.py), each batch
upserts by ``event_id``, and the final table must equal the fixture
exactly — double-counting or dropped keys breaks the driver's hash
check against the fixture-side oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import events_ddl
from clickhouse_vs_dbt_spark.operators.common import DEC
from clickhouse_vs_dbt_spark.session import scratch_dir
from clickhouse_vs_dbt_spark.streaming.stream_dedup import (
    _as_duplicated_stream_dir,
)


def q_events_stream_upsert(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Replay events (duplicate delivery) through a foreachBatch upsert
    keyed on event_id; return the final merged table's rows.

    With ``max_files_per_trigger=1`` the two deliveries arrive in
    separate micro-batches, exercising the cross-batch merge path
    (existing-table anti-join); the default single batch exercises
    intra-batch dedup.  Both must converge to the fixture."""
    reader = spark.readStream.schema(
        events_ddl(spark, f"{sf_dir}/events.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(_as_duplicated_stream_dir(sf_dir))
    base = scratch_dir("stream_upsert")
    state = {"version": -1}

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        # at-least-once sources can duplicate within a batch too
        batch = batch.dropDuplicates(["event_id"])
        if state["version"] < 0:
            merged = batch
        else:
            existing = batch.sparkSession.read.parquet(
                f"{base}/v{state['version']}"
            )
            merged = existing.join(
                batch.select("event_id"), on="event_id", how="left_anti"
            ).unionByName(batch)
        state["version"] += 1
        merged.write.mode("overwrite").parquet(f"{base}/v{state['version']}")

    q = (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(base, "_checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.read.parquet(f"{base}/v{state['version']}")
        .select(
            "event_id",
            "event_type",
            F.col("value").cast(DEC).cast("double").alias("value_dec"),
        )
        .orderBy("event_id")
    )


# Upsert of an exactly-duplicated replay converges to the fixture.
O_STREAM_UPSERT = """
SELECT event_id, event_type,
       CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS value_dec
FROM events
ORDER BY event_id
"""

QUERIES = {"events_stream_upsert": q_events_stream_upsert}
ORACLES = {"events_stream_upsert": O_STREAM_UPSERT}
