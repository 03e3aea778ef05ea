"""Streaming materialized-view maintenance: foreachBatch partial-state
merge (the Structured Streaming twin of operators/incremental.py's
``incremental_agg_mv``).

ClickHouse materialized views fold each inserted block into an
AggregatingMergeTree state table.  The Spark-native equivalent is a
``foreachBatch`` sink that reduces every micro-batch to partial
aggregate state (n, exact-decimal sum, min, max per key) and merges it
with the persisted state by one keyed re-aggregate — O(batch + |keys|)
per trigger, never a history re-scan.  Unlike the built-in
update-mode aggregation (which holds state in the state store), the
state here lives in a queryable parquet table — the MV itself.

The fixture replays events in three file-triggers; convergence to the
one-shot batch aggregate is the oracle check.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from clickhouse_vs_dbt_spark.catalog import events_ddl, normalize_ts
from clickhouse_vs_dbt_spark.operators.common import sql_dsum
from clickhouse_vs_dbt_spark.session import scratch_dir

_DEC18 = "decimal(18,6)"
_DEC38 = "decimal(38,6)"
N_FILES = 3


def _batched_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three single-file chronological batches (event_id stripes).

    Batches are written from the RAW footer-schema read (same as
    stream_late._batched_dir) — not from load_table, whose ts is already
    normalized to TimestampType.  The stream below re-reads them with
    ``events_ddl`` + ``normalize_ts``; writing normalized batches
    here would make that declared schema lie about the file contents
    under the nanos-int64 events layout (ts BIGINT declared, timestamp
    stored) and normalize_ts would then divide micros by 1000 again."""
    import glob
    import shutil

    path = f"{sf_dir}/events.parquet"
    raw = spark.read.schema(events_ddl(spark, path)).parquet(path)
    out = scratch_dir("mv_stream")
    for i in range(N_FILES):
        tmp = os.path.join(out, f"_tmp{i}")
        raw.filter(F.col("event_id") % N_FILES == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(out, f"batch{i}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000_000 + 100 * i, 1_000_000_000 + 100 * i))
    return out


def q_events_stream_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through a foreachBatch MV maintainer; return the
    finalized per-event-type aggregate table."""
    src = _batched_dir(spark, sf_dir)
    base = scratch_dir("stream_mv_state")
    state = {"version": -1}

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        partial = batch.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_DEC18)).cast(_DEC38).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        if state["version"] >= 0:
            prev = batch.sparkSession.read.parquet(f"{base}/v{state['version']}")
            partial = (
                prev.unionByName(partial)
                .groupBy("event_type")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("s").cast(_DEC38).alias("s"),
                    F.min("mn").alias("mn"),
                    F.max("mx").alias("mx"),
                )
            )
        state["version"] += 1
        # post-aggregation state: already AQE-coalesced, no rebalance (r16)
        partial.write.mode("overwrite").parquet(f"{base}/v{state['version']}")

    stream = normalize_ts(
        spark.readStream.schema(events_ddl(spark, f"{sf_dir}/events.parquet"))
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", os.path.join(base, f"_ckpt_{uuid.uuid4().hex[:8]}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(f"{base}/v{state['version']}")
    return (
        final.select(
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.col("s").cast("double").alias("total_value"),
            F.col("mn").alias("min_value"),
            F.col("mx").alias("max_value"),
        )
        .orderBy("event_type")
    )


O_STREAM_MV = f"""
SELECT event_type, COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES = {"events_stream_mv": q_events_stream_mv}
ORACLES = {"events_stream_mv": O_STREAM_MV}
