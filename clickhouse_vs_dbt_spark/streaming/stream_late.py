"""Watermark late-data semantics, value-checked.

The other streaming modules replay the fixture in one micro-batch, so
the watermark never actually *drops* anything.  This one replays it in
THREE deterministic micro-batches (``maxFilesPerTrigger=1`` over three
files with pinned modification times) and runs the tumbling aggregate
in **append** mode, which exercises the two behaviors a watermark
exists for: late rows into already-finalized windows are DROPPED, and
windows inside the final watermark horizon are never emitted
(unfinalized state at shutdown).

Spark's exact semantics, established empirically on 4.1.2 (and encoded
in the oracle):

* the watermark used during batch *i* is
  ``wm(i) = max(event time through batch i−1) − delay``;
* the LATE-ROW filter of batch *i* uses the watermark of the *previous*
  batch, ``wm(i−1)`` — one extra batch of grace (SPARK's split between
  late-events and eviction watermarks);
* within a batch, input is merged into state BEFORE eviction, so an
  evicted window's emitted count includes same-batch contributions.

With files f0/f1/f2 (batches 0/1/2) that reduces to a pure function of
the split: batch 2's late filter is ``wmL = max(ts in f0) − delay``
(f1's filter is the initial −∞ watermark), the final no-data batch
evicts with ``wmF = max(all ts) − delay``, and no window can be emitted
twice because batch-1 eviction (``≤ wm(1) = wmL``) and batch-2
acceptance (``window_end > wmL``) are disjoint.  The DuckDB oracle
replays exactly that:  accepted = f0 ∪ f1 ∪ {f2 : window_end > wmL};
emitted = groups with window_end ≤ wmF.

At scale nothing changes but the source: the file split stands in for
arrival order on a real bus, and state stays bounded at
(windows-in-flight × keys) precisely because rule 1 lets the store
evict finalized windows.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import events_ddl, normalize_ts
from clickhouse_vs_dbt_spark.operators.common import dsum, sql_dsum
from clickhouse_vs_dbt_spark.operators.timeseries import TUMBLE_SEC
from clickhouse_vs_dbt_spark.session import scratch_dir

DELAY_SEC = 3600  # watermark delay: 1 hour
N_FILES = 3  # file i = rows with event_id % 3 == i; f2 holds the stragglers


def _batched_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the fixture as three single-file batches with pinned mtimes
    so FileStreamSource picks them up in order, one per trigger."""
    path = f"{sf_dir}/events.parquet"
    raw = spark.read.schema(events_ddl(spark, path)).parquet(path)
    out = scratch_dir("late_stream")
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


def run_late_drop_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-trigger replay → append-mode tumbling aggregate → memory
    sink; returns the finalized windows only."""
    import uuid

    src = _batched_dir(spark, sf_dir)
    events = normalize_ts(
        spark.readStream.schema(events_ddl(spark, f"{sf_dir}/events.parquet"))
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        events.withWatermark("ts", f"{DELAY_SEC} seconds")
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
    sink = f"late_drop_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(sink).orderBy("window_start", "event_type")


_WEND = f"to_timestamp(floor(epoch(ts) / {TUMBLE_SEC}) * {TUMBLE_SEC} + {TUMBLE_SEC})"

O_LATE_DROP = f"""
WITH wm_l AS (
  SELECT MAX(ts) - INTERVAL {DELAY_SEC} SECOND AS w FROM events
  WHERE event_id % {N_FILES} = 0),
wm_f AS (SELECT MAX(ts) - INTERVAL {DELAY_SEC} SECOND AS w FROM events),
accepted AS (
  SELECT * FROM events WHERE event_id % {N_FILES} <> 2
  UNION ALL
  SELECT e.* FROM events e, wm_l
  WHERE e.event_id % {N_FILES} = 2 AND {_WEND} > wm_l.w)
SELECT CAST(floor(epoch(ts) / {TUMBLE_SEC}) * {TUMBLE_SEC} AS BIGINT)
         AS window_start,
       event_type, COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
FROM accepted, wm_f
WHERE {_WEND} <= wm_f.w
GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES = {"events_stream_late_drop": run_late_drop_stream}
ORACLES = {"events_stream_late_drop": O_LATE_DROP}
