"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState``.

``F.session_window`` (batch and streaming) covers plain gap-based
sessions; this module is the *custom stateful operator* path for
semantics the built-in windows can't express — per-key state carried
across micro-batches, closed incrementally by event-time timeouts.  The
operator reproduces the exact semantics of the batch
``events_session_window`` operator (operators/timeseries.py) so its
output is verifiable against the same DuckDB oracle: a new session
starts when the gap to the previous event is >= 30 minutes (Spark's
half-open ``[ts, ts+gap)`` session intervals).

Execution model per key (user_id):

* state = the one open session: (start_us, last_us, n_events, sum6)
  where sum6 accumulates the value in exact 1e-6 units (the integer
  twin of the DECIMAL(18,6) summation pattern in operators/common.py —
  associative, so batch boundaries can't change the result).
* data batch → merge the key's (sorted) events: gaps >= 30 min close a
  session and emit it; the trailing session stays in state with an
  event-time timeout at ``last + gap``.
* timeout (watermark passed ``last + gap``) → the open session can
  never be extended; emit and clear.

The fixture replay makes this genuinely multi-batch: the events table
is re-chunked into chronological range partitions with strictly
increasing file mtimes, and ``maxFilesPerTrigger=1`` feeds them through
the micro-batch engine one at a time, so sessions routinely span
batches.  A far-future sentinel row (user_id = -1, never emitted)
advances the watermark past every real timestamp at the end, flushing
remaining open sessions — the replay analog of "the stream went quiet".

At 100 TB scale: state is O(users in flight), the shuffle is the
groupBy(user_id) exchange only, and the state store checkpoints
incrementally; the same code runs on kafka sources by swapping
``readStream``.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.operators.timeseries import SESSION_GAP_MIN
from clickhouse_vs_dbt_spark.session import scratch_dir

GAP_US = SESSION_GAP_MIN * 60 * 1_000_000
_MICRO = Decimal("0.000001")

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum6", T.LongType()),
    ]
)


def _q6(v: float) -> int:
    """value → exact 1e-6 units, same rounding as CAST(v AS DECIMAL(18,6))
    (both go through the shortest decimal repr of the double, HALF_UP)."""
    return int(Decimal(repr(float(v))).quantize(_MICRO, rounding=ROUND_HALF_UP).scaleb(6))


def _row(user_id: int, start_us: int, n: int, sum6: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_start_us": [start_us],
            "n_events": [n],
            "total_value": [sum6 / 1_000_000],
        }
    )


def sessionize(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key

    if state.hasTimedOut:
        # Watermark passed last+gap: the open session is final.
        start_us, _last, n, sum6 = state.get
        state.remove()
        if user_id >= 0:
            yield _row(user_id, start_us, n, sum6)
        return

    events = pd.concat(list(pdfs))
    if user_id < 0:
        return  # watermark sentinel; advances event time, emits nothing
    events = events.sort_values("ts_us")

    open_sess: tuple[int, int, int, int] | None = state.get if state.exists else None
    for ts_us, value in zip(events["ts_us"], events["value"]):
        ts_us = int(ts_us)
        if open_sess is None:
            open_sess = (ts_us, ts_us, 1, _q6(value))
        elif ts_us - open_sess[1] >= GAP_US:
            yield _row(user_id, open_sess[0], open_sess[2], open_sess[3])
            open_sess = (ts_us, ts_us, 1, _q6(value))
        else:
            open_sess = (
                open_sess[0],
                max(open_sess[1], ts_us),
                open_sess[2] + 1,
                open_sess[3] + _q6(value),
            )

    assert open_sess is not None
    wm_us = state.getCurrentWatermarkMs() * 1000
    if open_sess[1] + GAP_US <= wm_us:
        # Already unextendable — emit now, hold no state.
        state.remove() if state.exists else None
        yield _row(user_id, open_sess[0], open_sess[2], open_sess[3])
    else:
        state.update(open_sess)
        state.setTimeoutTimestamp((open_sess[1] + GAP_US) // 1000)


def _chunked_replay_dir(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> str:
    """Re-chunk the events fixture into chronological parquet files with
    strictly increasing mtimes (FileStreamSource orders by mtime), plus
    a far-future sentinel.  Writes only to a scratch dir."""
    d = scratch_dir("events_sessions")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.to_timestamp("ts").alias("ts"), "user_id", "event_type", "value"
    )
    ev.repartitionByRange(n_chunks, "ts").write.mode("overwrite").parquet(d)
    max_ts = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    # One-row sentinel: written with pyarrow directly — a Spark write
    # job for a single row costs seconds of scheduling for nothing.
    import pyarrow as pa
    import pyarrow.parquet as pq

    sentinel_us = max_ts + 400 * 86400 * 1_000_000
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": pa.array([sentinel_us], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["sentinel"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
            }
        ),
        f"{d}/zz-sentinel.parquet",
    )
    parts = sorted(
        f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time() - 3600
    for i, name in enumerate(parts):
        os.utime(f"{d}/{name}", (base + 10 * i, base + 10 * i))
    os.utime(f"{d}/zz-sentinel.parquet", (base + 10 * len(parts), base + 10 * len(parts)))
    return d


def run_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the fixture through the stateful sessionizer; returns the
    complete session table (== the batch events_session_window result)."""
    replay_dir = _chunked_replay_dir(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(replay_dir)
    )
    sessions = (
        stream.withWatermark("ts", "1 minute")
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    # The state-store instance count == shuffle partitions at stream
    # start; every micro-batch commits each instance, so the replay's
    # fixed cost is (batches × partitions).  8 is plenty for the
    # fixture's 150 users; a real deployment sizes this to key
    # cardinality / executor count before first start (it is fixed for
    # the life of the checkpoint).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            sessions.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name).orderBy("user_id", "session_start_us")


def q_events_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable wrapper — shares the batch session oracle
    (outputs are definitionally equal; also asserted directly in
    tests/test_stateful_sessions.py)."""
    return run_session_stream(spark, sf_dir)


QUERIES = {"events_session_stream": q_events_session_stream}

from clickhouse_vs_dbt_spark.operators.timeseries import O_SESSION  # noqa: E402

ORACLES = {"events_session_stream": O_SESSION}
