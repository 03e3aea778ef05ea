"""Streaming retract-stream (CDC changelog) maintenance: the streaming
twin of operators/mergetree.py's CollapsingMergeTree read.

A signed changelog (+1 insert / −1 retract, cancel-and-restate updates)
arrives in micro-batches; a ``foreachBatch`` sink folds each batch into
per-key net state — (net_rows, net_amount) — by one keyed re-aggregate
of prior state ∪ batch partials, O(batch + |keys|) per trigger.  This
is how Flink-style retract streams and ClickHouse Collapsing merges
absorb updates without rewriting history; amounts fold in
DECIMAL(18,6) so the final state is bit-identical to the one-shot
batch collapse regardless of batch boundaries — which is exactly what
the oracle (the batch collapsing SQL, shared with
``mergetree_collapsing``) checks.

The fixture replays the orders-derived changelog in three
orderkey-striped file batches, splitting most keys' +1/−1 pairs across
different triggers — the interesting case: state must carry partial
(possibly negative) nets between triggers.

The sink honors ``foreachBatch``'s exactly-once replay contract: a
failed/retried micro-batch re-delivers the same batch_id, so committed
state is keyed by batch_id and replays are no-ops (never
double-counted) — see :func:`make_fold_batch`.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.operators.mergetree import _collapsing_sql
from clickhouse_vs_dbt_spark.session import scratch_dir

_DEC18 = "decimal(18,6)"
_DEC38 = "decimal(38,6)"
N_FILES = 3

_CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("sign", T.IntegerType()),
    ]
)


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic signed changelog (same derivation as the batch
    collapsing read: every 5th order gets a cancel + restate pair)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").alias("amount"), F.lit(1).alias("sign"),
    )
    cancel = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").alias("amount"), F.lit(-1).alias("sign"),
    )
    restate = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") - 10.0).alias("amount"), F.lit(1).alias("sign"),
    )
    return base.unionByName(cancel).unionByName(restate)


def _batched_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three single-file batches striped by orderkey with pinned mtimes
    so FileStreamSource replays them in order, one per trigger."""
    out = scratch_dir("retract_stream")
    cl = _changelog(spark, sf_dir)
    for i in range(N_FILES):
        tmp = os.path.join(out, f"_tmp{i}")
        cl.filter(F.col("o_orderkey") % N_FILES == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(out, f"batch{i}.parquet"))
        shutil.rmtree(tmp)
        os.utime(
            os.path.join(out, f"batch{i}.parquet"),
            (1_000_000_000 + 100 * i, 1_000_000_000 + 100 * i),
        )
    return out


def make_fold_batch(base: str, state: dict):
    """Build the ``foreachBatch`` fold with the exactly-once replay
    contract: state versions are KEYED BY batch_id, not by a local
    counter.  foreachBatch re-delivers a batch_id after a failure —
    the sink must make replays no-ops:

    * ``batch_id <= last_committed`` → already folded, skip entirely
      (the post-commit replay case);
    * otherwise derive ``v{batch_id}`` from ``v{last_committed}`` and
      overwrite it — a retry after a FAILED write re-derives from the
      same predecessor and clobbers the torn output (the mid-write
      crash case) — then advance the commit marker only after the
      write succeeds.

    ``state['last_committed']`` is the commit marker; it is process-
    local here (the fixture replays within one process) — a durable
    deployment persists it in the state directory with an atomic
    rename, same protocol."""

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        last = state["last_committed"]
        if bid <= last:
            return  # replayed, already-committed batch: no-op
        partial = batch.groupBy("o_custkey").agg(
            F.sum("sign").cast("long").alias("net_rows"),
            F.sum((F.col("amount") * F.col("sign")).cast(_DEC18))
            .cast(_DEC38)
            .alias("net_amount_dec"),
        )
        if last >= 0:
            prev = batch.sparkSession.read.parquet(f"{base}/v{last}")
            partial = (
                prev.unionByName(partial)
                .groupBy("o_custkey")
                .agg(
                    F.sum("net_rows").alias("net_rows"),
                    F.sum("net_amount_dec").cast(_DEC38).alias("net_amount_dec"),
                )
            )
        # post-aggregation state: already AQE-coalesced, no rebalance (r16)
        partial.write.mode("overwrite").parquet(f"{base}/v{bid}")
        state["last_committed"] = bid

    return fold_batch


def q_events_stream_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the signed changelog through a foreachBatch retract
    maintainer; return the finalized per-customer net state (keys whose
    net row count is positive), identical to the one-shot collapse."""
    src = _batched_dir(spark, sf_dir)
    base = scratch_dir("retract_state")
    state = {"last_committed": -1}
    fold_batch = make_fold_batch(base, state)

    stream = (
        spark.readStream.schema(_CHANGELOG_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option(
            "checkpointLocation",
            os.path.join(base, f"_ckpt_{uuid.uuid4().hex[:8]}"),
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(f"{base}/v{state['last_committed']}")
    return (
        final.filter(F.col("net_rows") > 0)
        .select(
            "o_custkey",
            "net_rows",
            F.col("net_amount_dec").cast("double").alias("net_amount"),
        )
        .orderBy("o_custkey")
    )


QUERIES = {"events_stream_retract": q_events_stream_retract}
# the finalized retract state must equal the one-shot batch collapse
ORACLES = {"events_stream_retract": _collapsing_sql("duckdb")}
