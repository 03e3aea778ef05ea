"""ORC source/sink — the second columnar interchange format.

The reference's source layer is declarative DDL over object-storage
files (reference README.md:158-222); parquet and ORC are the two
columnar formats a Spark-native engine must read and write natively.
Spark's ORC path has the same vectorized reader + predicate-pushdown +
column-pruning machinery as parquet, so everything in SCALING.md §1
about scan shape carries over.

The roundtrip query proves both directions: events → ORC sink → ORC
scan → keyed aggregate, hash-checked against the same aggregate DuckDB
computes from the parquet fixture (DuckDB cannot read ORC, so the
oracle pins the VALUES, which is exactly the property that matters —
a lossy type mapping in either direction breaks the hash).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.operators.common import dsum, sql_dsum
from clickhouse_vs_dbt_spark.session import scratch_dir


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → read back → per-type aggregate over every column
    class (timestamp, long, double, string) so any type-mapping loss in
    either direction changes the hash."""
    e = load_table(spark, sf_dir, "events")
    out = os.path.join(scratch_dir("orc_roundtrip"), "events_orc")
    write_orc(e, out)
    back = read_orc(spark, out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.unix_micros(F.min("ts")).alias("min_ts_us"),
            F.unix_micros(F.max("ts")).alias("max_ts_us"),
            dsum(F.col("value")).alias("sum_value"),
            F.sum(F.length("props")).cast("long").alias("sum_props_len"),
        )
        .orderBy("event_type")
    )


O_ORC_ROUNDTRIP = f"""
SELECT event_type, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       epoch_us(MIN(ts)) AS min_ts_us, epoch_us(MAX(ts)) AS max_ts_us,
       {sql_dsum('value')} AS sum_value,
       CAST(SUM(length(props)) AS BIGINT) AS sum_props_len
FROM events GROUP BY event_type ORDER BY event_type
"""

QUERIES = {"orc_source_roundtrip": q_orc_roundtrip}
ORACLES = {"orc_source_roundtrip": O_ORC_ROUNDTRIP}
