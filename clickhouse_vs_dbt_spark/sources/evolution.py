"""Schema-evolution reads: mergeSchema over heterogeneous parquet.

Long-lived tables change shape — a pipeline that lands daily parquet
batches will eventually add columns (the reference's fixed-DDL CSV
sources, README.md:158-222, sidestep this only because the tutorial
never evolves).  Spark's parquet source handles it natively:
``mergeSchema=true`` unions the footers' schemas and back-fills absent
columns with NULL, which is exactly ClickHouse's ALTER TABLE ADD
COLUMN + default-NULL read semantics for old parts.

This module proves the path end-to-end: batch 1 is written WITHOUT the
``source`` column (an old producer), batch 2 with it; the merged read
must see every row, with NULLs exactly on the old batch.  The oracle
reconstructs the same split from the original table.

At 100 TB: schema merging is a *footer* operation (one small read per
file, driver-side) — cost is per-file count, not per-byte, and is paid
once per query plan.  Keep batch schemas append-only (new nullable
columns only) and the merged read stays free; renames/type-changes
need a rewrite, same as any columnar store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.operators.common import dsum, sql_dsum
from clickhouse_vs_dbt_spark.session import scratch_dir

SPLIT_MOD = 2  # doc_id % 2 == 0 → old-schema batch, == 1 → new-schema
_CACHE: dict[str, str] = {}


def evolved_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the two-generation layout once per process per sf."""
    if sf_dir not in _CACHE:
        d = load_table(spark, sf_dir, "documents")
        out = os.path.join(scratch_dir("schema_evo"), "docs")
        (
            d.filter(F.col("doc_id") % SPLIT_MOD == 0)
            .select("doc_id", "lang", "n_chars")  # old producer: no source col
            .write.mode("overwrite")
            .parquet(f"{out}/batch=1")
        )
        (
            d.filter(F.col("doc_id") % SPLIT_MOD == 1)
            .select("doc_id", "lang", "n_chars", "source")
            .write.mode("append")
            .parquet(f"{out}/batch=2")
        )
        _CACHE[sf_dir] = out
    return _CACHE[sf_dir]


def q_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema read over both generations → per-lang aggregate with
    a NULL-source census; hash-matching the oracle proves no row was
    lost and NULL back-fill landed exactly on the old batch."""
    back = spark.read.option("mergeSchema", "true").parquet(evolved_dir(spark, sf_dir))
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("source").isNull().cast("long")).alias("n_old_schema"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


O_SCHEMA_EVOLUTION = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % {SPLIT_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_old_schema,
       COUNT(DISTINCT CASE WHEN doc_id % {SPLIT_MOD} = 1 THEN source END)
         AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
"""


QUERIES = {"schema_evolution_roundtrip": q_schema_evolution_roundtrip}
ORACLES = {"schema_evolution_roundtrip": O_SCHEMA_EVOLUTION}
