"""Hive-partitioned parquet sink + pruned read-back.

The reference's storage story is CSV-on-S3 re-scanned per query
(reference README.md:169,192,207,220); the Spark-native upgrade is
columnar parquet laid out with ``partitionBy`` so that predicates on
the partition key prune whole directories before any I/O happens.
This module proves that path end-to-end: write ``documents``
partitioned by ``lang``, read it back with a partition predicate, and
aggregate — the oracle runs the same aggregate against the ORIGINAL
table, so a hash match proves the sink/source cycle is lossless and
the pruned scan sees exactly the right rows.

At 100 TB this is the core layout decision: partition by a
low-cardinality routing key (lang/source/date), sort within files by
the common filter key so row-group min/max stats prune further, and
size files at 128-512 MB.  tests/test_sources.py asserts the
``PartitionFilters`` actually appear in the scan node.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.session import scratch_dir

PRUNE_LANGS = ("de", "fr")
_CACHE: dict[str, str] = {}


def write_partitioned(df: DataFrame, path: str, key: str = "lang") -> None:
    df.write.mode("overwrite").partitionBy(key).parquet(path)


def partitioned_documents(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the partitioned copy once per process per sf."""
    if sf_dir not in _CACHE:
        out = os.path.join(scratch_dir("parquet_part"), "documents_by_lang")
        write_partitioned(load_table(spark, sf_dir, "documents"), out)
        _CACHE[sf_dir] = out
    return _CACHE[sf_dir]


def pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read back with a partition predicate — Catalyst turns the lang
    filter into PartitionFilters (directory pruning, zero I/O for the
    pruned languages)."""
    path = partitioned_documents(spark, sf_dir)
    return spark.read.parquet(path).filter(F.col("lang").isin(*PRUNE_LANGS))


def q_parquet_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the pruned partitioned read-back; the oracle runs
    the identical aggregate on the original table."""
    back = pruned_read(spark, sf_dir)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


O_PARQUET_PART = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM documents
WHERE lang IN {PRUNE_LANGS!r}
GROUP BY lang ORDER BY lang
"""


QUERIES = {"parquet_partitioned_roundtrip": q_parquet_partitioned_roundtrip}
ORACLES = {"parquet_partitioned_roundtrip": O_PARQUET_PART}
