"""JSON-lines source/sink — the interchange format of training-data
pipelines (one JSON document per line, schema-on-read).

The reference's only source format is headerless CSV on object storage
(sources/ssb_csv.py); a corpus engine additionally needs JSONL in and
out.  The Spark-native shape mirrors the CSV source: explicit
``StructType`` (never inference — a 100 TB inference pass reads the
data twice and still guesses nullable doubles), ``mode=FAILFAST`` for
strict parsing, lazy re-scan-per-action external-table semantics.
Writes are plain ``df.write.json`` — line-delimited, splittable,
S3-friendly.

The roundtrip query proves both directions end-to-end: documents →
JSONL sink → JSONL scan → aggregate, hash-checked against the same
aggregate computed straight from the parquet fixture (any loss or
mistyping in either direction breaks the hash).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.operators.common import dsum, sql_dsum
from clickhouse_vs_dbt_spark.session import scratch_dir

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL → read back → per-(lang, source) aggregate.
    Deleting/retyping any field in either direction changes the hash."""
    d = load_table(spark, sf_dir, "documents")
    out = os.path.join(scratch_dir("jsonl_roundtrip"), "documents_jsonl")
    write_jsonl(d, out)
    back = read_jsonl(spark, out, DOCUMENTS_SCHEMA)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            dsum(F.length("text").cast("double")).alias("total_text_len"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang", "source")
    )


O_JSONL_ROUNDTRIP = f"""
SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {sql_dsum('CAST(length(text) AS DOUBLE)')} AS total_text_len,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""

QUERIES = {"jsonl_source_roundtrip": q_jsonl_roundtrip}
ORACLES = {"jsonl_source_roundtrip": O_JSONL_ROUNDTRIP}
