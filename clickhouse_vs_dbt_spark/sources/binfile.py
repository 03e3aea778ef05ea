"""Binary-file ingestion: ``binaryFile`` source for opaque payloads.

The multimodal story (operators/multimodal.py) assumes image/audio
payloads already sit in a ``binary`` column; this module covers the
step before that — ingesting a *directory of raw files* (the shape
object stores actually hand you: one blob per image/audio clip) into
that column with Spark's built-in ``binaryFile`` source, which yields
(path, modificationTime, length, content) per file.

The fixture stand-in writes each sampled document's UTF-8 text as a
``doc_<id>.bin`` blob, reads the directory back, and emits
(doc_id parsed from the filename, byte length, md5 hex digest).  The
oracle computes identical values from the original table — a hash
match proves byte-exact ingestion.

At 100 TB: binaryFile lists and reads files in parallel across
executors (one task per file ≤ maxPartitionBytes); small-file overhead
is real, so production layouts pack blobs into parquet/tar shards
(see multimodal.py) — this source is the *ingestion* edge that builds
those shards.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.session import scratch_dir

N_FILES = 64  # smallest doc_ids become standalone blobs
_CACHE: dict[str, str] = {}


def blob_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the blob directory once per process per sf.  The
    driver-side write loop is fixture scaffolding (simulating an
    external upload), not part of the measured read path."""
    if sf_dir not in _CACHE:
        rows = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .limit(N_FILES)
            .collect()
        )
        out = os.path.join(scratch_dir("binfile"), "blobs")
        os.makedirs(out, exist_ok=True)
        for r in rows:
            with open(os.path.join(out, f"doc_{r.doc_id}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))
        _CACHE[sf_dir] = out
    return _CACHE[sf_dir]


def q_binary_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile read-back → (doc_id, byte_len, payload md5)."""
    files = spark.read.format("binaryFile").load(blob_dir(spark, sf_dir))
    return (
        files.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("byte_len"),
            F.md5(F.col("content")).alias("payload_md5"),
        )
        .orderBy("doc_id")
    )


O_BINARY_FILE = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS payload_md5
FROM documents
WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {N_FILES})
ORDER BY doc_id
"""


QUERIES = {"binary_file_roundtrip": q_binary_file_roundtrip}
ORACLES = {"binary_file_roundtrip": O_BINARY_FILE}
