"""Reference-faithful SSB ``.tbl`` CSV source (operators S1 + T1).

The reference declares four external tables ``ENGINE = S3(url, 'CSV')``
with explicit column lists (reference README.md:158-170 customer,
:172-193 lineorder, :195-208 part, :210-221 supplier) over headerless
``|``-delimited ssb-dbgen output.  The Spark-native equivalent is a lazy
``spark.read.csv`` with an explicit StructType — same external-table
semantics (re-scanned per action), strict parse (FAILFAST ≈ ClickHouse's
CSV coercion errors), explicit separator (the reference leaves the
``.tbl``-vs-'CSV' delimiter ambiguity unstated, SURVEY.md §1.3).

Type mapping per SURVEY.md §1.2: UInt32→Long (no unsigned ints in Spark;
sums overflow 2^32 — golden value 446_031_203_850 at README.md:419),
UInt8→Short, LowCardinality(String)→String (dictionary encoding is a
physical concern Parquet handles), Date→Date.

Object-store transport (the reference's ``ENGINE = S3(https://…)``,
README.md:169/192/207/220): every reader here takes a Hadoop
filesystem URI, not a local path — ``file://``, ``s3a://``, ``abfss://``
etc. all resolve through the same ``spark.read`` path, so the S3 form is
``read_ssb_csv(spark, "s3a://bucket/prefix/customer.tbl", "customer")``
with the endpoint/credentials supplied as standard Hadoop conf
(``spark.hadoop.fs.s3a.endpoint`` / ``…access.key`` / ``…secret.key``).
This sandbox has no object store, so the scheme-qualified path is
exercised with ``file://`` URIs (tests/test_sources.py) — the URI
plumbing, lazy re-scan semantics, and strict parse are identical; only
the filesystem driver behind the scheme changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from clickhouse_vs_dbt_spark.session import scratch_dir


def _st(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, False) for n, t in fields])


SSB_SCHEMAS: dict[str, T.StructType] = {
    # reference README.md:158-170
    "customer": _st(
        ("C_CUSTKEY", T.LongType()),
        ("C_NAME", T.StringType()),
        ("C_ADDRESS", T.StringType()),
        ("C_CITY", T.StringType()),
        ("C_NATION", T.StringType()),
        ("C_REGION", T.StringType()),
        ("C_PHONE", T.StringType()),
        ("C_MKTSEGMENT", T.StringType()),
    ),
    # reference README.md:172-193
    "lineorder": _st(
        ("LO_ORDERKEY", T.LongType()),
        ("LO_LINENUMBER", T.ShortType()),
        ("LO_CUSTKEY", T.LongType()),
        ("LO_PARTKEY", T.LongType()),
        ("LO_SUPPKEY", T.LongType()),
        ("LO_ORDERDATE", T.DateType()),
        ("LO_ORDERPRIORITY", T.StringType()),
        ("LO_SHIPPRIORITY", T.ShortType()),
        ("LO_QUANTITY", T.ShortType()),
        ("LO_EXTENDEDPRICE", T.LongType()),
        ("LO_ORDTOTALPRICE", T.LongType()),
        ("LO_DISCOUNT", T.ShortType()),
        ("LO_REVENUE", T.LongType()),
        ("LO_SUPPLYCOST", T.LongType()),
        ("LO_TAX", T.ShortType()),
        ("LO_COMMITDATE", T.DateType()),
        ("LO_SHIPMODE", T.StringType()),
    ),
    # reference README.md:195-208
    "part": _st(
        ("P_PARTKEY", T.LongType()),
        ("P_NAME", T.StringType()),
        ("P_MFGR", T.StringType()),
        ("P_CATEGORY", T.StringType()),
        ("P_BRAND", T.StringType()),
        ("P_COLOR", T.StringType()),
        ("P_TYPE", T.StringType()),
        ("P_SIZE", T.ShortType()),
        ("P_CONTAINER", T.StringType()),
    ),
    # reference README.md:210-221
    "supplier": _st(
        ("S_SUPPKEY", T.LongType()),
        ("S_NAME", T.StringType()),
        ("S_ADDRESS", T.StringType()),
        ("S_CITY", T.StringType()),
        ("S_NATION", T.StringType()),
        ("S_REGION", T.StringType()),
        ("S_PHONE", T.StringType()),
    ),
}


def read_tbl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = "|",
    date_format: str = "yyyy-MM-dd",
    strict: bool = True,
) -> DataFrame:
    """Read a headerless ``|``-delimited ``.tbl`` file with a declared
    schema (the general S1+T1 scan; :func:`read_ssb_csv` binds it to the
    reference's four DDL schemas).

    ssb-dbgen terminates every record with a trailing ``|`` — Spark's CSV
    reader sees that as one extra empty column, so the schema gains a
    throwaway tail column which is dropped after parse.
    """
    padded = T.StructType(
        list(schema.fields) + [T.StructField("_trailing", T.StringType(), True)]
    )
    df = (
        spark.read.schema(padded)
        .options(
            sep=sep,
            header=False,
            dateFormat=date_format,
            mode="FAILFAST" if strict else "PERMISSIVE",
        )
        .csv(path)
    )
    return df.select(*[f.name for f in schema.fields])


def read_ssb_csv(
    spark: SparkSession,
    path: str,
    table: str,
    sep: str = "|",
    date_format: str = "yyyy-MM-dd",
    strict: bool = True,
) -> DataFrame:
    """Read an ssb-dbgen ``.tbl`` file for one of the reference's four
    declared tables (reference README.md:158-221)."""
    if table not in SSB_SCHEMAS:
        raise KeyError(f"unknown SSB table {table!r}")
    return read_tbl(spark, path, SSB_SCHEMAS[table], sep, date_format, strict)


# --- oracle-paired proof of the CSV scan (S1 + T1) -------------------------

def q_csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes the supplier fixture as dbgen-style ``.tbl`` text (pipe
    separated, pipe terminated, no header), re-reads it through the
    typed FAILFAST CSV scan, and aggregates.  The oracle aggregates the
    parquet directly — a hash match proves the CSV parse/coercion path
    is lossless for ints, strings, and doubles."""
    from pyspark.sql import functions as F

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    d = scratch_dir("tbl_roundtrip")
    (
        sup.select(
            F.concat_ws(
                "|",
                F.col("s_suppkey").cast("string"),
                "s_name",
                F.col("s_nationkey").cast("string"),
                F.col("s_acctbal").cast("string"),
            ).alias("line")
        )
        .select(F.concat("line", F.lit("|")).alias("value"))
        .coalesce(1)
        .write.mode("overwrite")
        .text(d)
    )
    schema = _st(
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    )
    from clickhouse_vs_dbt_spark.operators.common import dsum

    back = read_tbl(spark, d, schema)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("s_acctbal")).alias("sum_acctbal"),
        F.countDistinct("s_nationkey").alias("n_nations"),
        F.min("s_name").alias("min_name"),
        F.max("s_name").alias("max_name"),
    )


O_CSV_ROUNDTRIP = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal,
       COUNT(DISTINCT s_nationkey) AS n_nations,
       min(s_name) AS min_name,
       max(s_name) AS max_name
FROM supplier
"""

def q_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same S1+T1 proof over a **gzip-compressed** CSV: write the
    customer fixture as ``.csv.gz`` (codec=gzip), re-read through the
    typed FAILFAST scan, aggregate.  Compression is the normal state of
    CSV-at-rest; Spark handles the codec transparently by extension.

    Scale note: gzip is NOT splittable — one file = one task regardless
    of size, so at 100 TB compressed text must arrive as many files
    (or be transcoded to a splittable container on first touch); the
    parquet cache in catalog.py is that transcode step."""
    from pyspark.sql import functions as F

    from clickhouse_vs_dbt_spark.operators.common import dsum

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    d = scratch_dir("csvgz_roundtrip")
    (
        cust.select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.col("c_acctbal").cast("string").alias("c_acctbal"),
            "c_mktsegment",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .options(sep="|", header=False, compression="gzip")
        .csv(d)
    )
    schema = _st(
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    )
    back = (
        spark.read.schema(schema)
        .options(sep="|", header=False, mode="FAILFAST")
        .csv(d)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    ).orderBy("c_mktsegment")


O_CSV_GZIP_ROUNDTRIP = """
SELECT c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       min(c_custkey) AS min_key,
       max(c_custkey) AS max_key
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

QUERIES = {
    "csv_source_roundtrip": q_csv_source_roundtrip,
    "csv_gzip_roundtrip": q_csv_gzip_roundtrip,
}
ORACLES = {
    "csv_source_roundtrip": O_CSV_ROUNDTRIP,
    "csv_gzip_roundtrip": O_CSV_GZIP_ROUNDTRIP,
}
