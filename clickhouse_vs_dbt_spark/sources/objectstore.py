"""Object-store transport posture, exercised end-to-end.

The reference's tables live on object storage (``ENGINE = S3(https://
...)``, reference README.md:169, 192, 207, 220).  The Spark-native
equivalent is the Hadoop ``FileSystem`` abstraction: s3a://, gs://,
abfs:// all plug into the same interface, and Spark's readers/writers
are scheme-agnostic — the ONLY thing that changes between ``file://``
and ``s3a://`` is which FileSystem implementation the scheme resolves
to plus its credentials/endpoint configuration.

This sandbox has no network, so instead of merely *accepting* scheme'd
URIs (round-3 posture) this module actually ROUTES reads and writes
through a non-``file`` scheme: Hadoop's built-in ``viewfs://`` mount
table — the same pluggable-FileSystem machinery an object-store
connector uses — mounting the fixture directory and a scratch sink
under ``viewfs://<table>/...``.  Everything downstream (FileStatus
listing, split planning, predicate pushdown into parquet footers,
partitioned writes) runs through the mounted scheme exactly as it
would through s3a.  On a real cluster the swap is configuration, not
code: replace the mount links with ``s3a://bucket/...`` and set the
credentials provider.

The gated query proves source AND sink through the scheme: read
``orders`` via viewfs (with a pushed-down predicate), write the
filtered relation back through viewfs as parquet, re-read it, and
aggregate — any loss in either direction breaks the oracle hash,
which computes the same aggregate straight from the fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.operators.common import dsum, sql_dsum
from clickhouse_vs_dbt_spark.session import scratch_dir

CUTOFF_PRICE = 100000.0
# mount-table name → its scratch directory, one per process (below)
_SCRATCH: dict[str, str] = {}


def mount(spark: SparkSession, name: str, link: str, target_dir: str) -> None:
    """Add a viewfs mount-table link: viewfs://<name>/<link> →
    file://<target_dir>.  Idempotent; distinct mount-table names get
    distinct FileSystem cache entries, so per-sf_dir mounts never
    collide."""
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set(
        f"fs.viewfs.mounttable.{name}.link./{link}",
        f"file://{target_dir}",
    )


def _mount_name(sf_dir: str) -> str:
    # deterministic per-directory authority (FileSystem instances are
    # cached by scheme+authority — a changed mount must not reuse a
    # cached table).  md5, not hash(): Python string hashing is
    # per-process salted.
    import hashlib

    return "wh" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def q_objectstore_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source + sink through a mounted non-file scheme (module doc)."""
    name = _mount_name(sf_dir)
    # scratch is memoized per mount table: Hadoop caches the viewfs
    # FileSystem by authority and never re-reads mount links, so a
    # fresh directory per call would be silently ignored on the second
    # call in the JVM
    scratch = _SCRATCH.get(name)
    if scratch is None:
        scratch = _SCRATCH[name] = scratch_dir(f"objectstore_{name}")
    mount(spark, name, "tables", sf_dir)
    mount(spark, name, "scratch", scratch)

    orders = spark.read.parquet(f"viewfs://{name}/tables/orders.parquet")
    big = orders.filter(F.col("o_totalprice") > CUTOFF_PRICE)
    big.write.mode("overwrite").parquet(f"viewfs://{name}/scratch/big_orders")

    back = spark.read.parquet(f"viewfs://{name}/scratch/big_orders")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


O_OBJECTSTORE_SCAN = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS total_price,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderdate) AS last_date
FROM orders
WHERE o_totalprice > {CUTOFF_PRICE}
GROUP BY o_orderstatus
"""


QUERIES = {"objectstore_scan": q_objectstore_scan}
ORACLES = {"objectstore_scan": O_OBJECTSTORE_SCAN}
