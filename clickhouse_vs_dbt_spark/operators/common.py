"""Shared helpers for the operator library.

Oracle-parity note (applies to every operator with a DuckDB oracle):
floating-point SUM/AVG are order-dependent, and Spark's parallel partial
aggregation sums in a different order than DuckDB.  Every money-valued
aggregate therefore casts the per-row double expression to
``DECIMAL(18,6)`` (a deterministic rounding of the same IEEE double in
both engines), sums exactly in decimal (associative — order-free), and
casts the final scalar back to double.  Both engines then produce
bit-identical results regardless of partitioning — which also means the
answer is stable across cluster sizes, a property worth having at 100 TB
independent of the test harness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.plans.star import build_star
from clickhouse_vs_dbt_spark.session import scratch_dir

DEC = "decimal(18,6)"


def dsum(expr: Column) -> Column:
    """Order-insensitive exact sum of a double expression (see module doc)."""
    return F.sum(expr.cast(DEC)).cast("double")


def davg(expr: Column) -> Column:
    """Order-insensitive average: exact decimal sum / count, as double."""
    return (F.sum(expr.cast(DEC)).cast("double") / F.count(expr)).cast("double")


def sql_dsum(expr: str) -> str:
    """ANSI twin of :func:`dsum` for the DuckDB oracle."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS DOUBLE)"
    )


_STAR_CACHE: dict[str, str] = {}


def star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star-analog relation, materialized ONCE per process per
    scale factor — the reference's core architectural choice (dbt
    ``materialized='table'``, reference README.md:261-262, 350): the
    denormalizing join is paid once and the whole query flight scans
    its output.

    The materialization is hive-partitioned by ``order_year`` (derived
    from ``o_orderdate``) and range-sorted by ``o_orderdate`` within
    files, so the Q1 flight's date predicates prune at BOTH levels:
    whole year directories are skipped via ``PartitionFilters``
    (directory pruning — at 100 TB this is the difference between
    scanning one year and scanning the decade), and parquet row-group
    min/max stats skip inside the surviving year via ``PushedFilters``.
    ``order_year`` is exposed as a real column of the star relation —
    exactly what a partitioned warehouse table looks like to its users.
    At 100 TB the same write additionally gains ``bucketBy(orderkey)``
    via the ModelRunner; rewriting is cheap relative to re-joining per
    query.  Results are identical to the direct join — every consumer
    is oracle-checked against the join-every-time SQL.

    The *unexecuted* scan DataFrame is memoized per session, keyed by
    the materialized path (the ``catalog.load_table`` pattern): a fresh
    ``spark.read.parquet`` re-lists the year directories and runs a
    one-task footer-schema job, and its plan would be the same every
    time.  No result is cached — every query still plans and runs its
    own scan of the files.
    """
    path = _STAR_CACHE.get(sf_dir)
    if path is None:
        path = scratch_dir("star_mat") + "/star"
        _star_by_date(spark, sf_dir).write.mode("overwrite").partitionBy(
            "order_year"
        ).parquet(path)
        _STAR_CACHE[sf_dir] = path
    memo = vars(spark).setdefault("_cvds_star_cache", {})
    if path not in memo:
        memo[path] = spark.read.parquet(path)
    return memo[path]


def _star_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star in :func:`star`'s write order: range-partitioned and
    sorted by ``(order_year, o_orderdate)``.  That sort replaces the
    builder's own ``(o_custkey, l_orderkey)`` one — Catalyst's
    ``EliminateSorts`` drops a local sort beneath a repartition — so
    the date order, which the flight prunes by, is the one written."""
    return (
        build_star(spark, sf_dir)
        .withColumn("order_year", F.year("o_orderdate").cast("int"))
        # range keys lead with the partition column so each write
        # task lands in one (occasionally two) year directories —
        # ~1 file per year dir instead of tasks × years small files
        .repartitionByRange(8, "order_year", "o_orderdate")
        .sortWithinPartitions("order_year", "o_orderdate")
    )
