"""The ``star`` model: denormalized wide fact table (operators J1, P2, P3).

The reference's flagship model joins the ``lineorder`` fact to the
``customer``/``supplier``/``part`` dimensions with three inner equi-joins
and projects 38 aliased columns (reference README.md:349-395; joins at
:392-394).  The driver's TPC-H-ish fixtures split ``lineorder`` into
``lineitem`` + ``orders`` (FIXTURES.md §C), so the star-analog is a
4-dim join:

    lineitem ⋈ orders (orderkey) ⋈ customer (custkey)
             ⋈ supplier (suppkey) ⋈ part (partkey)

Scale posture (SURVEY.md §4/§7-M5): every dimension side is broadcast —
at 100 TB the lineitem scan is the only big input and it never shuffles;
the physical plan is a chain of BroadcastHashJoins over a single fact
scan, ending in a task-local Sort.  ``orders`` is fact-sized (1:4 with
lineitem) so it is NOT broadcast: that join shuffles on orderkey, or
stays shuffle-free when both sides are bucketed by orderkey (see
ModelRunner materialization).

Declared order: the star ends in ``sortWithinPartitions(o_custkey,
l_orderkey)``, the part a MergeTree ``ORDER BY`` plays for the
reference's ``materialized='table'`` star.  The lines of one order sit
together, and so do the orders of one customer, so the customer
columns, repeated on every line of a customer's orders, encode in runs
when a TABLE model writes the star.  The sort is local to each task: it
adds no Exchange.  Measured at sf0.02 with ZSTD (``session.py``), the dbt
``star`` TABLE is 32.39 B/row sorted against 39.46 unsorted, and each
write takes about 0.05 s longer (0.29 -> 0.34 s on local[2]); the
other keys tried were larger (``o_orderdate`` 36.94, ``l_partkey``
33.72, ``l_suppkey`` 34.86).

``operators.common.star`` keeps its date order instead: it range-
partitions the star by ``(order_year, o_orderdate)`` and sorts each
task by that key, so the flight's date predicates prune year
directories and row groups.  Catalyst's ``EliminateSorts`` drops this
builder's sort under that one, so its plan holds a single Sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import load_table

# The star projection: every fact column + the dimension attributes the
# query flight touches, each explicitly aliased (operator P2 — the
# reference lists all 38 output columns explicitly, README.md:352-390).
STAR_COLUMNS: dict[str, str] = {
    # lineitem (fact measure columns; LO_* analogs per FIXTURES.md §C)
    "l_orderkey": "l.l_orderkey",
    "l_partkey": "l.l_partkey",
    "l_suppkey": "l.l_suppkey",
    "l_linenumber": "l.l_linenumber",
    "l_quantity": "l.l_quantity",
    "l_extendedprice": "l.l_extendedprice",
    "l_discount": "l.l_discount",
    "l_tax": "l.l_tax",
    "l_returnflag": "l.l_returnflag",
    "l_linestatus": "l.l_linestatus",
    "l_shipdate": "l.l_shipdate",
    # orders (carries the order date — LO_ORDERDATE analog)
    "o_orderkey": "o.o_orderkey",
    "o_custkey": "o.o_custkey",
    "o_orderstatus": "o.o_orderstatus",
    "o_totalprice": "o.o_totalprice",
    "o_orderdate": "o.o_orderdate",
    "o_orderpriority": "o.o_orderpriority",
    # customer dimension (C_* analogs)
    "c_custkey": "c.c_custkey",
    "c_name": "c.c_name",
    "c_nationkey": "c.c_nationkey",
    "c_acctbal": "c.c_acctbal",
    "c_mktsegment": "c.c_mktsegment",
    # supplier dimension (S_* analogs)
    "s_suppkey": "s.s_suppkey",
    "s_name": "s.s_name",
    "s_nationkey": "s.s_nationkey",
    "s_acctbal": "s.s_acctbal",
    # part dimension (P_* analogs)
    "p_partkey": "p.p_partkey",
    "p_name": "p.p_name",
    "p_brand": "p.p_brand",
    "p_type": "p.p_type",
    "p_size": "p.p_size",
    "p_retailprice": "p.p_retailprice",
}


def build_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative star join; Catalyst plans broadcast-hash joins for the
    three true dimensions and a shuffle join only for lineitem⋈orders,
    then sorts each task by the declared order (module doc)."""
    l = load_table(spark, sf_dir, "lineitem").alias("l")
    o = load_table(spark, sf_dir, "orders").alias("o")
    c = F.broadcast(load_table(spark, sf_dir, "customer")).alias("c")
    s = F.broadcast(load_table(spark, sf_dir, "supplier")).alias("s")
    p = F.broadcast(load_table(spark, sf_dir, "part")).alias("p")

    joined = (
        l.join(o, F.col("l.l_orderkey") == F.col("o.o_orderkey"), "inner")
        .join(c, F.col("o.o_custkey") == F.col("c.c_custkey"), "inner")
        .join(s, F.col("l.l_suppkey") == F.col("s.s_suppkey"), "inner")
        .join(p, F.col("l.l_partkey") == F.col("p.p_partkey"), "inner")
    )
    return joined.select(
        *[F.col(src).alias(dst) for dst, src in STAR_COLUMNS.items()]
    ).sortWithinPartitions("o_custkey", "l_orderkey")


def star_sql() -> str:
    """ANSI-SQL twin of :func:`build_star` (used by the DuckDB oracle and
    by ``spark.sql`` users — both engines accept this text verbatim)."""
    cols = ",\n       ".join(f"{src} AS {dst}" for dst, src in STAR_COLUMNS.items())
    return f"""
SELECT {cols}
FROM lineitem l
JOIN orders   o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN supplier s ON l.l_suppkey  = s.s_suppkey
JOIN part     p ON l.l_partkey  = p.p_partkey
"""
