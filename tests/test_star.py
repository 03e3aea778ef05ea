"""Star model (operators J1/P2/P3; reference README.md:349-395)."""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq
import pytest

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.operators.common import _star_by_date
from clickhouse_vs_dbt_spark.plans.models import Materialization, Model, ModelRunner
from clickhouse_vs_dbt_spark.plans.star import STAR_COLUMNS, build_star


def test_star_preserves_fact_grain(spark, sf_dir):
    # every FK resolves in the fixtures, so the inner joins keep the grain
    star = build_star(spark, sf_dir)
    assert star.count() == load_table(spark, sf_dir, "lineitem").count()


def test_star_projection(spark, sf_dir):
    star = build_star(spark, sf_dir)
    assert star.columns == list(STAR_COLUMNS)


def test_dimensions_broadcast(spark, sf_dir):
    # scale posture: the three true dims must join as BroadcastHashJoin
    plan = build_star(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3


def _ops(plan) -> Counter:
    """The operator names in a (logical or physical) plan tree, counted."""
    return Counter(
        line.lstrip(" :+-").split(" ", 1)[0]
        for line in plan.toString().splitlines()
    )


@pytest.mark.parametrize("broadcast_limit", [None, "-1"])
def test_star_order_adds_one_local_sort(spark, sf_dir, broadcast_limit):
    """The declared order is one task-local Sort on top of the join,
    with no Exchange — also when lineitem⋈orders shuffles."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if broadcast_limit:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast_limit)
    try:
        qe = build_star(spark, sf_dir)._jdf.queryExecution()
        joined = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, qe.logical().children().apply(0)
        ).queryExecution()
        sorted_ops, joined_ops = _ops(qe.executedPlan()), _ops(joined.executedPlan())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert sorted_ops - joined_ops == Counter(Sort=1)
    assert joined_ops - sorted_ops == Counter()
    assert ("Exchange" in joined_ops) == (broadcast_limit is not None)
    top = qe.executedPlan().toString().splitlines()[1]
    assert "Sort [o_custkey" in top and "l_orderkey" in top and "], false" in top


def test_common_star_keeps_its_date_order(spark, sf_dir):
    """Under ``common.star``'s range partitioning the builder's sort is
    eliminated: one Sort is left, on the date keys."""
    plan = _star_by_date(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    assert _ops(plan)["Sort"] == 1
    assert plan.toString().startswith("Sort [order_year")


def test_star_table_files_are_zstd_and_in_star_order(spark, sf_dir, tmp_path):
    """A star TABLE is stored like its MergeTree: every column chunk
    ZSTD, and each file's rows in ``(o_custkey, l_orderkey)`` order."""
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(Model(
        "star_z", lambda s: build_star(s, sf_dir),
        materialization=Materialization.TABLE,
    ))
    runner.run()
    files = sorted((tmp_path / "star_z").glob("*.parquet"))
    assert files
    rows = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs == {"ZSTD"}, f
        t = pq.read_table(f, columns=["o_custkey", "l_orderkey"])
        keys = list(zip(t["o_custkey"].to_pylist(), t["l_orderkey"].to_pylist()))
        assert keys == sorted(keys), f
        rows += len(keys)
    assert rows == load_table(spark, sf_dir, "lineitem").count()
