"""Model DAG runner — the dbt-analog (operators S2/S3/S5;
reference README.md:254-263, :391-409)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.plans.models import Materialization, Model, ModelRunner
from clickhouse_vs_dbt_spark.plans.star import build_star


def test_topological_order_and_views(spark, sf_dir, tmp_path):
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))

    @runner.model("star_m", deps=["stg_lineitem_m"], materialization=Materialization.TABLE)
    def star_m(s):
        return build_star(s, sf_dir)

    @runner.model("stg_lineitem_m")
    def stg_lineitem_m(s):
        return load_table(s, sf_dir, "lineitem").select("*")

    order = runner.order()
    assert order.index("stg_lineitem_m") < order.index("star_m")

    out = runner.run()
    # both models are queryable by name afterwards (dbt ref() semantics)
    assert spark.table("star_m").count() == out["stg_lineitem_m"].count()


def test_table_materialization_is_physical(spark, sf_dir, tmp_path):
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(
        Model(
            "star_part",
            lambda s: build_star(s, sf_dir).withColumn(
                "order_year", F.year("o_orderdate")
            ),
            materialization=Materialization.TABLE,
            partition_by=("order_year",),
        )
    )
    out = runner.run()
    # partitioned parquet on disk → partition pruning for year predicates
    years = [p.name for p in (tmp_path / "star_part").iterdir() if p.name.startswith("order_year=")]
    assert len(years) >= 5
    # reading back one partition only scans that partition
    one = out["star_part"].filter(F.col("order_year") == 1996)
    scan = one._jdf.queryExecution().executedPlan().toString()
    assert "order_year" in scan


def test_missing_dep_raises(spark):
    runner = ModelRunner(spark)
    runner.add(Model("a", lambda s: s.range(1), deps=["ghost"]))
    with pytest.raises(Exception):
        runner.run()


def test_duplicate_model_raises(spark):
    runner = ModelRunner(spark)
    runner.add(Model("a", lambda s: s.range(1)))
    with pytest.raises(ValueError):
        runner.add(Model("a", lambda s: s.range(1)))


def test_bucketed_models_join_without_shuffle(spark, sf_dir):
    """Bucketing both fact tables on the join key makes lineitem⋈orders
    exchange-free (co-located join) — the 100 TB answer to the one
    non-broadcast join in the star build."""
    from clickhouse_vs_dbt_spark.catalog import load_table
    from clickhouse_vs_dbt_spark.plans.models import Materialization, Model, ModelRunner

    runner = ModelRunner(spark)
    runner.add(
        Model(
            "b_lineitem",
            lambda s: load_table(s, sf_dir, "lineitem"),
            materialization=Materialization.TABLE,
            bucket_by=(8, ("l_orderkey",)),
            sort_by=("l_orderkey",),
        )
    )
    runner.add(
        Model(
            "b_orders",
            lambda s: load_table(s, sf_dir, "orders"),
            materialization=Materialization.TABLE,
            bucket_by=(8, ("o_orderkey",)),
            sort_by=("o_orderkey",),
        )
    )
    out = runner.run()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = out["b_lineitem"].join(
            out["b_orders"],
            out["b_lineitem"].l_orderkey == out["b_orders"].o_orderkey,
        )
        n = j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    l2 = load_table(spark, sf_dir, "lineitem")
    o2 = load_table(spark, sf_dir, "orders")
    assert n == l2.join(o2, l2.l_orderkey == o2.o_orderkey).count()
    assert "hashpartitioning" not in plan  # no shuffle on either side


def test_incremental_merge_converges_to_full_table(spark, sf_dir, tmp_path):
    """Backfill + merge batch (with re-delivered keys) must equal the
    full orders table — dbt incremental/unique_key semantics."""
    from clickhouse_vs_dbt_spark.operators.incremental import (
        REDELIVER_MOD,
        run_incremental_orders,
    )

    merged = run_incremental_orders(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    assert merged.count() == orders.count()
    assert (
        merged.select("o_orderkey").distinct().count()
        == orders.select("o_orderkey").distinct().count()
    )
    # a re-delivered key exists exactly once after the merge
    redelivered = merged.filter(F.col("o_orderkey") % REDELIVER_MOD == 0)
    assert redelivered.count() == orders.filter(
        F.col("o_orderkey") % REDELIVER_MOD == 0
    ).count()


def test_incremental_insert_overwrite_rewrites_only_batch_partitions(
    spark, sf_dir, tmp_path
):
    """partition_by without unique_key → dynamic partition overwrite:
    run 2's batch touches one partition; the other partitions' files
    survive untouched (cost scales with the batch at 100 TB)."""
    import os

    calls = {"n": 0}

    def batches(s, existing):
        o = load_table(s, sf_dir, "orders").withColumn(
            "order_year", F.year("o_orderdate")
        )
        calls["n"] += 1
        if existing is None:
            return o.filter(F.col("order_year").isin(1995, 1996))
        # batch 2: a corrected reload of 1996 only (drop one priority)
        return o.filter(
            (F.col("order_year") == 1996)
            & (F.col("o_orderpriority") != "1-URGENT")
        )

    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(
        Model(
            "orders_by_year",
            batches,
            materialization=Materialization.INCREMENTAL,
            partition_by=("order_year",),
        )
    )
    runner.run()
    p1995 = tmp_path / "orders_by_year_v0" / "order_year=1995"
    files_before = {f: os.path.getmtime(p1995 / f) for f in os.listdir(p1995)}

    out = runner.run()
    files_after = {f: os.path.getmtime(p1995 / f) for f in os.listdir(p1995)}
    assert files_before == files_after  # untouched partition kept as-is

    final = out["orders_by_year"]
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    assert final.filter(F.col("order_year") == 1995).count() == o.filter(
        F.col("order_year") == 1995
    ).count()
    assert final.filter(F.col("order_year") == 1996).count() == o.filter(
        (F.col("order_year") == 1996)
        & (F.col("o_orderpriority") != "1-URGENT")
    ).count()
    assert calls["n"] == 2


def test_time_travel_versions_and_retention(spark, tmp_path):
    """keep_versions=2 retains two immutable snapshots; a third merge
    prunes v0; read_version outside the window or on a non-merge model
    errors explicitly."""
    import pytest as _pytest

    def batches(s, existing):
        if existing is None:
            return s.range(5).withColumn("v", F.lit(0))
        return s.range(2).withColumn("v", F.lit(1))

    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(
        Model(
            "tt",
            batches,
            materialization=Materialization.INCREMENTAL,
            unique_key=("id",),
            keep_versions=2,
        )
    )
    runner.run()  # v0
    runner.run()  # v1
    v0, v1 = runner.read_version("tt", 0), runner.read_version("tt", 1)
    assert v0.count() == 5 and v0.filter(F.col("v") == 1).count() == 0
    assert v1.filter(F.col("v") == 1).count() == 2  # ids 0,1 replaced

    runner.run()  # v2 → v0 pruned
    assert runner.read_version("tt", 2).count() == 5
    with _pytest.raises(ValueError, match="outside the retained"):
        runner.read_version("tt", 0)

    def plain(s, existing):
        return s.range(3)

    runner.add(Model("nontt", plain,
                     materialization=Materialization.INCREMENTAL))
    runner.run()
    with _pytest.raises(ValueError, match="merge-strategy"):
        runner.read_version("nontt", 0)


def test_mutation_is_versioned_and_compaction_reduces_files(spark, tmp_path):
    """mutate() writes a NEW version (the pre-mutation snapshot stays
    readable under keep_versions=2); compact() is content-identical
    with fewer files."""
    import os

    import pytest as _pytest

    def batch(s, existing):
        if existing is None:
            return s.range(0, 100, 1, 8).withColumn(
                "v", (F.col("id") % 10).cast("int")
            )
        return s.range(0, 0).withColumn("v", F.lit(0).cast("int"))

    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(
        Model(
            "m",
            batch,
            materialization=Materialization.INCREMENTAL,
            unique_key=("id",),
            keep_versions=2,
        )
    )
    runner.run()  # v0

    # _write_version now REBALANCEs before the write (r16, guide §6):
    # at test scale AQE coalesces to one right-sized file, which would
    # leave compact() nothing to prove.  Shrink the advisory partition
    # size for the mutation only — the exact multi-file layout
    # rebalance produces at cluster scale — so the compaction
    # assertion still exercises a real file-count reduction.
    from clickhouse_vs_dbt_spark.plans.models import _conf

    with _conf(
        spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", "128b"
    ), _conf(
        spark, "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b"
    ), _conf(
        spark,
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false",
    ):
        out = runner.mutate(
            "m",
            delete_where="id % 10 = 0",
            set_exprs={"v": "v + 100"},
            update_where="id < 50",
        )
    assert out.count() == 90
    assert out.filter("id % 10 = 0").count() == 0
    assert out.filter("id = 1").collect()[0]["v"] == 101
    assert out.filter("id = 51").collect()[0]["v"] == 1
    # pre-mutation snapshot intact
    assert runner.read_version("m", 0).count() == 100

    n_files = lambda v: len(  # noqa: E731
        [f for f in os.listdir(tmp_path / f"m_v{v}") if f.endswith(".parquet")]
    )
    assert n_files(1) > 1
    compacted = runner.compact("m", target_files=1)
    assert n_files(2) == 1
    assert sorted(r["id"] for r in compacted.collect()) == sorted(
        r["id"] for r in runner.read_version("m", 1).collect()
    )

    with _pytest.raises(ValueError, match="no materialized versions"):
        runner.mutate("ghost", delete_where="true")


def test_mutate_set_exprs_evaluate_simultaneously(spark, tmp_path):
    """ClickHouse ALTER UPDATE evaluates all SET expressions against
    the pre-mutation row: {'a': 'b', 'b': 'a'} swaps the columns."""

    def batch(s, existing):
        if existing is None:
            return s.range(3).selectExpr(
                "id", "id * 10 AS a", "id * 100 AS b"
            )
        return s.range(0)

    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(
        Model(
            "swap",
            batch,
            materialization=Materialization.INCREMENTAL,
            unique_key=("id",),
        )
    )
    runner.run()
    out = runner.mutate("swap", set_exprs={"a": "b", "b": "a"})
    r = {row.id: (row.a, row.b) for row in out.collect()}
    assert r[2] == (200, 20)  # swapped, not both equal to old b


def test_incremental_append_without_key_or_partitions(spark, sf_dir, tmp_path):
    def batches(s, existing):
        r = s.range(10)
        if existing is None:
            return r.filter(F.col("id") < 5)
        return r.filter(F.col("id") >= 5)

    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(
        Model("nums", batches, materialization=Materialization.INCREMENTAL)
    )
    runner.run()
    out = runner.run()
    assert sorted(r.id for r in out["nums"].collect()) == list(range(10))


def test_cli_list_and_query(capsys):
    from clickhouse_vs_dbt_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "ssb_q1_1" in out and len(out) > 150
    assert main(["query", "nope_not_a_query"]) == 2


def test_cli_sql_dialect_roundtrip(capsys):
    from clickhouse_vs_dbt_spark.__main__ import main

    rc = main(
        [
            "sql",
            "SELECT toYear(CAST(o_orderdate AS DATE)) AS y, count(*) AS n "
            "FROM orders GROUP BY 1 ORDER BY 1",
            "--limit",
            "5",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "y" in out and "n" in out


def test_cli_sql_transpiles_combinators(capsys):
    """The sql subcommand routes through dialect.transpile, so verbatim
    ClickHouse syntax (countIf, WITH TOTALS) runs unmodified."""
    from clickhouse_vs_dbt_spark.__main__ import main

    rc = main(
        [
            "sql",
            "SELECT o_orderstatus, countIf(o_totalprice > 150000) AS n "
            "FROM orders GROUP BY o_orderstatus WITH TOTALS",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "NULL" in out  # the totals row (empty grouping set)


def test_manifest_and_tag_selection(spark):
    """dbt-docs/tag-selection analog: the manifest carries description +
    tags per model, and a tag-selected run builds only the subgraph
    (selected models plus transitive deps)."""
    from clickhouse_vs_dbt_spark.plans.models import Model, ModelRunner

    runner = ModelRunner(spark)
    runner.add(
        Model("base", lambda s: s.range(3),
              description="three rows", tags=("staging",))
    )
    runner.add(
        Model("mart_a", lambda s: s.table("base"), deps=("base",),
              description="passthrough mart", tags=("mart",))
    )
    runner.add(Model("mart_b", lambda s: s.table("base"), deps=("base",)))

    man = runner.manifest()
    assert list(man) == runner.order()
    assert man["base"]["description"] == "three rows"
    assert man["mart_a"]["tags"] == ["mart"]
    assert man["mart_a"]["deps"] == ["base"]

    assert runner.select(["mart"]) == ["base", "mart_a"]
    out = runner.run(tags=["mart"])
    assert set(out) == {"base", "mart_a"}
    assert out["mart_a"].count() == 3


def test_cli_docs_manifest(capsys):
    import json

    from clickhouse_vs_dbt_spark.__main__ import main

    assert main(["docs"]) == 0
    man = json.loads(capsys.readouterr().out)
    assert man["star"]["tags"] == ["star", "mart"]
    assert man["star"]["materialization"] == "table"
    assert "stg_customer" in man and man["stg_customer"]["description"]


def test_cli_explain(capsys):
    from clickhouse_vs_dbt_spark.__main__ import main

    assert main(["explain", "ssb_q1_1"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out


def test_render_dbt_model_jinja_lite():
    import pytest

    from clickhouse_vs_dbt_spark.plans.models import render_dbt_model

    out = render_dbt_model(
        "{{ config(materialized='table') }}\nSELECT * FROM "
        "{{ ref('stg_x') }} JOIN {{ ref('stg_y') }} USING (k)",
        {"stg_x": "x_view", "stg_y": "y_view"},
    )
    assert "config" not in out and "ref(" not in out
    assert "FROM x_view JOIN y_view" in out
    with pytest.raises(KeyError, match="stg_z"):
        render_dbt_model("{{ ref('stg_z') }}", {})
    # r7: is_incremental() guard + {{ this }} substitution
    txt = (
        "SELECT * FROM {{ ref('src') }}\n"
        "{% if is_incremental() %}\n"
        "WHERE ts > (SELECT max(ts) FROM {{ this }})\n"
        "{% endif %}"
    )
    first = render_dbt_model(txt, {"src": "src_v"}, is_incremental=False)
    assert "WHERE" not in first and "{%" not in first
    later = render_dbt_model(
        txt, {"src": "src_v"}, is_incremental=True, this="prior_v"
    )
    assert "WHERE ts > (SELECT max(ts) FROM prior_v)" in later
    with pytest.raises(KeyError, match="this"):
        render_dbt_model(txt, {"src": "s"}, is_incremental=True)
    # {% else %} branch
    both = "{% if is_incremental() %}A{% else %}B{% endif %}"
    assert render_dbt_model(both, {}, is_incremental=True) == "A"
    assert render_dbt_model(both, {}, is_incremental=False) == "B"


def test_verbatim_incremental_model_file(spark, tmp_path):
    """r7 (verdict item 5): a real dbt incremental model file — config
    block, ref(), is_incremental() guard, {{ this }} — runs verbatim
    through ModelRunner.sql_model with the merge strategy."""
    from clickhouse_vs_dbt_spark.plans.models import (
        ModelRunner,
        parse_dbt_config,
    )

    MODEL_FILE = """{{ config(
    materialized='incremental',
    unique_key='event_id'
) }}

SELECT event_id, user_id, ts, amount
FROM {{ ref('raw_events') }}

{% if is_incremental() %}
  WHERE ts > (SELECT max(ts) FROM {{ this }})
{% endif %}
"""
    cfg = parse_dbt_config(MODEL_FILE)
    assert cfg == {
        "materialized": "incremental",
        "unique_key": "event_id",
    }

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW raw_events AS SELECT * FROM "
        "VALUES (1, 10, 100, 5.0), (2, 11, 200, 6.0) "
        "AS t(event_id, user_id, ts, amount)"
    )
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.sql_model("fct_events", MODEL_FILE, deps=(),
                     refs={"raw_events": "raw_events"})
    out1 = runner.run()["fct_events"]
    assert out1.count() == 2

    # new batch arrives; the guard keeps only rows past the prior max
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW raw_events AS SELECT * FROM "
        "VALUES (1, 10, 100, 5.0), (2, 11, 200, 6.0), "
        "(3, 12, 300, 7.0), (4, 13, 400, 8.0) "
        "AS t(event_id, user_id, ts, amount)"
    )
    out2 = runner.run()["fct_events"]
    rows = {r.event_id: r.ts for r in out2.collect()}
    assert rows == {1: 100, 2: 200, 3: 300, 4: 400}


def test_reference_star_sql_is_verbatim():
    """The embedded model must match the reference's star.sql shape:
    jinja config header, all 38 aliased output columns, the three
    dimension joins — so the 'character-for-character' claim is
    checkable without network access."""
    from clickhouse_vs_dbt_spark.plans.models import REFERENCE_STAR_SQL

    assert REFERENCE_STAR_SQL.startswith(
        "{{ config(materialized='table') }}"
    )
    assert REFERENCE_STAR_SQL.count(" AS ") >= 38 + 4  # cols + aliases
    for frag in (
        "l.LO_ORDERKEY AS LO_ORDERKEY",
        "p.P_CONTAINER AS P_CONTAINER",
        "INNER JOIN {{ ref('stg_customers') }} AS c ON c.C_CUSTKEY = l.LO_CUSTKEY",
        "INNER JOIN {{ ref('stg_part') }} AS p ON p.P_PARTKEY = l.LO_PARTKEY",
    ):
        assert frag in REFERENCE_STAR_SQL


# --- job and plan-shape pins for the materializations ---


@pytest.fixture
def parquet_writes(spark, monkeypatch):
    """Every ``DataFrameWriter.parquet`` call as (path, DataFrame
    written); ``after_write`` holds the job group opened right after
    each write, so the jobs between two writes can be counted."""
    from pyspark.sql import DataFrameWriter

    sc = spark.sparkContext
    seen: list[tuple[str, object]] = []
    after_write: list[str] = []
    write = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        sc.setJobGroup(f"write-{path}", "write")
        write(self, path, *args, **kwargs)
        seen.append((path, self._df))
        after_write.append(f"after-{len(seen)}-{path}")
        sc.setJobGroup(after_write[-1], "after write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    yield seen, after_write
    sc.setLocalProperty("spark.jobGroup.id", None)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _merge_batches(rows_v0, rows_next, schema="id long, g string, v int"):
    def batch(s, existing):
        return s.createDataFrame(rows_v0 if existing is None else rows_next, schema)

    return batch


def test_rereads_of_written_relations_launch_no_job(spark, tmp_path, parquet_writes):
    """Re-registering a written TABLE or merge version, and reading the
    prior version back for the next merge, scans with the written
    schema: no footer-inference job runs between two writes."""
    _, after_write = parquet_writes
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(Model(
        "flat", lambda s: s.range(20).selectExpr("id", "id % 3 AS g"),
        materialization=Materialization.TABLE,
    ))
    runner.add(Model(
        "mrg",
        _merge_batches([(1, "a", 0), (2, "b", 0)], [(2, "b", 1), (3, "c", 1)]),
        materialization=Materialization.INCREMENTAL, unique_key=("id",),
    ))
    runner.run()
    runner.run()
    tracker = spark.sparkContext.statusTracker()
    # flat twice, mrg v0 and v1
    assert len(after_write) == 4
    assert {g: list(tracker.getJobIdsForGroup(g)) for g in after_write} == {
        g: [] for g in after_write
    }
    assert sorted(tuple(r) for r in spark.table("mrg").collect()) == [
        (1, "a", 0), (2, "b", 1), (3, "c", 1),
    ]


def test_only_partitioned_table_writes_rebalance(spark, tmp_path, parquet_writes):
    """An unpartitioned TABLE is written straight from its plan (one
    file per task, no shuffle); a ``partition_by`` TABLE keeps its
    REBALANCE, which gives one file per partition value."""
    seen, _ = parquet_writes
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    for name, parts in (("flat", ()), ("parted", ("g",))):
        runner.add(Model(
            name, lambda s: s.range(0, 40, 1, 4).selectExpr("id", "id % 3 AS g"),
            materialization=Materialization.TABLE, partition_by=parts,
        ))
    runner.run()
    plans = {path.rsplit("/", 1)[-1]: _executed(df) for path, df in seen}
    assert "Exchange" not in plans["flat"]
    assert "REBALANCE_PARTITIONS_BY_COL" in plans["parted"]
    assert spark.table("flat").count() == spark.table("parted").count() == 40


@pytest.mark.parametrize("materialization", [Materialization.TABLE, Materialization.INCREMENTAL])
@pytest.mark.parametrize("parts", [(), ("g",)])
def test_sort_by_orders_the_rows_of_every_file(spark, tmp_path, materialization, parts):
    """An unbucketed model honours ``sort_by`` in every file it writes:
    a TABLE, partitioned or not, and an incremental model's first
    version and its appended or insert_overwrite batches."""
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(Model(
        "srt",
        lambda s, existing=None: s.range(0, 200, 1, 4).selectExpr(
            "id", "id * 37 % 101 AS k", "id % 3 AS g"
        ),
        materialization=materialization, partition_by=parts, sort_by=("k",),
    ))
    runner.run()
    runner.run()
    files = sorted(tmp_path.rglob("*.parquet"))
    assert len(files) > 1
    for f in files:
        keys = pq.read_table(f, columns=["k"])["k"].to_pylist()
        assert keys == sorted(keys), f
    appended = materialization is Materialization.INCREMENTAL and not parts
    assert spark.table("srt").count() == (400 if appended else 200)


def test_merge_plan_has_no_aggregate_over_batch_keys(spark, tmp_path, parquet_writes):
    """The merge's left-anti join takes the batch keys as they are: a
    ``distinct`` in front of it would only add an aggregation."""
    seen, _ = parquet_writes
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(Model(
        "mrg",
        _merge_batches([(1, "a", 0), (2, "b", 0)], [(2, "b", 1), (2, "b", 2)]),
        materialization=Materialization.INCREMENTAL, unique_key=("id",),
    ))
    runner.run()
    runner.run()
    path, merged = seen[-1]
    assert path.endswith("/mrg_v1")
    plan = _executed(merged)
    assert "LeftAnti" in plan
    assert "Aggregate" not in plan


def test_partition_key_keeps_its_model_type(spark, tmp_path):
    """A partition column is read back with the model's type, not one
    inferred from directory names (which turns the STRING '01' into
    the INT 1), in the TABLE view and in every merge version."""
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(Model(
        "pk", lambda s: s.createDataFrame([(1, "01"), (2, "10")], "id long, k string"),
        materialization=Materialization.TABLE, partition_by=("k",),
    ))
    runner.add(Model(
        "pk_mrg",
        _merge_batches([(1, "01", 0)], [(2, "01", 1)], "id long, k string, v int"),
        materialization=Materialization.INCREMENTAL, unique_key=("id",),
        partition_by=("k",), keep_versions=2,
    ))
    runner.run()
    runner.run()
    assert sorted((r.id, r.k) for r in spark.table("pk").collect()) == [
        (1, "01"), (2, "10"),
    ]
    for df in (spark.table("pk_mrg"), runner.read_version("pk_mrg", 0)):
        assert dict(df.dtypes)["k"] == "string"
        assert {r.k for r in df.collect()} == {"01"}


def test_written_views_match_an_inferred_read(spark, sf_dir, tmp_path):
    """The star TABLE and a merge version, registered with the written
    schema, have exactly the schema (names, order, types, nullability)
    that inferring it from the files gives."""
    runner = ModelRunner(spark, warehouse_dir=str(tmp_path))
    runner.add(Model(
        "star_w", lambda s: build_star(s, sf_dir),
        materialization=Materialization.TABLE,
    ))
    runner.add(Model(
        "mrg_w",
        lambda s, existing: s.range(3).selectExpr(
            "id", "array(id) AS a", "named_struct('x', id) AS st",
            "CAST(id AS DECIMAL(12, 2)) AS d",
        ),
        materialization=Materialization.INCREMENTAL, unique_key=("id",),
    ))
    runner.run()
    runner.run()
    for name, path in (("star_w", "star_w"), ("mrg_w", "mrg_w_v1")):
        inferred = spark.read.parquet(str(tmp_path / path)).schema
        assert spark.table(name).schema == inferred, name
