"""CLI — the reference's two entry points as one command.

The reference's UX is ``dbt run`` (build models, reference
README.md:406-409) plus ad-hoc SQL in a client (README.md:411-438).
This CLI is the Spark-native equivalent:

    python -m clickhouse_vs_dbt_spark models [--sf-dir DIR] [--select-tags T...]
        build the staging views + materialized star via the ModelRunner
        (the dbt-analog DAG) and report row counts; --select-tags builds
        only the tagged subgraph plus deps (dbt run --select tag:x).

    python -m clickhouse_vs_dbt_spark docs [--sf-dir DIR]
        print the project manifest — materialization, deps, description,
        tags per model (the dbt-docs metadata surface, reference
        README.md:269-292, :328-345).

    python -m clickhouse_vs_dbt_spark sql "SELECT ..." [--sf-dir DIR]
        run ad-hoc SQL with every fixture table registered, the star
        view available, and the ClickHouse-dialect function names
        (compat.py) usable verbatim — e.g.
        ``SELECT toYYYYMM(CAST(o_orderdate AS DATE)), count(*)
          FROM orders GROUP BY 1``.

    python -m clickhouse_vs_dbt_spark query <name> [--sf-dir DIR]
        run one of the gated queries by name (``list`` prints them).

    python -m clickhouse_vs_dbt_spark list
        list every gated query name.

    python -m clickhouse_vs_dbt_spark ddl "CREATE TABLE ..." [--execute]
        transpile ClickHouse DDL — CREATE TABLE prints (or, with
        --execute, creates) the Spark DDL; CREATE MATERIALIZED VIEW
        prints the parsed incremental-maintenance contract.

    python -m clickhouse_vs_dbt_spark script migration.sql
        run a multi-statement ClickHouse script (DDL + MVs + queries)
        end-to-end — the migration-runbook front door.
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _spark(app: str):
    from clickhouse_vs_dbt_spark.session import get_spark

    return get_spark(app)


def _prepare(spark, sf_dir: str) -> None:
    from clickhouse_vs_dbt_spark import compat
    from clickhouse_vs_dbt_spark.catalog import register_views
    from clickhouse_vs_dbt_spark.operators.common import star

    register_views(spark, sf_dir)
    star(spark, sf_dir).createOrReplaceTempView("star")
    compat.register_clickhouse_compat(spark)


def _project_runner(spark, sf_dir: str):
    """The reference's dbt project as a registered ModelRunner: five
    staging passthrough views + the materialized star, with the
    description/tags metadata the reference declares in its sources and
    schema YAML blocks (README.md:269-292, :328-345)."""
    from clickhouse_vs_dbt_spark.catalog import load_table
    from clickhouse_vs_dbt_spark.plans.models import (
        Materialization,
        Model,
        ModelRunner,
    )
    from clickhouse_vs_dbt_spark.plans.star import build_star

    runner = ModelRunner(spark)
    for t in ("customer", "orders", "lineitem", "part", "supplier"):
        runner.add(
            Model(
                f"stg_{t}",
                (lambda tt: lambda s, existing=None: load_table(s, sf_dir, tt))(t),
                materialization=Materialization.VIEW,
                description=f"Staging passthrough view over the {t} source table",
                tags=("staging",),
            )
        )
    runner.add(
        Model(
            "star",
            lambda s, existing=None: build_star(s, sf_dir),
            materialization=Materialization.TABLE,
            deps=("stg_customer", "stg_orders", "stg_lineitem", "stg_part", "stg_supplier"),
            description="Denormalized wide fact table: lineitem joined to "
            "orders and the customer/supplier/part dimensions",
            tags=("star", "mart"),
        )
    )
    return runner


def cmd_models(args) -> int:
    spark = _spark("cli-models")
    runner = _project_runner(spark, args.sf_dir)
    out = runner.run(tags=args.select_tags or None)
    for name in runner.order():
        if name in out:
            print(f"{name:16s} {out[name].count():>10d} rows")
    return 0


def cmd_docs(args) -> int:
    """dbt-docs analog: print the project manifest (materialization,
    deps, description, tags per model) as JSON."""
    import json

    spark = _spark("cli-docs")
    print(json.dumps(_project_runner(spark, args.sf_dir).manifest(), indent=2))
    return 0


def cmd_sql(args) -> int:
    import re as _re

    from clickhouse_vs_dbt_spark.dialect import (
        catalog_resolver,
        run_clickhouse_script,
        transpile,
    )

    spark = _spark("cli-sql")
    _prepare(spark, args.sf_dir)
    # EXPLAIN statements route through the script runner (EXPLAIN
    # SYNTAX prints the transpiled Spark SQL — the migration view)
    if _re.match(r"(?is)\s*EXPLAIN\b", args.query):
        res = run_clickhouse_script(spark, args.query)
        res[-1][1].show(args.limit, truncate=False)
        return 0
    # full ClickHouse-dialect front door: the transpiler handles syntax
    # (combinators, parametric aggregates, multiIf, WITH TOTALS, ...);
    # it inlines the compat scalar names, and _prepare registers the
    # pandas UDFs some of them call;
    # the catalog resolver unlocks the scale-shaped ASOF/ANY rewrites
    spark.sql(
        transpile(args.query, resolve_columns=catalog_resolver(spark))
    ).show(args.limit, truncate=False)
    return 0


def cmd_script(args) -> int:
    """Run a multi-statement ClickHouse script file (migration
    runbook): CREATE TABLE / CREATE MATERIALIZED VIEW / queries in
    one pass, with the engine-metadata handoff that makes later
    FROM t FINAL statements work."""
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    with open(args.file) as f:
        script = f.read()
    spark = _spark("cli-script")
    _prepare(spark, args.sf_dir)
    for kind, res in run_clickhouse_script(spark, script):
        if kind == "query":
            res.show(args.limit, truncate=False)
        elif kind == "explain":
            for r in res.collect():
                print(r[0])
        else:
            name = res.name if kind == "materialized_view" else res
            print(f"-- created {kind} {name}")
    return 0


def cmd_ddl(args) -> int:
    """Transpile (and optionally execute) ClickHouse DDL: CREATE TABLE
    prints/creates the Spark DDL; CREATE MATERIALIZED VIEW prints the
    parsed maintenance contract (source, keys, merge plan)."""
    import re as _re

    from clickhouse_vs_dbt_spark import ddl as ddlmod

    stmt = args.ddl.strip()
    if _re.match(r"(?is)CREATE\s+MATERIALIZED\s+VIEW", stmt):
        mv = ddlmod.transpile_materialized_view(stmt)
        print(f"-- materialized view {mv.name} over {mv.source}")
        print(f"-- keys: {', '.join(mv.keys)}")
        print(
            "-- merge: "
            + ", ".join(f"{a} via {fn}" for a, fn in mv.aggs)
        )
        print(mv.select_sql.format(src=mv.source))
        return 0
    out = ddlmod.transpile_ddl(stmt, path_override=args.path or None)
    print(out)
    if args.execute:
        spark = _spark("cli-ddl")
        spark.sql(out)
        print("-- executed")
    return 0


def cmd_query(args) -> int:
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark("cli-query")
    qs[args.name](spark, args.sf_dir).show(args.limit, truncate=False)
    return 0


def cmd_explain(args) -> int:
    """ClickHouse ``EXPLAIN`` analog: print the formatted physical plan
    of a gated query or of ad-hoc SQL (with tables + dialect registered)
    without executing it."""
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.name_or_sql in qs:
        spark = _spark("cli-explain")
        df = qs[args.name_or_sql](spark, args.sf_dir)
    else:
        from clickhouse_vs_dbt_spark.dialect import (
            catalog_resolver,
            transpile,
        )

        spark = _spark("cli-explain")
        _prepare(spark, args.sf_dir)
        df = spark.sql(transpile(
            args.name_or_sql, resolve_columns=catalog_resolver(spark)
        ))
    print(df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    ))
    return 0


def cmd_list(args) -> int:
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    for name in sorted(entrymod.queries()):
        print(name)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="clickhouse_vs_dbt_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pm = sub.add_parser("models", help="build the model DAG (dbt-run analog)")
    pm.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    pm.add_argument(
        "--select-tags",
        nargs="*",
        help="build only models with these tags (+ their deps), like "
        "dbt run --select tag:x",
    )
    pm.set_defaults(fn=cmd_models)

    pd = sub.add_parser("docs", help="print the project manifest (dbt-docs analog)")
    pd.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    pd.set_defaults(fn=cmd_docs)

    ps = sub.add_parser("sql", help="ad-hoc SQL with tables + dialect registered")
    ps.add_argument("query")
    ps.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ps.add_argument("--limit", type=int, default=20)
    ps.set_defaults(fn=cmd_sql)

    pq = sub.add_parser("query", help="run a gated query by name")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    pq.add_argument("--limit", type=int, default=20)
    pq.set_defaults(fn=cmd_query)

    psc = sub.add_parser(
        "script", help="run a multi-statement ClickHouse script file"
    )
    psc.add_argument("file")
    psc.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    psc.add_argument("--limit", type=int, default=20)
    psc.set_defaults(fn=cmd_script)

    pddl = sub.add_parser(
        "ddl", help="transpile ClickHouse DDL (CREATE TABLE / MATERIALIZED VIEW)"
    )
    pddl.add_argument("ddl")
    pddl.add_argument("--path", default="", help="override the storage path")
    pddl.add_argument("--execute", action="store_true")
    pddl.set_defaults(fn=cmd_ddl)

    pl = sub.add_parser("list", help="list gated query names")
    pl.set_defaults(fn=cmd_list)

    pe = sub.add_parser(
        "explain", help="print the physical plan of a query name or SQL"
    )
    pe.add_argument("name_or_sql")
    pe.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    pe.set_defaults(fn=cmd_explain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
