"""The benchmark's workloads: fixed lists of ops over the package's
public functions, each with the DuckDB twin that checks it.

* ``ssb_flight`` — the reference's ELT pipeline: one refresh of the
  ``models`` command's dbt project (five staging views, the
  materialized ``star`` TABLE, and one merge-strategy incremental model
  that folds a seeded batch of changed orders into its prior version),
  then ``star_build`` and the first query of each of the four SSB
  flights of ``operators/ssb_queries.py``.  The other nine queries only
  repeat their flight's plan shape with other filters, and each one
  adds its cold first run to the untimed part of a run, which the
  benchmark's time per run cannot hold.  The transpiler does none of
  the work.  At this scale Spark's jobs (scan, the broadcast star join,
  aggregation, the model writes) take about half of an op's time and
  driver-side fixed cost the other half, so the data-bound regime is
  not measured: larger inputs do not fit the benchmark's time per run.
* ``dialect_frontdoor`` — seven of the ``dialect_*`` gates:
  verbatim ClickHouse statements through ``run_clickhouse_sql`` on tiny
  inputs, so transpile, catalog probes, Catalyst and job dispatch take
  the time.

Queries are looked up by name in the entry-point registry
(``__spark_entry__.queries()`` / ``oracle_sql()``), whose names stay
stable when the modules behind them are refactored.
"""

from __future__ import annotations

import random
import time

import check

WORKLOADS = ("ssb_flight", "dialect_frontdoor")
SSB_SF = 0.02
DIALECT_SF = 0.001

SSB_OPS = (
    "star_build", "ssb_q1_1", "ssb_q2_brand_revenue",
    "ssb_q3_nation_revenue", "ssb_q4_profit",
)
# every sixteenth dialect_* gate, by name, among those that read only
# the generated tables (dialect_normalize and dialect_vector_math read
# documents/embeddings, which the generator does not make); a run is
# about a minute long, most of it JVM start and the cold first pass
DIALECT_OPS = (
    "dialect_anova", "dialect_dictionary", "dialect_limit_by",
    "dialect_probe21", "dialect_resample", "dialect_statement_forms",
    "dialect_with_fill_expr",
)
SSB_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
DIALECT_TABLES = SSB_TABLES + ("events",)
REFRESH = "refresh"

# the dbt project's incremental model: merge strategy keyed by
# o_orderkey; the first refresh loads every order, later ones fold in
# the ``orders_changes`` batch registered before each refresh
INCREMENTAL_MODEL = "orders_current"
INCREMENTAL_SQL = """{{ config(materialized='incremental', unique_key='o_orderkey') }}
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
{% if is_incremental() %}
FROM orders_changes
{% else %}
FROM {{ ref('stg_orders') }}
{% endif %}"""
CHANGE_MODULUS = 1000
CHANGE_SHARE = 10  # orders per CHANGE_MODULUS changed by each batch


def change_batch(seed: int, refresh: int) -> str:
    """Predicate over ``o_orderkey`` selecting refresh ``refresh``'s
    batch of changed orders; the same SQL text runs on both engines."""
    rng = random.Random(f"{seed}:{refresh}")
    a, b = rng.randrange(1, CHANGE_MODULUS), rng.randrange(CHANGE_MODULUS)
    return f"(o_orderkey * {a} + {b}) % {CHANGE_MODULUS} < {CHANGE_SHARE}"


def changes_sql(seed: int, refresh: int, source: str) -> str:
    """Refresh ``refresh``'s batch: the selected orders of ``source``
    with a new status and a price raised by ``refresh``."""
    return f"""
SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
       o_totalprice + {refresh} AS o_totalprice,
       o_orderdate, o_orderpriority
FROM {source}
WHERE {change_batch(seed, refresh)}"""


def expected_incremental_sql(seed: int, refreshes: int) -> str:
    """DuckDB twin of ``orders_current`` after ``refreshes`` refreshes:
    each order carries the change of the latest batch that selected it."""
    if refreshes <= 1:
        status, price = "o_orderstatus", "o_totalprice"
    else:
        latest_first = range(refreshes - 1, 0, -1)
        status = "CASE" + "".join(
            f" WHEN {change_batch(seed, r)} THEN 'U'" for r in latest_first
        ) + " ELSE o_orderstatus END"
        price = "CASE" + "".join(
            f" WHEN {change_batch(seed, r)} THEN o_totalprice + {r}"
            for r in latest_first
        ) + " ELSE o_totalprice END"
    return f"""
SELECT o_orderkey, o_custkey, {status} AS o_orderstatus,
       {price} AS o_totalprice, o_orderdate, o_orderpriority
FROM orders"""


STAGED = ("customer", "orders", "lineitem", "part", "supplier")


def untraced(name: str, build):
    return build()


class DbtProject:
    """The ``models`` command's dbt project (five staging passthrough
    views and the materialized ``star`` TABLE), built on the public
    ``ModelRunner`` API, plus the incremental model."""

    def __init__(self, spark, sf_dir: str, seed: int) -> None:
        from clickhouse_vs_dbt_spark.catalog import load_table
        from clickhouse_vs_dbt_spark.plans.models import (
            Materialization,
            Model,
            ModelRunner,
        )
        from clickhouse_vs_dbt_spark.plans.star import build_star

        self.seed = seed
        self.refreshes = 0
        # ``hook(model, build)`` runs each builder; a traced run spans it
        self.hook = untraced
        self.runner = ModelRunner(spark)
        for t in STAGED:
            self.runner.add(Model(
                f"stg_{t}",
                self._builder(f"stg_{t}", lambda s, t=t: load_table(s, sf_dir, t)),
                materialization=Materialization.VIEW, tags=("staging",),
            ))
        self.runner.add(Model(
            "star", self._builder("star", lambda s: build_star(s, sf_dir)),
            materialization=Materialization.TABLE,
            deps=tuple(f"stg_{t}" for t in STAGED), tags=("star", "mart"),
        ))
        self.runner.sql_model(
            INCREMENTAL_MODEL, INCREMENTAL_SQL, deps=("stg_orders",),
            description="Current version of every order, merged by key",
        )

    def _builder(self, name: str, build):
        return lambda s, existing=None: self.hook(name, lambda: build(s))

    def refresh(self, spark) -> None:
        """One ``dbt run``: every model in DAG order."""
        if self.refreshes:
            spark.sql(
                changes_sql(self.seed, self.refreshes, "stg_orders")
            ).createOrReplaceTempView("orders_changes")
        self.runner.run()
        self.refreshes += 1

    def expected(self) -> dict[str, str]:
        from clickhouse_vs_dbt_spark.plans.star import star_sql

        return {
            "star": star_sql(),
            INCREMENTAL_MODEL: expected_incremental_sql(self.seed, self.refreshes),
        }


def _failure(e: Exception) -> str:
    return f"raised {type(e).__name__}: {e}"[:300]


class Workload:
    """Registry queries, plus the dbt project refresh when ``refresh``."""

    def __init__(self, sf: float, queries: tuple[str, ...],
                 tables: tuple[str, ...], seed: int, refresh: bool,
                 warmup_rounds: int, round_s: float) -> None:
        self.sf, self.seed = sf, seed
        self.warmup_rounds, self.round_s = warmup_rounds, round_s
        self.queries, self.tables = queries, tables
        self.op_names = queries + ((REFRESH,) if refresh else ())
        self.project: DbtProject | None = None
        self.registry: dict = {}  # query name -> builder, from __spark_entry__
        self.check_s: dict[str, float] = {}  # seconds per op in the check pass

    def setup(self, spark, sf_dir: str) -> None:
        """Load every input through the catalog; register the ClickHouse
        compat functions or create the dbt project."""
        import __spark_entry__

        from clickhouse_vs_dbt_spark import catalog, compat

        self.registry = __spark_entry__.queries()
        for t in self.tables:
            catalog.load_table(spark, sf_dir, t)
        if REFRESH in self.op_names:
            self.project = DbtProject(spark, sf_dir, self.seed)
        else:
            compat.register_clickhouse_compat(spark)

    def run_op(self, spark, sf_dir: str, name: str):
        """Execute op ``name``; return the query's DataFrame, if any."""
        if name == REFRESH:
            self.project.refresh(spark)
            return None
        df = self.registry[name](spark, sf_dir)
        if name == "star_build":
            # six rows per order: execute without shipping them to Python
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        return df

    def expected(self) -> dict[str, str]:
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        out = {name: oracles[name] for name in self.queries}
        if self.project:
            out.update(self.project.expected())
        return out

    def check_queries(self, spark, sf_dir: str, con, order: list[str],
                      expected: dict[str, str]) -> list[tuple[str, str | None]]:
        """Run every op once in ``order``; compare each query's result
        with its DuckDB twin.  The refresh runs unchecked here (its
        models are checked by :meth:`check_models`)."""
        out = []
        for name in order:
            t = time.perf_counter()
            try:
                if name == REFRESH:
                    self.project.refresh(spark)
                    err = None
                else:
                    df = self.registry[name](spark, sf_dir)
                    err = check.compare(df, con, expected[name])
            except Exception as e:  # a raising op is a failed op
                err = _failure(e)
            self.check_s[name] = time.perf_counter() - t
            if name != REFRESH or err is not None:
                out.append((name, err))
        return out

    def check_models(self, spark, con, expected: dict[str, str]) -> list[tuple[str, str | None]]:
        """Compare the models the last refresh left with their twins."""
        if not self.project:
            return []
        out = []
        for name in ("star", INCREMENTAL_MODEL):
            try:
                out.append((name, check.compare(spark.table(name), con, expected[name])))
            except Exception as e:
                out.append((name, _failure(e)))
        return out

    def fact_relation(self, spark, sf_dir: str):
        """The stored relation the ops scan: the dbt ``star`` TABLE, or
        the catalog's ``lineitem``."""
        from clickhouse_vs_dbt_spark import catalog

        if self.project:
            return spark.table("star")
        return catalog.load_table(spark, sf_dir, "lineitem")


def make(name: str, seed: int, sf: float | None) -> Workload:
    """The workload called ``name`` at scale ``sf`` (its default when None)."""
    # round_s: the round's wall time on an idle 4-vCPU VM, which sets how
    # many rounds a run times.  The front door's statements are short and
    # few, so the JIT is still compiling for them after the check pass;
    # one untimed round keeps the worst of that out of the timed rounds.
    if name == "ssb_flight":
        return Workload(sf or SSB_SF, SSB_OPS, SSB_TABLES, seed,
                        refresh=True, warmup_rounds=0, round_s=5.0)
    if name == "dialect_frontdoor":
        return Workload(sf or DIALECT_SF, DIALECT_OPS, DIALECT_TABLES, seed,
                        refresh=False, warmup_rounds=1, round_s=3.5)
    raise KeyError(f"unknown workload {name!r}")
