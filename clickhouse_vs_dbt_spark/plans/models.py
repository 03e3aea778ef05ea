"""Model DAG runner — the dbt-analog (operators S2, S3, S5).

The reference's dbt project declares per-folder materializations
(``staging: +materialized: view``, ``star: +materialized: table``,
reference README.md:254-263), resolves ``ref()``/``source()`` into a
dependency DAG, and executes models in topological order via ``dbt run``
(README.md:391-394, :406-409).  This module is that entire surface as a
small idiomatic-Python registry:

* ``Model`` = name + builder function + deps + materialization.
* ``ModelRunner.run()`` topo-sorts and materializes each model:
  - ``VIEW``  → ``createOrReplaceTempView`` (unmaterialized, recomputed
    per query — exactly dbt's ``view`` on ClickHouse).
  - ``TABLE`` → write parquet to a warehouse dir and re-register the
    scan as the view (dbt ``table``: computed once, queried many times).
    Tables can be partitioned (e.g. star by order-year → partition
    pruning for the Q1 flight's date predicates at 100 TB) and bucketed.
  - ``INCREMENTAL`` → dbt's merge (copy-on-write versions),
    insert_overwrite and append strategies (``_materialize_incremental``).

Every re-read of a relation the runner wrote scans it with the schema
it was written with, so it costs no parquet-footer inference job and
partition columns keep the model's types.  A REBALANCE
(``catalog.rebalanced``) precedes only partitioned writes, where it
gives one file per partition value instead of one per task and value,
and the incremental model's writes (copy-on-write versions and
batches).  An unpartitioned TABLE already writes one file per write
task, and a REBALANCE there would shuffle the whole relation just to
resize its files.  ``sort_by`` orders the rows within every file a
model writes (a task-local sort, no shuffle); a bucketed TABLE passes
it to ``bucketBy(...).sortBy`` instead.

Within a single query Spark's lazy plan already orders work; the runner
exists for the *cross-query* materialization boundary the reference's
author chose deliberately: the expensive denormalizing join runs once,
the query flight then scans its output (SURVEY.md §4 row 1).
"""

from __future__ import annotations

import contextlib
import enum
import re
import shutil
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from clickhouse_vs_dbt_spark.catalog import rebalanced
from clickhouse_vs_dbt_spark.session import scratch_dir


@contextlib.contextmanager
def _conf(spark: SparkSession, key: str, value: str):
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


class Materialization(enum.Enum):
    VIEW = "view"
    TABLE = "table"
    # dbt's third core materialization: first run builds the table, later
    # runs fold in only the new batch.  The reference stops at view/table
    # (README.md:254-263) but its 100 TB posture demands this — you do
    # not re-join a 100 TB star per day, you merge the day's partitions.
    INCREMENTAL = "incremental"


@dataclass(frozen=True)
class Model:
    name: str
    builder: Callable[[SparkSession], DataFrame]
    deps: Sequence[str] = ()
    materialization: Materialization = Materialization.VIEW
    # dbt-docs metadata (reference README.md:269-292 sources block,
    # :328-345 staging YAML): human description + selection tags.
    # ``tags`` also drive tag-selected runs (dbt `--select tag:x`).
    description: str = ""
    tags: Sequence[str] = ()
    partition_by: Sequence[str] = ()
    # (n_buckets, key columns...): hash-bucket the table on write so
    # joins/aggs on the bucket key need no exchange (co-located join —
    # the 100 TB answer to the fact⋈fact lineitem⋈orders shuffle).
    bucket_by: tuple[int, Sequence[str]] | None = None
    # the row order within each written file (a MergeTree ``ORDER BY``):
    # equal keys sit together, so their columns encode in short runs
    sort_by: Sequence[str] = ()
    # INCREMENTAL only.  With unique_key: dbt's ``merge`` strategy —
    # incoming rows replace existing rows with the same key.  Without:
    # ``insert_overwrite`` when partition_by is set (only the incoming
    # batch's partitions are rewritten — the cheap path at 100 TB),
    # plain append otherwise.  Incremental builders take
    # ``(spark, existing)`` where existing is None on the first run.
    unique_key: Sequence[str] = ()
    # merge strategy only: how many materialized versions to retain.
    # The copy-on-write merge writes each run to a fresh _v{N}
    # directory anyway, so snapshots are free until deleted — keeping
    # K of them gives Delta/Iceberg-style time travel
    # (``ModelRunner.read_version``) with zero extra write cost; only
    # retention (disk) is the price, exactly the table-format
    # trade-off.
    keep_versions: int = 1


def _laid_out(df: DataFrame, model: Model, rebalance: bool) -> DataFrame:
    """``df`` as ``model`` writes it: REBALANCEd by its partition
    columns when ``rebalance``, then each task sorted by
    ``model.sort_by``.  The sort leads with the partition columns:
    that is the order a partitioned write needs, so Spark adds no sort
    of its own that would replace this one."""
    out = rebalanced(df, *model.partition_by) if rebalance else df
    if model.sort_by:
        out = out.sortWithinPartitions(*model.partition_by, *model.sort_by)
    return out


@dataclass
class ModelRunner:
    spark: SparkSession
    warehouse_dir: str | None = None
    _models: dict[str, Model] = field(default_factory=dict)
    # incremental model -> (version counter, current data path); survives
    # across run() calls so the next run sees the prior materialization.
    _incr_state: dict[str, tuple[int, str]] = field(default_factory=dict)
    # data path -> the schema the runner wrote there (see _scan)
    _written: dict[str, StructType] = field(default_factory=dict)

    def model(
        self,
        name: str,
        deps: Sequence[str] = (),
        materialization: Materialization = Materialization.VIEW,
        partition_by: Sequence[str] = (),
        description: str = "",
        tags: Sequence[str] = (),
    ) -> Callable[[Callable[[SparkSession], DataFrame]], Callable[[SparkSession], DataFrame]]:
        """Decorator: ``@runner.model("stg_customer")`` registers a model
        the way a dbt ``models/*.sql`` file + config block does."""

        def wrap(fn: Callable[[SparkSession], DataFrame]) -> Callable[[SparkSession], DataFrame]:
            self.add(
                Model(
                    name,
                    fn,
                    deps,
                    materialization,
                    description,
                    tags,
                    partition_by,
                )
            )
            return fn

        return wrap

    def add(self, model: Model) -> None:
        if model.name in self._models:
            raise ValueError(f"duplicate model {model.name!r}")
        self._models[model.name] = model

    def sql_model(
        self,
        name: str,
        text: str,
        deps: Sequence[str] = (),
        refs: dict[str, str] | None = None,
        tags: Sequence[str] = (),
        description: str = "",
    ) -> None:
        """Register a verbatim dbt model FILE (jinja SQL).  The
        ``{{ config(...) }}`` block selects the materialization —
        ``view``/``table``/``incremental`` with dbt's strategy
        selection (``unique_key`` → merge, ``partition_by`` →
        insert_overwrite, neither → append).  ``{{ ref('x') }}``
        resolves to the model's view name (override via ``refs``);
        for incremental models ``{% if is_incremental() %}`` renders
        against THIS runner's materialization state (False on the
        first run, True once a prior materialization exists) and
        ``{{ this }}`` points at the prior materialization — so a
        real dbt incremental model file runs unmodified."""
        cfg = parse_dbt_config(text)
        mat = Materialization(cfg.get("materialized", "view"))
        uk = cfg.get("unique_key", ())
        uk = (uk,) if isinstance(uk, str) else tuple(uk)
        pb = cfg.get("partition_by", ())
        pb = (pb,) if isinstance(pb, str) else tuple(pb)
        ref_map = {d: d for d in deps}
        ref_map.update(refs or {})

        if mat is Materialization.INCREMENTAL:

            def builder(spark, existing, _text=text):
                this_view = f"__this_{name}"
                if existing is not None:
                    existing.createOrReplaceTempView(this_view)
                return spark.sql(
                    render_dbt_model(
                        _text,
                        ref_map,
                        is_incremental=existing is not None,
                        this=this_view,
                    )
                )

        else:

            def builder(spark, _text=text):
                return spark.sql(render_dbt_model(_text, ref_map, this=name))

        self.add(
            Model(
                name,
                builder,
                deps,
                mat,
                description,
                tags,
                partition_by=pb,
                unique_key=uk,
            )
        )

    def order(self) -> list[str]:
        """Topological model order (dbt's DAG resolution, operator S5)."""
        ts = TopologicalSorter({m.name: set(m.deps) for m in self._models.values()})
        return list(ts.static_order())

    def manifest(self) -> dict[str, dict]:
        """dbt-docs analog (reference README.md:269-292, :328-345): the
        project's metadata surface — per model: materialization, deps,
        description, tags — in DAG order, machine-readable."""
        return {
            name: {
                "materialization": m.materialization.value,
                "deps": list(m.deps),
                "description": m.description,
                "tags": list(m.tags),
            }
            for name in self.order()
            for m in (self._models[name],)
        }

    def select(self, tags: Sequence[str]) -> list[str]:
        """Tag selection (dbt ``--select tag:x``): models carrying any
        of the tags, plus their transitive dependencies, in DAG order."""
        want = set(tags)
        picked = {
            m.name for m in self._models.values() if want & set(m.tags)
        }
        grew = True
        while grew:
            grew = False
            for name in list(picked):
                for d in self._models[name].deps:
                    if d not in picked:
                        picked.add(d)
                        grew = True
        return [n for n in self.order() if n in picked]

    def run(self, tags: Sequence[str] | None = None) -> dict[str, DataFrame]:
        """Materialize every model (or the tag-selected subgraph) in
        dependency order; each model's name becomes a resolvable view
        for downstream models and ad-hoc SQL."""
        names = self.order() if tags is None else self.select(tags)
        out: dict[str, DataFrame] = {}
        for name in names:
            model = self._models[name]
            missing = [d for d in model.deps if d not in out]
            if missing:
                raise ValueError(f"model {name!r} missing deps {missing}")
            if model.materialization is Materialization.INCREMENTAL:
                df = self._materialize_incremental(model)
            else:
                df = model.builder(self.spark)
                if model.materialization is Materialization.TABLE:
                    df = self._materialize_table(model, df)
            df.createOrReplaceTempView(name)
            out[name] = df
        return out

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time-travel read of a retained snapshot of a merge-strategy
        incremental model (see ``Model.keep_versions``).  Versions are
        immutable once written — a later merge writes a NEW directory —
        so this is snapshot isolation: readers of v(N) are unaffected
        by the v(N+1) merge, the same contract a table format's
        ``VERSION AS OF`` gives."""
        if name not in self._models:
            raise KeyError(f"unknown model {name!r}")
        state = self._incr_state.get(name)
        if state is None:
            raise ValueError(f"model {name!r} has no materialized versions")
        current, _ = state
        model = self._models[name]
        if not model.unique_key:
            # insert_overwrite / append mutate the v0 directory in
            # place — there are no immutable snapshots to travel to
            raise ValueError(
                f"model {name!r} is not merge-strategy; time travel "
                "requires the copy-on-write merge materialization"
            )
        oldest = max(current - max(model.keep_versions, 1) + 1, 0)
        if not (oldest <= version <= current):
            raise ValueError(
                f"version {version} of {name!r} is outside the retained "
                f"range [{oldest}, {current}] (keep_versions="
                f"{model.keep_versions})"
            )
        return self._scan(f"{self.warehouse_dir}/{name}_v{version}")

    def mutate(
        self,
        name: str,
        delete_where: str | None = None,
        set_exprs: dict[str, str] | None = None,
        update_where: str | None = None,
    ) -> DataFrame:
        """ClickHouse ``ALTER TABLE ... DELETE / UPDATE`` analog
        (ClickHouse mutations rewrite whole parts asynchronously; the
        Spark-native equivalent is the same copy-on-write): read the
        current version, apply the delete predicate and/or the SET
        assignments, write the next version.  Retention and
        ``read_version`` apply as for merges, so a mutation is
        time-travelable and crash-safe (a torn write never touches the
        current version's directory).  At 100 TB a table format would
        prune the rewrite to affected files; the semantics here are
        identical with whole-relation rewrite cost."""
        state = self._incr_state.get(name)
        if state is None:
            raise ValueError(f"model {name!r} has no materialized versions")
        model = self._models[name]
        if not model.unique_key:
            raise ValueError(
                f"model {name!r} is not merge-strategy; mutations need "
                "the copy-on-write versioned materialization"
            )
        version, path = state
        cur = self._scan(path)
        if delete_where:
            cur = cur.filter(f"NOT ({delete_where})")
        if set_exprs:
            cond = update_where or "true"
            # withColumns (plural) projects ALL assignments against the
            # pre-mutation row simultaneously — ClickHouse's ALTER
            # UPDATE semantics; chained withColumn would let
            # {'a': 'b', 'b': 'a'} see the already-updated a.
            cur = cur.withColumns(
                {
                    col: F.expr(
                        f"CASE WHEN {cond} THEN {expr} ELSE {col} END"
                    )
                    for col, expr in set_exprs.items()
                }
            )
        return self._write_version(model, version + 1, cur)

    def compact(self, name: str, target_files: int = 1) -> DataFrame:
        """``OPTIMIZE TABLE`` analog: rewrite the current version into
        ``target_files`` files per partition directory (coalesce) as a
        NEW version — pure layout change, bit-identical content, undone
        by time travel like any other version.  The small-files problem
        this fixes is the same one ClickHouse merges away in the
        background."""
        state = self._incr_state.get(name)
        if state is None:
            raise ValueError(f"model {name!r} has no materialized versions")
        model = self._models[name]
        if not model.unique_key:
            raise ValueError(
                f"model {name!r} is not merge-strategy; compaction needs "
                "the copy-on-write versioned materialization"
            )
        version, path = state
        cur = self._scan(path).coalesce(max(target_files, 1))
        # rebalance=False: compact() manages its own layout — a
        # REBALANCE shuffle on top of the coalesce would override the
        # caller's target_files with AQE's advisory sizing (review
        # r16a)
        return self._write_version(model, version + 1, cur, rebalance=False)

    def _write_version(
        self, model: Model, version: int, df: DataFrame,
        rebalance: bool = True,
    ) -> DataFrame:
        """Write ``df`` as the model's version ``version``, apply the
        retention policy, update state, re-register the temp view.
        The write is REBALANCEd (catalog.rebalanced: right-sized files,
        one per partition value locally instead of one per task and
        value) unless ``rebalance=False``, for callers that manage the
        layout themselves (compact)."""
        path = f"{self.warehouse_dir}/{model.name}_v{version}"
        out = self._create(df, path, model, rebalance)
        drop_below = version - max(model.keep_versions, 1) + 1
        for v in range(max(drop_below, 0)):
            old = f"{self.warehouse_dir}/{model.name}_v{v}"
            shutil.rmtree(old, ignore_errors=True)
            self._written.pop(old, None)
        self._incr_state[model.name] = (version, path)
        out.createOrReplaceTempView(model.name)
        return out

    def _create(
        self, df: DataFrame, path: str, model: Model, rebalance: bool,
    ) -> DataFrame:
        """Write ``df`` as a new parquet relation at ``path``, replacing
        any old one, laid out by :func:`_laid_out`; return the
        relation's scan (:meth:`_scan`)."""
        shutil.rmtree(path, ignore_errors=True)
        writer = _laid_out(df, model, rebalance).write.mode("overwrite")
        if model.partition_by:
            writer = writer.partitionBy(*model.partition_by)
        writer.parquet(path)
        self._written[path] = df.schema
        return self._scan(path)

    def _scan(self, path: str) -> DataFrame:
        """Scan of the relation the runner wrote at ``path``, with the
        schema it wrote there rather than one inferred from parquet
        footers: inference costs a Spark job per read, and it reads a
        partition column back by its directory names, so a STRING key
        ``'01'`` would come back as the INT ``1``.  The incremental
        insert_overwrite and append strategies keep the schema of the
        relation's first write (dbt's ``on_schema_change='ignore'``)."""
        return self.spark.read.schema(self._written[path]).parquet(path)

    def _materialize_incremental(self, model: Model) -> DataFrame:
        """dbt ``incremental``: the builder returns only the new batch;
        this folds it into the prior materialization.

        Strategies (selected exactly as dbt does):

        * ``unique_key`` set → **merge**: prior rows whose key appears in
          the batch are replaced (left-anti + union).  Plain parquet has
          no ACID merge, so the merged relation is written to a fresh
          versioned directory and the pointer swapped — the same
          copy-on-write shape Delta/Iceberg MERGE INTO performs, minus
          the file-level pruning a table format would add at 100 TB.
        * ``partition_by`` set (no key) → **insert_overwrite**: dynamic
          partition overwrite rewrites only the partitions present in
          the batch — cost scales with the batch, not the table.
        * neither → **append**.
        """
        if self.warehouse_dir is None:
            self.warehouse_dir = scratch_dir("spark_models")
        state = self._incr_state.get(model.name)
        existing = self._scan(state[1]) if state else None
        batch = model.builder(self.spark, existing)  # type: ignore[call-arg]

        if state is None:
            return self._write_version(model, 0, batch)
        version, path = state
        if model.unique_key:
            keys = list(model.unique_key)
            # no distinct on the batch keys: a left-anti join ignores
            # duplicates on its right side, so it would be dead work
            merged = existing.join(
                batch.select(*keys), on=keys, how="left_anti"
            ).unionByName(batch)
            return self._write_version(model, version + 1, merged)
        if model.partition_by:
            with _conf(self.spark, "spark.sql.sources.partitionOverwriteMode",
                       "dynamic"):
                _laid_out(batch, model, True).write.mode(
                    "overwrite"
                ).partitionBy(*model.partition_by).parquet(path)
        else:
            _laid_out(batch, model, True).write.mode("append").parquet(path)
        return self._scan(path)

    def _materialize_table(self, model: Model, df: DataFrame) -> DataFrame:
        """dbt ``table``: write ``df`` and return the scan of what was
        written.  Only a partitioned write is REBALANCEd: without it
        every write task emits one file per partition value it holds.
        An unpartitioned write already emits one file per task, so a
        REBALANCE there would shuffle the whole relation (at 100 TB, the
        whole star) just to resize its files."""
        if model.bucket_by is not None:
            # Bucketed output must go through the session catalog
            # (bucket metadata lives there, not in the parquet files).
            n, cols = model.bucket_by
            writer = df.write.mode("overwrite").format("parquet")
            writer = writer.bucketBy(n, *cols)
            if model.sort_by:
                writer = writer.sortBy(*model.sort_by)
            self.spark.sql(f"DROP TABLE IF EXISTS {model.name}")
            # the in-memory catalog forgets tables across sessions but
            # their warehouse directories persist — clear stale ones
            wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            shutil.rmtree(f"{wh}/{model.name.lower()}", ignore_errors=True)
            writer.saveAsTable(model.name)
            return self.spark.table(model.name)
        if self.warehouse_dir is None:
            self.warehouse_dir = scratch_dir("spark_models")
        return self._create(
            df, f"{self.warehouse_dir}/{model.name}", model,
            rebalance=bool(model.partition_by),
        )


# --- verbatim dbt model: the reference's star.sql, character-for-character ---

def render_dbt_model(
    text: str,
    refs: dict[str, str],
    is_incremental: bool = False,
    this: str | None = None,
) -> str:
    """Minimal dbt-jinja renderer: strip ``{{ config(...) }}``,
    substitute ``{{ ref('name') }}`` with the mapped relation
    (README.md:350-394), resolve ``{% if is_incremental() %} …
    [{% else %} …] {% endif %}`` guards against the runner's
    materialization state, and substitute ``{{ this }}`` with the
    current materialization's relation — the constructs a real dbt
    incremental model file uses.  Everything else passes through
    verbatim."""
    import re

    text = re.sub(r"\{\{\s*config\((?:[^}]|\}(?!\}))*\)\s*\}\}", "", text)

    def guard(m):
        keep, els = m.group(1), m.group(2) or ""
        return keep if is_incremental else els

    text = re.sub(
        r"\{%-?\s*if\s+is_incremental\(\)\s*-?%\}(.*?)"
        r"(?:\{%-?\s*else\s*-?%\}(.*?))?\{%-?\s*endif\s*-?%\}",
        guard,
        text,
        flags=re.S,
    )
    if "{{ this }}" in text or re.search(r"\{\{\s*this\s*\}\}", text):
        if this is None:
            raise KeyError(
                "model uses {{ this }} but no current relation was "
                "provided"
            )
        text = re.sub(r"\{\{\s*this\s*\}\}", this, text)

    def sub(m):
        name = m.group(1)
        if name not in refs:
            raise KeyError(f"unresolved dbt ref {name!r}")
        return refs[name]

    return re.sub(r"\{\{\s*ref\(\'([^\']+)\'\)\s*\}\}", sub, text)


_CFG_RE = re.compile(r"\{\{\s*config\(((?:[^}]|\}(?!\}))*)\)\s*\}\}")


def parse_dbt_config(text: str) -> dict:
    """Config keys from a model file's ``{{ config(...) }}`` block:
    ``materialized``, ``unique_key`` (string or list), and
    ``partition_by`` — the keys the ModelRunner materializations
    consume.  Python-literal parsing of the kwargs (dbt config blocks
    are literal kwargs in practice)."""
    m = _CFG_RE.search(text)
    if not m:
        return {}
    import ast

    try:
        call = ast.parse(f"f({m.group(1)})", mode="eval").body
        return {
            kw.arg: ast.literal_eval(kw.value)
            for kw in call.keywords
            if kw.arg is not None
        }
    except (SyntaxError, ValueError) as e:
        raise ValueError(f"unparseable dbt config block: {e}") from e


# reference README.md:349-394 character-for-character (the project's
# single transform model: the 38-column denormalized star).
REFERENCE_STAR_SQL = """{{ config(materialized='table') }}

SELECT
    l.LO_ORDERKEY AS LO_ORDERKEY,
    l.LO_LINENUMBER AS LO_LINENUMBER,
    l.LO_CUSTKEY AS LO_CUSTKEY,
    l.LO_PARTKEY AS LO_PARTKEY,
    l.LO_SUPPKEY AS LO_SUPPKEY,
    l.LO_ORDERDATE AS LO_ORDERDATE,
    l.LO_ORDERPRIORITY AS LO_ORDERPRIORITY,
    l.LO_SHIPPRIORITY AS LO_SHIPPRIORITY,
    l.LO_QUANTITY AS LO_QUANTITY,
    l.LO_EXTENDEDPRICE AS LO_EXTENDEDPRICE,
    l.LO_ORDTOTALPRICE AS LO_ORDTOTALPRICE,
    l.LO_DISCOUNT AS LO_DISCOUNT,
    l.LO_REVENUE AS LO_REVENUE,
    l.LO_SUPPLYCOST AS LO_SUPPLYCOST,
    l.LO_TAX AS LO_TAX,
    l.LO_COMMITDATE AS LO_COMMITDATE,
    l.LO_SHIPMODE AS LO_SHIPMODE,
    c.C_NAME AS C_NAME,
    c.C_ADDRESS AS C_ADDRESS,
    c.C_CITY AS C_CITY,
    c.C_NATION AS C_NATION,
    c.C_REGION AS C_REGION,
    c.C_PHONE AS C_PHONE,
    c.C_MKTSEGMENT AS C_MKTSEGMENT,
    s.S_NAME AS S_NAME,
    s.S_ADDRESS AS S_ADDRESS,
    s.S_CITY AS S_CITY,
    s.S_NATION AS S_NATION,
    s.S_REGION AS S_REGION,
    s.S_PHONE AS S_PHONE,
    p.P_NAME AS P_NAME,
    p.P_MFGR AS P_MFGR,
    p.P_CATEGORY AS P_CATEGORY,
    p.P_BRAND AS P_BRAND,
    p.P_COLOR AS P_COLOR,
    p.P_TYPE AS P_TYPE,
    p.P_SIZE AS P_SIZE,
    p.P_CONTAINER AS P_CONTAINER
FROM {{ ref('stg_lineorder') }} AS l
INNER JOIN {{ ref('stg_customers') }} AS c ON c.C_CUSTKEY = l.LO_CUSTKEY
INNER JOIN {{ ref('stg_supplier') }} AS s ON s.S_SUPPKEY = l.LO_SUPPKEY
INNER JOIN {{ ref('stg_part') }} AS p ON p.P_PARTKEY = l.LO_PARTKEY"""


def _register_ssb_staging(spark: SparkSession, sf_dir: str) -> None:
    """SSB-shaped staging views derived deterministically from the
    fixtures — the missing SSB columns are pure functions of fixture
    keys, reproduced identically by the oracle SQL (the ddl.py
    customer-derivation convention)."""
    from clickhouse_vs_dbt_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").alias("li")
    o = load_table(spark, sf_dir, "orders").alias("o")
    li.join(o, F.col("li.l_orderkey") == F.col("o.o_orderkey")).select(
        F.col("l_orderkey").alias("LO_ORDERKEY"),
        F.col("l_linenumber").alias("LO_LINENUMBER"),
        F.col("o_custkey").alias("LO_CUSTKEY"),
        F.col("l_partkey").alias("LO_PARTKEY"),
        F.col("l_suppkey").alias("LO_SUPPKEY"),
        F.col("o_orderdate").alias("LO_ORDERDATE"),
        F.col("o_orderpriority").alias("LO_ORDERPRIORITY"),
        F.lit(0).alias("LO_SHIPPRIORITY"),
        F.col("l_quantity").alias("LO_QUANTITY"),
        F.col("l_extendedprice").alias("LO_EXTENDEDPRICE"),
        F.col("o_totalprice").alias("LO_ORDTOTALPRICE"),
        F.col("l_discount").alias("LO_DISCOUNT"),
        F.col("l_extendedprice").alias("LO_REVENUE"),
        (F.col("l_quantity") * F.lit(10.0)).alias("LO_SUPPLYCOST"),
        F.col("l_tax").alias("LO_TAX"),
        F.col("l_shipdate").alias("LO_COMMITDATE"),
        F.concat(F.col("l_returnflag"), F.lit("_MODE")).alias("LO_SHIPMODE"),
    ).createOrReplaceTempView("stg_lineorder")
    c = load_table(spark, sf_dir, "customer")
    c.select(
        F.col("c_custkey").alias("C_CUSTKEY"),
        F.col("c_name").alias("C_NAME"),
        F.concat(F.lit("ADDR_"), F.col("c_custkey")).alias("C_ADDRESS"),
        F.concat(F.lit("CITY_"), F.col("c_nationkey") % 10).alias("C_CITY"),
        F.concat(F.lit("NATION_"), F.col("c_nationkey")).alias("C_NATION"),
        F.concat(F.lit("REGION_"), F.col("c_nationkey") % 5).alias("C_REGION"),
        F.concat(F.lit("PH_"), F.col("c_custkey") % 100).alias("C_PHONE"),
        F.col("c_mktsegment").alias("C_MKTSEGMENT"),
    ).createOrReplaceTempView("stg_customers")
    s = load_table(spark, sf_dir, "supplier")
    s.select(
        F.col("s_suppkey").alias("S_SUPPKEY"),
        F.col("s_name").alias("S_NAME"),
        F.concat(F.lit("SADDR_"), F.col("s_suppkey")).alias("S_ADDRESS"),
        F.concat(F.lit("CITY_"), F.col("s_nationkey") % 10).alias("S_CITY"),
        F.concat(F.lit("NATION_"), F.col("s_nationkey")).alias("S_NATION"),
        F.concat(F.lit("REGION_"), F.col("s_nationkey") % 5).alias("S_REGION"),
        F.concat(F.lit("SPH_"), F.col("s_suppkey") % 100).alias("S_PHONE"),
    ).createOrReplaceTempView("stg_supplier")
    p = load_table(spark, sf_dir, "part")
    p.select(
        F.col("p_partkey").alias("P_PARTKEY"),
        F.col("p_name").alias("P_NAME"),
        F.concat(F.lit("MFGR_"), F.col("p_partkey") % 5).alias("P_MFGR"),
        F.concat(F.lit("CAT_"), F.col("p_partkey") % 25).alias("P_CATEGORY"),
        F.col("p_brand").alias("P_BRAND"),
        F.concat(F.lit("COLOR_"), F.col("p_partkey") % 10).alias("P_COLOR"),
        F.col("p_type").alias("P_TYPE"),
        F.col("p_size").alias("P_SIZE"),
        F.concat(F.lit("CONT_"), F.col("p_partkey") % 7).alias("P_CONTAINER"),
    ).createOrReplaceTempView("stg_part")


def q_dbt_star_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's star.sql dbt model runs CHARACTER-FOR-CHARACTER:
    SSB-shaped staging views are derived from the fixtures, the jinja
    renderer resolves config()/ref(), and the verbatim 38-column star
    SELECT executes as-is (broadcast dimension joins — same plan as
    plans/star.py's DataFrame spelling).  The gate aggregates the
    result so the hash check covers join fan-out, every derived
    column family, and the region/nation grain."""
    _register_ssb_staging(spark, sf_dir)
    sql = render_dbt_model(
        REFERENCE_STAR_SQL,
        {
            "stg_lineorder": "stg_lineorder",
            "stg_customers": "stg_customers",
            "stg_supplier": "stg_supplier",
            "stg_part": "stg_part",
        },
    )
    spark.sql(sql).createOrReplaceTempView("star_verbatim")
    return spark.sql(
        """
        SELECT C_REGION, S_NATION,
               COUNT(*) AS n,
               CAST(SUM(CAST(LO_EXTENDEDPRICE AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_price,
               CAST(SUM(CAST(LO_SUPPLYCOST AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_supply,
               COUNT(DISTINCT P_BRAND) AS n_brands,
               COUNT(DISTINCT LO_SHIPMODE) AS n_modes,
               MIN(LO_ORDERDATE) AS first_date
        FROM star_verbatim
        GROUP BY C_REGION, S_NATION
        """
    )


O_DBT_STAR_VERBATIM = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_partkey, l.l_suppkey,
         l.l_extendedprice, l.l_quantity,
         l.l_returnflag || '_MODE' AS lo_shipmode,
         o.o_custkey, o.o_orderdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT 'REGION_' || (c.c_nationkey % 5) AS C_REGION,
       'NATION_' || s.s_nationkey AS S_NATION,
       COUNT(*) AS n,
       CAST(SUM(CAST(lo.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price,
       CAST(SUM(CAST(lo.l_quantity * 10.0 AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_supply,
       COUNT(DISTINCT p.p_brand) AS n_brands,
       COUNT(DISTINCT lo.lo_shipmode) AS n_modes,
       MIN(lo.o_orderdate) AS first_date
FROM lo
JOIN customer c ON c.c_custkey = lo.o_custkey
JOIN supplier s ON s.s_suppkey = lo.l_suppkey
JOIN part p ON p.p_partkey = lo.l_partkey
GROUP BY 1, 2
"""

QUERIES = {"dbt_star_verbatim": q_dbt_star_verbatim}
ORACLES = {"dbt_star_verbatim": O_DBT_STAR_VERBATIM}
