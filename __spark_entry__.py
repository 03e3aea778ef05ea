"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``clickhouse_vs_dbt_spark/``; this module only
aggregates the per-operator QUERIES/ORACLES registries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from clickhouse_vs_dbt_spark import compat, ddl, dialect
from clickhouse_vs_dbt_spark.operators import (
    aggfns,
    zorder,
    bloomjoin,
    boilerplate,
    chfuncs,
    components,
    corpus,
    curation,
    dedup,
    funcsuite,
    fuzzy,
    geo,
    hll,
    ipfns,
    jsonfns,
    maps,
    mergetree,
    mlinfer,
    incremental,
    kmeans,
    multimodal,
    pagerank,
    pipeline,
    relational,
    similarity,
    skew,
    sqlbreadth,
    stats,
    quality,
    sampling,
    scalarbreadth,
    ssb_queries,
    text,
    timeseries,
    tpch,
    tpch_ps,
    windowfns,
)
from clickhouse_vs_dbt_spark.plans import bucketing, models as plan_models, snapshots
from clickhouse_vs_dbt_spark.sources import (
    binfile,
    evolution,
    jsonl,
    objectstore,
    orc_src,
    parquet_part,
    ssb_csv,
)
from clickhouse_vs_dbt_spark.streaming import (
    events_stream,
    kafka_source,
    stateful_sessions,
    stream_dedup,
    stream_enrich,
    stream_join,
    stream_late,
    stream_mv,
    stream_retract,
    stream_upsert,
)

_MODULES = [
    ssb_queries,
    compat,
    dialect,
    ddl,
    bloomjoin,
    chfuncs,
    aggfns,
    zorder,
    windowfns,
    boilerplate,
    sqlbreadth,
    stats,
    relational,
    tpch,
    tpch_ps,
    funcsuite,
    scalarbreadth,
    maps,
    fuzzy,
    geo,
    ipfns,
    jsonfns,
    hll,
    dedup,
    components,
    curation,
    similarity,
    kmeans,
    mergetree,
    mlinfer,
    text,
    corpus,
    timeseries,
    multimodal,
    pagerank,
    pipeline,
    incremental,
    quality,
    snapshots,
    bucketing,
    plan_models,
    sampling,
    skew,
    ssb_csv,
    jsonl,
    objectstore,
    orc_src,
    parquet_part,
    evolution,
    binfile,
    events_stream,
    kafka_source,
    stateful_sessions,
    stream_join,
    stream_dedup,
    stream_enrich,
    stream_late,
    stream_mv,
    stream_retract,
    stream_upsert,
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: SSB Q1.1 semantics over
    the star join (reference README.md:415-417)."""
    return ssb_queries.q1_1(spark, "/root/testdata/sf0.001")


def _merged(registry: str) -> dict:
    """Every module's ``registry`` dict in ``_MODULES`` order; a name
    two modules both define raises ValueError."""
    out: dict = {}
    for mod in _MODULES:
        part = getattr(mod, registry)
        overlap = out.keys() & part.keys()
        if overlap:
            raise ValueError(f"duplicate {registry} names: {sorted(overlap)}")
        out.update(part)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _merged("QUERIES")


def oracle_sql() -> dict[str, str]:
    return _merged("ORACLES")
