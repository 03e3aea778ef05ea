"""clickhouse_vs_dbt_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of ``baikulov/clickhouse_vs_dbt``.

The reference (see SURVEY.md) is a declarative ELT star-schema pipeline:
typed CSV ingestion from object storage, a dbt model DAG (staging views →
denormalized ``star`` table), and the SSB Q1 query flight with golden
answers (reference README.md:158-438).  This package re-expresses those
capabilities Spark-first — DataFrame/SQL plans optimized by Catalyst —
and extends them with the large-scale training-data operators the driver
mandates (dedup, similarity search, text analysis, multimodal plumbing,
event-time windows, streaming).

Layout:
    session.py    SparkSession factory tuned for local[N] and for scale
    catalog.py    fixture-table registry (typed parquet readers + views)
    compat.py     ClickHouse scalar names the transpiler inlines + pandas UDFs
    dialect.py    ClickHouse-SQL → Spark-SQL transpiler (see MIGRATION.md)
    ddl.py        ClickHouse DDL transpiler: CREATE TABLE (+ engine
                  metadata for FINAL reads) and CREATE MATERIALIZED
                  VIEW (incremental batch/streaming maintenance)
    sources/      external-table readers (parquet fixtures, SSB .tbl CSV,
                  object-store transport via mounted FS schemes)
    plans/        model DAG runner (dbt-analog; versions/mutations) + star
    operators/    query/operator library (SSB flight, dedup, ANN, text, events)
    functions/    reusable column-expression helpers (dates, text, vectors)
    streaming/    Structured Streaming variants of the event operators
"""

__version__ = "0.3.0"

from clickhouse_vs_dbt_spark.dialect import (  # noqa: E402,F401
    run_clickhouse_sql,
    transpile,
)
