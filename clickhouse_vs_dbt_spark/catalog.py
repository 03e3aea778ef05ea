"""Catalog: logical table name → typed reader → session views.

The reference's dbt ``sources:`` block maps logical names to physical
identifiers with docs/tags (reference README.md:269-292, operator S4 in
SURVEY.md §2.1); its staging layer registers pass-through views
(README.md:296-326, operator S3).  The Spark-native equivalent is the
session catalog: each fixture table gets a typed DataFrame reader and a
temp view, so both the DataFrame API and ``spark.sql`` resolve the same
relations.  Like the reference's source DDL (README.md:155-222), the
catalog declares each table's column types (:data:`FIXTURE_SCHEMAS`) and
reads with them, so loading a table plans a scan without running a
Spark job to infer its schema from parquet footers; ``events`` takes
one of two declared schemas, picked from its footer read on the driver
(:func:`events_ddl`).  A fixture too large for one scan task is split
in the driver, once per process, into a multi-part copy
(:func:`_rechunk`), again without a Spark job.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.session import scratch_dir

# Fixture tables (TESTDATA.md): one parquet file per table, read
# with its declared schema in Spark DDL.  The types are the ones Spark
# infers from the footers of every fixture generation (checked in
# tests/test_sources.py).  ``events`` declares no fixed one: its ``ts``
# column is micros TIMESTAMP_NTZ or int64 nanos depending on the
# generation, so :func:`events_ddl` fills ``ts`` in :data:`_EVENTS_DDL`
# from the footer.
FIXTURE_SCHEMAS: dict[str, str | None] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
            "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
              "o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
                "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "events": None,
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, "
                 "n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

_EVENTS_DDL = ("event_id BIGINT, ts {}, user_id BIGINT, event_type STRING, "
               "value DOUBLE, props STRING")

# Small dimension tables — always broadcast-join these against facts so
# the fact side never shuffles (SURVEY.md §4: at 100 TB the lineitem scan
# stays shuffle-free when every dim ships to the executors).
DIMENSION_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


# Fixture-layout normalization: the driver fixtures are single-file,
# SINGLE-ROW-GROUP parquet, which caps every scan at one task no matter
# how many cores the session has — a pure test-artifact bottleneck (any
# real table at any real scale has many row groups/files, and at 100 TB
# the scan parallelism comes for free).  Split large fixtures once per
# process into a multi-part copy so local plans exercise the same
# parallel scan shape a cluster would see.  The split runs in the
# driver with pyarrow, not as a Spark job: the copy has the source's
# rows in the source's order and its physical types.
_CHUNK_CACHE: dict[tuple[str, str], str] = {}
_CHUNK_MIN_BYTES = 1 << 20
# Rows per record batch the split streams; a file whose row range is
# longer gets one row group per batch.
_SPLIT_BATCH_ROWS = 1 << 18


def events_ddl(spark: SparkSession, path: str) -> str:
    """The declared schema of the ``events`` parquet at ``path`` (a file,
    or a directory whose first ``part-*`` file is read), its ``ts`` type
    picked from the footer, which pyarrow reads on the driver: no Spark
    job.  Micros ``ts`` is TIMESTAMP_NTZ.  Nanos ``ts`` is BIGINT,
    whether stored as a plain int64 or as a TIMESTAMP(NANOS) column
    (some fixture generations); the latter turns on
    ``spark.sql.legacy.parquet.nanosAsLong`` for the session, as
    Spark's reader rejects it without that setting, which every other
    file leaves alone."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        path = min(glob.glob(f"{path}/part-*"))
    typ = pq.read_schema(path).field("ts").type
    if typ == pa.timestamp("us"):
        return _EVENTS_DDL.format("TIMESTAMP_NTZ")
    if typ == pa.timestamp("ns"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _EVENTS_DDL.format("BIGINT")
    if typ == pa.int64():
        return _EVENTS_DDL.format("BIGINT")
    raise TypeError(f"{path}: events.ts is {typ}, not micros or nanos")


def normalize_ts(df: DataFrame) -> DataFrame:
    """``ts`` as a session-tz TIMESTAMP whatever the footer said: int64
    nanos are truncated to micros (DuckDB truncates identically,
    verified in tests/test_timeseries.py); a TIMESTAMP_NTZ is cast,
    the identity on the stored micros under the UTC session tz, so
    every downstream unix_micros/window/watermark op sees the same
    TimestampType either way."""
    if dict(df.dtypes)["ts"] == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes, parsed by the
    same JVM byte-string parser Spark's SQL conf uses, so every suffix
    Spark accepts (``512m``, ``128mb``, ``1g``, ``1p`` …) parses and an
    invalid value raises instead of falling back."""
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    jutils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    return jutils.byteStringAsBytes(raw)


def _split(src: str, dst: str, n: int) -> None:
    """Write the rows of the parquet file ``src`` to ``n`` files
    ``dst/part-0000i.parquet`` of consecutive row ranges, in order.
    Record batches stream from source to copy through a buffered reader,
    so the driver never holds the whole table, nor a whole row group of
    the source; the writer keeps the source's arrow schema, hence its
    physical types (``events.ts`` stays nanos where it was nanos).  A
    range of at most :data:`_SPLIT_BATCH_ROWS` rows is one row group."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(src, buffer_size=1 << 20) as source:
        per = max(1, -(-source.metadata.num_rows // n))
        batches = source.iter_batches(batch_size=min(per, _SPLIT_BATCH_ROWS))
        rest = None  # the unwritten tail of the current batch
        for i in range(n):
            with pq.ParquetWriter(f"{dst}/part-{i:05d}.parquet", source.schema_arrow) as out:
                need = per
                while need:
                    if rest is None or not rest.num_rows:
                        rest = next(batches, None)
                        if rest is None:
                            break
                    take = min(need, rest.num_rows)
                    out.write_batch(rest.slice(0, take))
                    rest, need = rest.slice(take), need - take


def _rechunk(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """Path of the multi-part copy of ``name`` (split on first use in
    the process), or None when the fixture file is used as it is.  The
    split is a driver-side row-range copy (:func:`_split`) and
    launches no Spark job.  A source whose column types drifted from
    the declared ones is copied as it is and fails loudly when
    :func:`load_table`'s declared-schema scan reads the copy."""
    import os

    src = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.getsize(src) < _CHUNK_MIN_BYTES:
            return None
    except OSError:
        return None
    key = (sf_dir, name)
    path = _CHUNK_CACHE.get(key)
    if path is None:
        n = spark.sparkContext.defaultParallelism
        # Splittability is governed by BYTE ranges, not row groups:
        # Spark carves a file into ceil(size / maxPartitionBytes)
        # splits (plus openCost padding), so a 108 MB ten-row-group
        # file still scans as ONE task under the 128 MB default —
        # the r17 sf1 scaling probe measured flat 8-vs-32-core
        # ratios for exactly this reason.  Split whenever the
        # file's natural split count leaves cores idle.
        if os.path.getsize(src) // _max_partition_bytes(spark) >= n:
            _CHUNK_CACHE[key] = ""  # already splits wide enough
            return None
        path = scratch_dir(f"fixture_chunks_{name}")
        _split(src, path, n)
        _CHUNK_CACHE[key] = path
    return path or None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """External-table semantics: lazy parquet scan, re-planned per query
    (the analog of the reference's S3-engine re-scan, README.md:158-222,
    but columnar so Catalyst pushes filters/projection into the scan).

    The scan reads with the table's declared schema
    (:data:`FIXTURE_SCHEMAS`; for ``events`` the one :func:`events_ddl`
    picks from the footer on the driver), from the fixture file or from
    its re-chunked copy alike, so Spark reads no footer to plan it and
    loading a table launches no Spark job, the re-chunk's driver-side
    split included.  A file whose column has another type than
    the declared one fails loudly on read
    (``FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH``), but a
    file that *lacks* a declared column reads it as NULL without
    complaint — the schema-drift test in tests/test_sources.py, which
    compares every declared schema with the inferred one in each
    fixture generation, is what guards against that.

    The *unexecuted* DataFrame is memoized per session: building it
    still costs analysis in JVM round trips, paid by every front-door
    call that touches a fixture table, while the logical plan itself
    is immutable — the scan still re-plans and re-reads per query
    exactly as before (VERDICT r9 item 1: this fixed per-call
    constant, not the query, drove the ``dialect_retention`` norm
    drift).  Views are NOT memoized — ``register_views`` re-runs the
    cheap ``createOrReplaceTempView`` every call, so a test that
    swapped in its own ``events`` view is always restored, never
    silently kept."""
    if name not in FIXTURE_SCHEMAS:
        raise KeyError(f"unknown fixture table {name!r}; known: {tuple(FIXTURE_SCHEMAS)}")
    cache: dict | None = getattr(spark, "_cvds_table_cache", None)
    if cache is None:  # not `or {}`: an attached-but-empty dict must
        cache = {}     # stay the live cache (code-review r10)
        spark._cvds_table_cache = cache
    key = (sf_dir, name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    path = _rechunk(spark, sf_dir, name) or f"{sf_dir}/{name}.parquet"
    if name == "events":
        df = normalize_ts(spark.read.schema(events_ddl(spark, path)).parquet(path))
    else:
        df = spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(path)
    cache[key] = df
    return df


def rebalanced(df: DataFrame, *cols: str) -> DataFrame:
    """AQE ``REBALANCE`` immediately before a materializing write
    (optimization guide §6: "coalesce on write … or a REBALANCE hint
    before the write").

    Without it, every write task emits one file per hive-partition
    value it holds: a 32-task scan writing a 3-partition table
    produces ~96 files and the commit/rename cost dominates (measured
    r16: a partitioned rewrite of an orders slice at sf0.1 costs
    3.9 s unbalanced vs 0.43 s rebalanced, 96 files vs 3).  REBALANCE
    is the scale-adaptive spelling: AQE sizes the shuffle output to
    ``advisoryPartitionSizeInBytes`` — one small file locally,
    right-sized ~100 MB+ files at cluster scale — and, unlike a bare
    ``repartition(cols)``, splits skewed partitions so one hot key
    cannot serialize the write.  Row content is untouched; only file
    layout changes, and every gated query is order-insensitive by
    construction (the oracle gate compares sorted rows)."""
    return df.hint("rebalance", *cols) if cols else df.hint("rebalance")


def register_views(spark: SparkSession, sf_dir: str, tables: Iterable[str] = FIXTURE_SCHEMAS) -> None:
    """Register every fixture table as a temp view (operator S4)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
