"""SSB .tbl CSV source (operators S1/T1; reference README.md:158-222)."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError as SparkException

from clickhouse_vs_dbt_spark.sources import SSB_SCHEMAS, read_ssb_csv

SUPPLIER_ROWS = [
    "1|Supplier#000000001|addr one|CITY0|NATION0|REGION0|555-0001|",
    "2|Supplier#000000002|addr two|CITY1|NATION1|REGION1|555-0002|",
]


def test_reads_trailing_pipe_tbl(spark, tmp_path):
    p = tmp_path / "supplier.tbl"
    p.write_text("\n".join(SUPPLIER_ROWS) + "\n")
    df = read_ssb_csv(spark, str(p), "supplier")
    assert df.columns == [f.name for f in SSB_SCHEMAS["supplier"].fields]
    rows = sorted(df.collect(), key=lambda r: r.S_SUPPKEY)
    assert rows[0].S_SUPPKEY == 1 and rows[0].S_NAME == "Supplier#000000001"
    assert len(rows) == 2


def test_lineorder_types(spark, tmp_path):
    p = tmp_path / "lineorder.tbl"
    p.write_text(
        "1|1|10|20|30|1993-01-04|1-URGENT|0|17|2116823|17366547|4|2032150|74711|2|1993-02-22|TRUCK|\n"
    )
    df = read_ssb_csv(spark, str(p), "lineorder")
    r = df.collect()[0]
    assert r.LO_ORDERDATE.isoformat() == "1993-01-04"
    assert r.LO_EXTENDEDPRICE == 2116823 and isinstance(r.LO_EXTENDEDPRICE, int)
    # UInt8 columns land in Short
    assert df.schema["LO_QUANTITY"].dataType.simpleString() == "smallint"
    # money columns are 64-bit so sum(price*discount) cannot overflow
    assert df.schema["LO_EXTENDEDPRICE"].dataType.simpleString() == "bigint"


def test_failfast_on_malformed(spark, tmp_path):
    p = tmp_path / "bad.tbl"
    p.write_text("notanint|Supplier#1|a|b|c|d|e|\n")
    with pytest.raises(SparkException):
        read_ssb_csv(spark, str(p), "supplier").collect()


def test_unknown_table(spark):
    with pytest.raises(KeyError):
        read_ssb_csv(spark, "/tmp/x", "nope")


def test_jsonl_roundtrip_preserves_rows_and_types(spark, sf_dir, tmp_path):
    from clickhouse_vs_dbt_spark.catalog import load_table
    from clickhouse_vs_dbt_spark.sources.jsonl import (
        DOCUMENTS_SCHEMA,
        read_jsonl,
        write_jsonl,
    )

    d = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(d, path)
    back = read_jsonl(spark, path, DOCUMENTS_SCHEMA)
    assert back.count() == d.count()
    assert [f.dataType for f in back.schema.fields] == [
        f.dataType for f in DOCUMENTS_SCHEMA.fields
    ]
    # content equality, order-insensitive
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, d.collect()))


def test_parquet_partitioned_prunes(spark, sf_dir):
    from clickhouse_vs_dbt_spark.sources import parquet_part

    df = parquet_part.pruned_read(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan
    langs = {r.lang for r in df.select("lang").distinct().collect()}
    assert langs <= set(parquet_part.PRUNE_LANGS)


def test_parquet_roundtrip_lossless(spark, sf_dir):
    from clickhouse_vs_dbt_spark.catalog import load_table
    from clickhouse_vs_dbt_spark.sources import parquet_part
    from pyspark.sql import functions as F

    back = parquet_part.pruned_read(spark, sf_dir)
    orig = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin(*parquet_part.PRUNE_LANGS)
    )
    assert back.count() == orig.count()
    assert sorted(back.columns) == sorted(orig.columns)


def test_orc_roundtrip_lossless(spark, sf_dir, tmp_path):
    from clickhouse_vs_dbt_spark.catalog import load_table
    from clickhouse_vs_dbt_spark.sources.orc_src import read_orc, write_orc

    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_orc")
    write_orc(e, path)
    back = read_orc(spark, path)
    assert back.schema == e.schema  # exact type preservation both ways
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, e.collect()))


def test_tbl_read_via_scheme_qualified_uri(spark, tmp_path):
    """Sources take Hadoop filesystem URIs, not bare paths — the
    object-store posture (s3a://...) with file:// standing in for the
    scheme (no object store in this sandbox; same URI plumbing)."""
    from clickhouse_vs_dbt_spark.sources.ssb_csv import read_ssb_csv

    p = tmp_path / "supplier.tbl"
    p.write_text(
        "1|Supplier#1|addr|CITY_0|NATION_0|REGION_0|555-1|\n"
        "2|Supplier#2|addr|CITY_1|NATION_1|REGION_1|555-2|\n"
    )
    out = read_ssb_csv(spark, f"file://{p}", "supplier").collect()
    assert [r.S_SUPPKEY for r in out] == [1, 2]
    assert out[0].S_NATION == "NATION_0"


def test_objectstore_scan_routes_through_viewfs(spark, sf_dir):
    """The read must actually plan against the mounted viewfs:// scheme
    (not silently resolve to file:), with the price predicate pushed
    into the parquet scan through the mounted FileSystem."""
    from clickhouse_vs_dbt_spark.sources.objectstore import (
        CUTOFF_PRICE,
        _mount_name,
        mount,
    )
    from pyspark.sql import functions as F

    name = _mount_name(sf_dir)
    mount(spark, name, "tables", sf_dir)
    df = spark.read.parquet(f"viewfs://{name}/tables/orders.parquet").filter(
        F.col("o_totalprice") > CUTOFF_PRICE
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"viewfs://{name}" in plan
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan
    assert df.count() > 0


def test_rechunk_splits_by_bytes_not_row_groups(spark, tmp_path):
    """r17: a large single FILE scans as ceil(size/maxPartitionBytes)
    tasks no matter how many row groups it has — the fixture
    normalizer must rewrite whenever the byte-range split count
    leaves cores idle, and skip only when the file already splits
    wide enough (the sf1 scaling-probe regression: a 108 MB
    ten-row-group lineitem scanned single-task)."""
    import pyspark.sql.functions as F

    from clickhouse_vs_dbt_spark import catalog as cat

    src_dir = str(tmp_path)
    # ~1.2 MB incompressible file so it passes _CHUNK_MIN_BYTES
    spark.range(40_000).select(
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("a"),
        F.sha2(F.col("id").cast("string"), 256).alias("b"),
    ).coalesce(1).write.mode("overwrite").parquet(src_dir + "/_tmp")
    import glob
    import os
    import shutil

    part = glob.glob(src_dir + "/_tmp/part-*.parquet")[0]
    shutil.move(part, src_dir + "/orders.parquet")
    assert os.path.getsize(src_dir + "/orders.parquet") > cat._CHUNK_MIN_BYTES

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # wide-enough case: tiny advisory split -> no rewrite
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        cat._CHUNK_CACHE.pop((src_dir, "orders"), None)
        assert cat._rechunk(spark, src_dir, "orders") is None
        # single-split case: default 128 MB -> rewrite to n chunks
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", "134217728"
        )
        cat._CHUNK_CACHE.pop((src_dir, "orders"), None)
        path = cat._rechunk(spark, src_dir, "orders")
        assert path is not None
        n = spark.sparkContext.defaultParallelism
        assert len(glob.glob(path + "/part-*.parquet")) == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        cat._CHUNK_CACHE.pop((src_dir, "orders"), None)


# --- declared fixture schemas (catalog.FIXTURE_SCHEMAS) ---


def _declared():
    from clickhouse_vs_dbt_spark.catalog import FIXTURE_SCHEMAS

    return {name: ddl for name, ddl in FIXTURE_SCHEMAS.items() if ddl}


def _generate_bench_inputs(out_dir: str, sf: float) -> None:
    """Write the benchmark's inputs with ``perfbench/gen.py``."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "perfbench" / "gen.py"
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.generate(out_dir, sf)


def _job_ids(spark, group: str, fn):
    """``fn()``'s result and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _fresh_dir(tmp_path, sf_dir: str) -> str:
    """A path the catalog has never loaded from, onto ``sf_dir``."""
    fresh = tmp_path / "in"
    fresh.symlink_to(sf_dir)
    return str(fresh)


def test_declared_schemas_equal_inferred_in_every_generation(spark, sf_dir, tmp_path):
    """Every declared schema equals the one Spark infers from the
    footer (names, types, order, nullability) in each fixture scale, in
    the benchmark generator's output and in a nanos ``events`` file;
    for ``events`` it is the schema :func:`catalog.events_ddl` picks.
    Reading with the declared schema would turn a column missing from
    a file into NULLs, so drift must fail here."""
    import glob
    import os

    from pyspark.sql.types import StructType

    from clickhouse_vs_dbt_spark.catalog import events_ddl

    gen_dir = str(tmp_path / "gen")
    _generate_bench_inputs(gen_dir, 0.001)
    nanos_dir = str(tmp_path / "nanos")
    os.mkdir(nanos_dir)
    _orders_and_events(nanos_dir, rows=100)
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    declared = _declared()
    checked: dict[str, list[str]] = {}
    for d in [*dirs, gen_dir, nanos_dir]:
        for name, ddl in declared.items():
            f = f"{d}/{name}.parquet"
            if os.path.exists(f):
                assert spark.read.parquet(f).schema == StructType.fromDDL(ddl), f
                checked.setdefault(name, []).append(d)
        f = f"{d}/events.parquet"
        ddl = events_ddl(spark, f)  # turns nanosAsLong on for a nanos ts
        assert spark.read.parquet(f).schema == StructType.fromDDL(ddl), f
    assert set(checked) == set(declared)
    assert len(checked["orders"]) == len(dirs) + 2


def test_load_table_launches_no_schema_job(spark, sf_dir, tmp_path):
    """From a fresh path, every fixture table loads without a Spark
    job, ``events`` included: its footer is read on the driver."""
    from clickhouse_vs_dbt_spark.catalog import FIXTURE_SCHEMAS, load_table

    fresh = _fresh_dir(tmp_path, sf_dir)
    jobs = {
        name: len(_job_ids(spark, f"load-{fresh}-{name}",
                           lambda name=name: load_table(spark, fresh, name))[1])
        for name in FIXTURE_SCHEMAS
    }
    assert jobs == dict.fromkeys(FIXTURE_SCHEMAS, 0)


def test_nanos_events_load_without_a_job(spark, tmp_path):
    """A nanos ``events.ts`` loads with no Spark job, to the rows and
    schema of Spark's own footer-inferred read with nanos surfaced as
    int64 and truncated to micros."""
    from pyspark.sql import functions as F

    from clickhouse_vs_dbt_spark.catalog import load_table

    _orders_and_events(tmp_path, rows=1_000)
    d = str(tmp_path)
    df, jobs = _job_ids(spark, f"nanos-{d}", lambda: load_table(spark, d, "events"))
    assert jobs == []
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    old = spark.read.parquet(f"{d}/events.parquet")
    assert dict(old.dtypes)["ts"] == "bigint"
    old = old.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    assert df.schema == old.schema
    assert df.exceptAll(old).count() == 0 and old.exceptAll(df).count() == 0
    assert df.count() == 1_000 and df.filter(df.ts.isNull()).count() > 0


def test_rechunked_table_launches_only_its_rewrite(spark, sf_dir, tmp_path, monkeypatch):
    """A re-chunked table's rewrite is the driver-side split, so loading
    it launches no Spark job at all: none for the split, no schema job
    for the source, none for the re-read of the copy, and the copy
    reads with the declared schema."""
    import shutil

    from pyspark.sql.types import StructType

    from clickhouse_vs_dbt_spark import catalog as cat

    monkeypatch.setattr(cat, "_CHUNK_MIN_BYTES", 0)
    fresh = _fresh_dir(tmp_path, sf_dir)
    try:
        df, loaded = _job_ids(spark, f"rechunk-{fresh}",
                              lambda: cat.load_table(spark, fresh, "orders"))
    finally:
        copy = cat._CHUNK_CACHE.pop((fresh, "orders"), None)
    assert copy and all(f.startswith(f"file://{copy}/") for f in df.inputFiles())
    assert loaded == []
    assert df.schema == StructType.fromDDL(cat.FIXTURE_SCHEMAS["orders"])
    assert df.count() == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    shutil.rmtree(copy)


def _orders_and_events(d, rows: int = 10_000) -> None:
    """``orders`` and ``events`` parquet files in ``d``, one row group
    each, with NULLs in every column, a TIMESTAMP_NTZ ``o_orderdate``
    and nanos ``events.ts``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def col(values, typ):
        return pa.array([None if i % 7 == 3 else v for i, v in enumerate(values)], typ)

    ks = range(rows)
    tables = {
        "orders": pa.table({
            "o_orderkey": col(ks, pa.int64()),
            "o_custkey": col((k * 31 % 997 for k in ks), pa.int64()),
            "o_orderstatus": col(("OFP"[k % 3] for k in ks), pa.string()),
            "o_totalprice": col((k * 1.25 for k in ks), pa.float64()),
            "o_orderdate": col((k * 86_400_000_123 for k in ks), pa.timestamp("us")),
            "o_orderpriority": col((f"{k % 5}-P" for k in ks), pa.string()),
        }),
        "events": pa.table({
            "event_id": col(ks, pa.int64()),
            "ts": col((k * 1_000_000_007 for k in ks), pa.timestamp("ns")),
            "user_id": col((k % 101 for k in ks), pa.int64()),
            "event_type": col((("click", "view", "buy")[k % 3] for k in ks), pa.string()),
            "value": col((k / 8 for k in ks), pa.float64()),
            "props": col((f'{{"k": {k}}}' for k in ks), pa.string()),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, f"{d}/{name}.parquet", row_group_size=rows)


def test_rechunked_copy_equals_its_source(spark, tmp_path, monkeypatch):
    """The copy holds the source's rows (multiset-equal both ways, NULLs
    included), in the source's order and with its arrow schema (nanos
    ``events.ts`` included), in n files that scan as n partitions; the
    copy's inferred schema is the declared one.  A batch size that does
    not divide a file's row range exercises the re-slicing."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from clickhouse_vs_dbt_spark import catalog as cat

    src = str(tmp_path / "src")
    (tmp_path / "src").mkdir()
    _orders_and_events(src)
    plain = _fresh_dir(tmp_path, src)
    monkeypatch.setattr(cat, "_SPLIT_BATCH_ROWS", 1_000)
    monkeypatch.setattr(cat, "_CHUNK_MIN_BYTES", 0)
    n = spark.sparkContext.defaultParallelism
    for name in ("orders", "events"):
        try:
            df = cat.load_table(spark, src, name)
        finally:
            copy = cat._CHUNK_CACHE.pop((src, name), None)
        files = sorted(glob.glob(f"{copy}/part-*.parquet"))
        assert len(files) == n
        assert df.rdd.getNumPartitions() == n
        want = pq.read_table(f"{src}/{name}.parquet")
        got = pa.concat_tables(pq.read_table(f) for f in files)
        assert got.schema.equals(want.schema, check_metadata=True)
        assert got.equals(want)
        ddl = cat.FIXTURE_SCHEMAS[name] or cat.events_ddl(spark, copy)
        assert spark.read.parquet(copy).schema == StructType.fromDDL(ddl)
        with monkeypatch.context() as m:
            m.setattr(cat, "_CHUNK_MIN_BYTES", 1 << 62)
            base = cat.load_table(spark, plain, name)
        assert base.inputFiles() == [f"file://{plain}/{name}.parquet"]
        assert df.schema == base.schema
        assert df.exceptAll(base).count() == 0 and base.exceptAll(df).count() == 0
        assert df.count() == base.count() == want.num_rows
        assert df.filter(df[df.columns[1]].isNull()).count() > 0


def test_rechunk_split_streams_batches(tmp_path, monkeypatch):
    """The split never reads the whole source: with every whole-file
    and whole-row-group read refused, it still copies every row."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_vs_dbt_spark import catalog as cat

    _orders_and_events(tmp_path)
    src = str(tmp_path / "orders.parquet")
    want = pq.read_table(src)

    def refuse(*args, **kwargs):
        raise AssertionError("the split read a whole table or row group")

    for attr in ("read", "read_row_group", "read_row_groups"):
        monkeypatch.setattr(pq.ParquetFile, attr, refuse)
    monkeypatch.setattr(pq, "read_table", refuse)
    monkeypatch.setattr(cat, "_SPLIT_BATCH_ROWS", 512)
    out = tmp_path / "copy"
    out.mkdir()
    cat._split(src, str(out), 3)
    monkeypatch.undo()
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 3
    assert pa.concat_tables(pq.read_table(f) for f in files).equals(want)
    # a 3334-row range in 512-row batches: seven row groups per file
    assert pq.ParquetFile(files[0]).metadata.num_row_groups == 7


@pytest.mark.parametrize("raw, want", [
    ("134217728", 134217728),
    ("512m", 512 << 20),
    ("128mb", 128 << 20),
    ("1g", 1 << 30),
    ("1p", 1 << 50),
])
def test_max_partition_bytes_takes_spark_byte_strings(spark, raw, want):
    from clickhouse_vs_dbt_spark import catalog as cat

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", raw)
        assert cat._max_partition_bytes(spark) == want
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def _drifted_orders(d) -> None:
    """An ``orders`` file in ``d`` whose ``o_orderkey`` is a string."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 3
    table = pa.table({
        "o_orderkey": pa.array([str(k) for k in range(n)]),
        "o_custkey": pa.array(range(n), pa.int64()),
        "o_orderstatus": pa.array(["O"] * n),
        "o_totalprice": pa.array([1.5] * n),
        "o_orderdate": pa.array([0] * n, pa.timestamp("us")),
        "o_orderpriority": pa.array(["1-URGENT"] * n),
    })
    pq.write_table(table, f"{d}/orders.parquet")


def test_declared_type_mismatch_fails_loudly(spark, tmp_path):
    """A fixture file whose column type differs from the declared one
    fails the read; it returns no rows, not converted or NULL values."""
    from clickhouse_vs_dbt_spark.catalog import load_table

    _drifted_orders(tmp_path)
    rows = None
    with pytest.raises(SparkException,
                       match="FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        rows = load_table(spark, str(tmp_path), "orders").collect()
    assert rows is None


def test_declared_type_mismatch_fails_loudly_in_the_copy(spark, tmp_path, monkeypatch):
    """The re-chunk copies a drifted source as it is; the declared-schema
    scan of the copy then fails as a scan of the source would."""
    from clickhouse_vs_dbt_spark import catalog as cat

    monkeypatch.setattr(cat, "_CHUNK_MIN_BYTES", 0)
    _drifted_orders(tmp_path)
    try:
        df = cat.load_table(spark, str(tmp_path), "orders")
    finally:
        copy = cat._CHUNK_CACHE.pop((str(tmp_path), "orders"), None)
    assert copy and all(f.startswith(f"file://{copy}/") for f in df.inputFiles())
    with pytest.raises(SparkException,
                       match="FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        df.collect()
