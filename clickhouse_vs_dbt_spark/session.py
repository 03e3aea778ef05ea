"""SparkSession factory.

The reference provisions a managed ClickHouse cluster (reference
README.md:5-17); the Spark-native analog is a SparkSession.  Defaults are
tuned for the driver's local[N] harness but every knob is the one you
would also set on a 1000-executor cluster:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — the direct analog of ClickHouse's adaptive pipeline.
* ``spark.sql.shuffle.partitions`` sized to the LOCAL BENCH DATA, not to
  cores: measured r10, local-mode task dispatch is ~serialized, so a
  32-reduce-partition shuffle of kilobytes costs ~0.4 s wall while the
  same shuffle at 8 partitions costs ~0.17 s — and AQE coalescing does
  not remove the cost because map tasks still write (and reducers still
  fetch) per-initial-partition buckets.  Measured across the 10 slowest
  headline queries at sf0.1: 8 initial partitions is 16% faster overall
  with zero regressions (pagerank −55%, retention −49%).  At 100 TB you
  invert this: set a high initial number (or
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) and
  let AQE coalesce down — the env override below is that knob.
* ``coalescePartitions.parallelismFirst`` stays at Spark's default
  (true): the tuning-guide production setting (false) coalesces by
  BYTES, which serialized compute-heavy per-group folds into one task
  — measured r10, ``dialect_interval_sweeps`` (3 groups × ~50k-struct
  sweep folds behind a kilobyte-scale shuffle) ran 3.1 s under
  parallelism-first=false vs 1.2 s at the default.
* UTC session timezone so date/time semantics are engine-independent
  (and match the DuckDB correctness oracle).
* Arrow enabled for the Pandas-UDF slow path.
* ZSTD for every parquet file Spark writes (dbt TABLEs, the memoized
  star, incremental versions, DDL tables, streaming sinks) instead of
  Spark's default Snappy.  Measured at sf0.02 (the ``perfbench``
  ``ssb_flight`` inputs, local[2] on a 4-vCPU host): ZSTD alone takes
  the dbt ``star`` TABLE from 44.17 to 39.46 B/row, and together with
  the star's declared sort order (``plans/star.py``) to 32.39 B/row.
  Writing and fully scanning the star took the same time with either
  codec (0.28-0.30 s per write, 0.05-0.06 s per scan).  pyarrow,
  DuckDB and ClickHouse read these files; the catalog's pyarrow
  re-chunk copies stay Snappy.

Scratch files: every file the package stages for itself goes into a
directory from :func:`scratch_dir`, under one root per process,
``$TMPDIR/cvds_scratch_*``.  The root is removed at normal interpreter
exit, not when a session stops, because process-level memos (the star,
the re-chunked fixtures, the rank-corr base, the IVF index) hand its
paths to later sessions.  SIGKILL or a timeout leaves it behind.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_SCRATCH_ROOT: str | None = None
_SCRATCH_SEQ = itertools.count()


def scratch_dir(owner: str) -> str:
    """A new, empty directory ``<root>/<owner>_<n>`` for ``owner``'s
    scratch files, under this process's scratch root (module doc,
    "Scratch files").  The root is private to the process, so a
    counter names its entries uniquely; callers never remove them."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        root = tempfile.mkdtemp(prefix="cvds_scratch_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT = root
    path = os.path.join(_SCRATCH_ROOT, f"{owner}_{next(_SCRATCH_SEQ)}")
    os.mkdir(path)
    return path


def get_spark(
    app_name: str = "clickhouse_vs_dbt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster you pass the cluster master / rely on spark-submit.
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env and env.isdigit():
            shuffle_partitions = int(env)
        else:
            # data-scale default for the local harness (module doc):
            # 8, capped at the core count on smaller machines
            cores = int(cpus) if str(cpus).isdigit() else 32
            shuffle_partitions = max(min(cores, 8), 1)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # saveAsTable targets (bucketed models) land here, not in cwd
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
