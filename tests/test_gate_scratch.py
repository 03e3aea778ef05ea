"""Scratch files have one owner, ``session.scratch_dir``: every gate or
operator that stages files for itself puts them under one per-process
root, ``$TMPDIR/cvds_scratch_*``, so running it leaves no other entry in
the temp dir, and the root is removed when the interpreter exits.  A
source scan keeps any new ``tempfile.mkdtemp`` or ``gettempdir`` site
out of the package."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

import __spark_entry__
from clickhouse_vs_dbt_spark import catalog
from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.plans.models import Materialization, ModelRunner
from clickhouse_vs_dbt_spark.session import scratch_dir

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "clickhouse_vs_dbt_spark"


def _models(spark, sf_dir):
    """A TABLE model in a runner without a ``warehouse_dir``."""
    runner = ModelRunner(spark)

    @runner.model("scratch_orders", materialization=Materialization.TABLE)
    def scratch_orders(s):
        return load_table(s, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    return runner.run()["scratch_orders"]


def _rechunk(spark, sf_dir):
    """The catalog's re-chunked copy of orders (the fixture is below
    the size at which it re-chunks, hence the patched threshold)."""
    return spark.read.parquet(catalog._rechunk(spark, sf_dir, "orders"))


# one gate or operator per owner family: dialect, ddl, plans/models,
# operators, streaming, sources and catalog
_CASES = {
    "dialect_file_read": None,
    "ch_script_lifecycle": None,
    "ch_script_schema_evolution": None,
    "ddl_mv_uniq": None,
    "ddl_final_read": None,
    "models_table": _models,
    "star_build": None,
    "events_rank_corr": None,
    "events_stream_dedup": None,
    "csv_source_roundtrip": None,
    "catalog_rechunk": _rechunk,
}


def _temp_entries() -> set[str]:
    return set(os.listdir(tempfile.gettempdir()))


@pytest.fixture(scope="module")
def warm_jvm(spark):
    """The JVM's one-off temp-dir entries (its native compression
    libraries, the session's artifact directory) are made before any
    case takes its snapshot: a shuffle, a Python UDF and a parquet
    round trip in the session's codec (ZSTD) and in Snappy, the codec
    of the fixtures and the catalog's re-chunked copies."""
    from pyspark.sql import functions as F

    path = scratch_dir("warm_jvm")
    df = spark.range(8).repartition(2).select(
        F.udf(lambda x: x, "long")("id").alias("id")
    )
    df.write.parquet(path + "/zstd")
    df.write.option("compression", "snappy").parquet(path + "/snappy")
    for codec in ("zstd", "snappy"):
        assert spark.read.parquet(f"{path}/{codec}").count() == 8


@pytest.fixture
def fresh_sf_dir(sf_dir, tmp_path):
    """The fixtures under a new path, so the process-level memos keyed
    by the fixture directory (star, rank-corr base, re-chunked tables)
    write their scratch on this test's first run."""
    d = tmp_path / "sf"
    d.mkdir()
    for f in os.listdir(sf_dir):
        os.symlink(os.path.join(sf_dir, f), d / f)
    return str(d)


@pytest.mark.parametrize("gate", list(_CASES))
def test_gate_leaves_no_temp_dirs_and_reruns_unchanged(
    spark, warm_jvm, fresh_sf_dir, monkeypatch, gate
):
    monkeypatch.setattr(catalog, "_CHUNK_MIN_BYTES", 0)
    run = _CASES[gate] or __spark_entry__.queries()[gate]
    before = _temp_entries()
    runs = [
        sorted(repr(r) for r in run(spark, fresh_sf_dir).collect())
        for _ in range(2)
    ]
    new = _temp_entries() - before
    assert len(new) <= 1 and all(e.startswith("cvds_scratch_") for e in new), new
    assert runs[0] and runs[0] == runs[1]


def test_scratch_root_is_removed_at_exit():
    code = (
        "from clickhouse_vs_dbt_spark.session import scratch_dir\n"
        "a, b = scratch_dir('t'), scratch_dir('t')\n"
        "assert a != b and not os.listdir(a)\n"
        "open(os.path.join(b, 'f'), 'w').write('x')\n"
        "print(os.path.dirname(a))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", "import os\n" + code],
        cwd=ROOT, capture_output=True, text=True, timeout=120, check=True,
    )
    root = out.stdout.strip()
    assert os.path.basename(root).startswith("cvds_scratch_")
    assert not os.path.exists(root)


def _calls(tree: ast.AST, name: str):
    """Calls of ``tempfile.<name>`` or of a bare imported ``<name>``."""
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and name in (getattr(n.func, "attr", None), getattr(n.func, "id", None))
    ]


def test_scratch_dir_is_the_only_temp_dir_site():
    mkdtemp, gettempdir = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        funcs = [f for f in ast.walk(tree) if isinstance(f, ast.FunctionDef)]
        for call in _calls(tree, "mkdtemp"):
            owner = next(
                f.name for f in funcs
                if f.lineno <= call.lineno <= f.end_lineno
            )
            mkdtemp.append((path.relative_to(PACKAGE).as_posix(), owner))
        gettempdir += [(path, c.lineno) for c in _calls(tree, "gettempdir")]
    assert mkdtemp == [("session.py", "scratch_dir")]
    assert gettempdir == []
