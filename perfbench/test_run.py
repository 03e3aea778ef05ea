"""Tests of the benchmark itself.

Run with ``python3 -m pytest perfbench -q``.  The smoke tests run one
round of each workload at sf0.001 in a subprocess, as the benchmark's
command does, and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# runs the benchmark with one op's expected result made wrong (no rows)
CORRUPTING = f"""
import sys
sys.path.insert(0, {HERE!r})
import run, workloads
op, expected = sys.argv[1], workloads.Workload.expected
def corrupt(self):
    out = expected(self)
    out[op] = f"SELECT * FROM ({{out[op]}}) LIMIT 0"
    return out
workloads.Workload.expected = corrupt
sys.exit(run.main(sys.argv[2:]))
"""


def bench(*args: str, corrupt: str | None = None) -> dict:
    cmd = ["-c", CORRUPTING, corrupt] if corrupt else [os.path.join(HERE, "run.py")]
    p = subprocess.run(
        [sys.executable, *cmd, "--seed", "1",
         "--seconds", "0", "--sf", "0.001", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def units(out: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    out = bench("--workload", workload, "--trace", "0")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert units(out) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    out = bench("--workload", workload, "--trace", "1")
    assert out["correct"]
    assert units(out) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = {k: v["value"] for k, v in out["metrics"].items()}
    assert got["exec.jobs"] > 0 and got["catalyst.analysis_s"] > 0
    if workload == "ssb_flight":
        assert got["models.star_s"] > 0 and got["models.files_written"] > 0
        assert got["dialect.transpile_calls"] == 0
    else:
        assert got["dialect.transpile_calls"] > 0 and got["models.star_s"] == 0


@pytest.mark.parametrize("op", ["ssb_q1_1", "orders_current"])
def test_wrong_expected_result_counts_as_a_failure(op):
    out = bench("--workload", "ssb_flight", corrupt=op)
    assert not out["correct"]
    assert out["failed"] == 1
    assert out["metrics"]["pass_ratio"]["value"] < 1.0


def test_benchmark_fails_without_the_package(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: no result, exit != 0."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".*", "__pycache__"))
    p = subprocess.run(
        [*SPEC["command"], "--workload", "ssb_flight", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_expected_incremental_state_matches_sequential_merges():
    """The closed-form twin equals folding each batch in by key."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders AS SELECT range AS o_orderkey, range % 7 AS o_custkey, "
        "'F' AS o_orderstatus, range * 1.25 AS o_totalprice, "
        "DATE '1996-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority "
        "FROM range(5000)"
    )
    con.execute("CREATE TABLE cur AS SELECT * FROM orders")
    for r in range(1, 6):
        con.execute(f"CREATE OR REPLACE TEMP VIEW batch AS {workloads.changes_sql(7, r, 'orders')}")
        con.execute(
            "CREATE OR REPLACE TABLE cur AS SELECT * FROM cur WHERE o_orderkey "
            "NOT IN (SELECT o_orderkey FROM batch) UNION ALL SELECT * FROM batch"
        )
        expected = workloads.expected_incremental_sql(7, r + 1)
        for a, b in (("SELECT * FROM cur", expected), (expected, "SELECT * FROM cur")):
            assert con.execute(f"{a} EXCEPT ALL ({b})").fetchall() == []
        assert con.execute("SELECT count(*) FROM batch").fetchone()[0] > 0


def test_self_time_subtracts_covered_child_time():
    tr = spans.Tracer()
    tr.add("op", 0.0, 10.0, None)
    tr.add("a", 1.0, 4.0, 0)
    tr.add("b", 3.0, 6.0, 0)  # overlaps a: covered once
    tr.add("c", 2.0, 3.0, 1)
    got = tr.self_times()
    assert got == {"op": 5.0, "a": 2.0, "b": 3.0, "c": 1.0}


def test_jvm_span_nests_under_the_innermost_covering_span():
    tr = spans.Tracer()
    tr.op = "r0:refresh"
    with tr.span("op") as root:
        with tr.span("models.star") as star:
            pass
    tr.add_within("exec", star.start, star.end, root.id)
    tr.add_within("exec", root.end + 1.0, root.end + 2.0, root.id)
    assert [s.parent for s in tr.spans[2:]] == [star.id, root.id]
