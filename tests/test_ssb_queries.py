"""SSB flight semantics (reference README.md:411-438) on sf0.001,
cross-checked against DuckDB in-process (the driver does the same at
sf0.01 — tests here catch drift earlier and on edge params)."""

from __future__ import annotations

import uuid

import duckdb
import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


QUERY_KEYS = [
    "ssb_q1_1",
    "ssb_q1_2",
    "ssb_q1_3",
    "ssb_q2_brand_revenue",
    "ssb_q2_2",
    "ssb_q2_3",
    "ssb_q3_2",
    "ssb_q3_3",
    "ssb_q3_4",
    "ssb_q4_profit",
    "ssb_q4_2",
    "ssb_q4_3",
]


@pytest.mark.parametrize("name", QUERY_KEYS)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    got = sorted(tuple(r) for r in qs[name](spark, sf_dir).collect())
    want = sorted(tuple(r) for r in duck.execute(oracles[name]).fetchall())
    assert got == want


def test_q1_aggregate_is_single_row(spark, sf_dir):
    df = entrymod.queries()["ssb_q1_1"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 1 and df.columns == ["revenue"]


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    assert df.schema.simpleString() == "struct<revenue:double>"
    assert len(df.collect()) == 1


def test_every_query_has_callable(spark):
    qs = entrymod.queries()
    assert qs, "queries() must not be empty"
    for name, fn in qs.items():
        assert callable(fn), name


def test_registries_share_names_and_reject_duplicates(monkeypatch):
    # the same names; three operator modules list their oracles in
    # another order than their queries
    assert entrymod.queries().keys() == entrymod.oracle_sql().keys()

    class A:
        QUERIES = {"q": None}
        ORACLES = {"q": "SELECT 1"}

    class B:
        QUERIES = {"r": None}
        ORACLES = {"q": "SELECT 2"}

    monkeypatch.setattr(entrymod, "_MODULES", [A, B])
    with pytest.raises(ValueError, match="duplicate ORACLES names"):
        entrymod.oracle_sql()


def test_second_star_call_launches_no_job(spark, sf_dir):
    """common.star memoizes its unexecuted scan per session: a second
    call neither re-lists the year directories nor re-reads a footer
    schema, and the scan it returns still runs its own jobs."""
    from clickhouse_vs_dbt_spark.operators.common import star

    sc = spark.sparkContext

    def jobs(action) -> list[int]:
        group = f"star-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    star(spark, sf_dir)
    assert jobs(lambda: star(spark, sf_dir)) == []
    assert jobs(lambda: star(spark, sf_dir).filter("order_year = 1995").count())
