"""The strongest "same query capabilities" claim: the reference's own
Q1.x SQL strings, CHARACTER-FOR-CHARACTER as published (reference
README.md:415-417, 424-426, 433-436), run unmodified through the
ClickHouse-dialect front door (``dialect.transpile``, which inlines
each compat name as its built-in body) and return exactly what the
natively-spelled Spark SQL returns.

"Modulo table name" adaptation happens entirely in ONE view, never in
the query text: ``star`` here exposes the reference's SSB column
conventions over the fixture star —

* ``LO_EXTENDEDPRICE`` / ``LO_DISCOUNT`` as integer cents / integer
  percent (SSB's integer convention — the reference's golden answer
  446031203850 is an exact integer for this reason; integer sums also
  make the equality assertion order-independent),
* ``LO_ORDERDATE`` shifted back 36 months (the fixture generator's
  date range starts at 1995; the reference's literals name 1993/1994,
  so without a shift every verbatim predicate would match zero rows
  and the test would be vacuous; -36 keeps all three queries
  non-empty at sf0.001, -24 left Q1.3's ISO-week-6 band empty).

Each dialect result must equal its native twin AND be non-NULL (at
least one row matched — the queries really exercised the predicates).
"""

from __future__ import annotations

import pytest

from clickhouse_vs_dbt_spark.dialect import transpile
from clickhouse_vs_dbt_spark.operators.common import star

# --- verbatim strings from reference README.md (table name `star` and
# --- trailing `;` stripped — spark.sql takes one statement) ---

Q1_1_VERBATIM = """SELECT sum(LO_EXTENDEDPRICE * LO_DISCOUNT) AS revenue
FROM star
WHERE toYear(LO_ORDERDATE) = 1993 AND LO_DISCOUNT BETWEEN 1 AND 3 AND LO_QUANTITY < 25"""

Q1_2_VERBATIM = """SELECT sum(LO_EXTENDEDPRICE * LO_DISCOUNT) AS revenue
FROM star
WHERE toYYYYMM(LO_ORDERDATE) = 199401 AND LO_DISCOUNT BETWEEN 4 AND 6 AND LO_QUANTITY BETWEEN 26 AND 35"""

Q1_3_VERBATIM = """SELECT sum(LO_EXTENDEDPRICE * LO_DISCOUNT) AS revenue
FROM star
WHERE toISOWeek(LO_ORDERDATE) = 6 AND toYear(LO_ORDERDATE) = 1994
  AND LO_DISCOUNT BETWEEN 5 AND 7 AND LO_QUANTITY BETWEEN 26 AND 35"""

# --- the same queries spelled in native Spark SQL ---

_NATIVE = {
    Q1_1_VERBATIM: """SELECT sum(LO_EXTENDEDPRICE * LO_DISCOUNT) AS revenue
FROM star
WHERE year(LO_ORDERDATE) = 1993 AND LO_DISCOUNT BETWEEN 1 AND 3 AND LO_QUANTITY < 25""",
    Q1_2_VERBATIM: """SELECT sum(LO_EXTENDEDPRICE * LO_DISCOUNT) AS revenue
FROM star
WHERE year(LO_ORDERDATE) * 100 + month(LO_ORDERDATE) = 199401
  AND LO_DISCOUNT BETWEEN 4 AND 6 AND LO_QUANTITY BETWEEN 26 AND 35""",
    Q1_3_VERBATIM: """SELECT sum(LO_EXTENDEDPRICE * LO_DISCOUNT) AS revenue
FROM star
WHERE weekofyear(LO_ORDERDATE) = 6 AND year(LO_ORDERDATE) = 1994
  AND LO_DISCOUNT BETWEEN 5 AND 7 AND LO_QUANTITY BETWEEN 26 AND 35""",
}


@pytest.fixture(scope="module")
def ssb_star(spark, sf_dir):
    star(spark, sf_dir).createOrReplaceTempView("_star_fixture")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW star AS
           SELECT add_months(CAST(o_orderdate AS DATE), -36) AS LO_ORDERDATE,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS LO_EXTENDEDPRICE,
                  CAST(round(l_discount * 100) AS INT) AS LO_DISCOUNT,
                  CAST(l_quantity AS INT) AS LO_QUANTITY
           FROM _star_fixture"""
    )
    yield
    spark.catalog.dropTempView("star")


@pytest.mark.parametrize(
    "verbatim",
    [Q1_1_VERBATIM, Q1_2_VERBATIM, Q1_3_VERBATIM],
    ids=["q1_1", "q1_2", "q1_3"],
)
def test_reference_sql_verbatim_equals_native(spark, ssb_star, verbatim):
    got = spark.sql(transpile(verbatim)).collect()[0]["revenue"]
    want = spark.sql(_NATIVE[verbatim]).collect()[0]["revenue"]
    assert got is not None, "verbatim predicates matched zero rows — vacuous"
    assert got == want


@pytest.mark.parametrize(
    "verbatim",
    [Q1_1_VERBATIM, Q1_2_VERBATIM, Q1_3_VERBATIM],
    ids=["q1_1", "q1_2", "q1_3"],
)
def test_reference_sql_with_clickhouse_tails(spark, ssb_star, verbatim):
    """The same verbatim queries with the clause tails a real ClickHouse
    session appends — SETTINGS and FORMAT — run through the transpiler
    front door and return the identical answer (transpile strips the
    engine-specific tails and inlines the scalar names)."""
    tailed = verbatim + "\nSETTINGS max_threads = 8 FORMAT TabSeparated"
    got = spark.sql(transpile(tailed)).collect()[0]["revenue"]
    want = spark.sql(_NATIVE[verbatim]).collect()[0]["revenue"]
    assert got == want and got is not None
