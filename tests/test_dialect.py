"""Tests for the ClickHouse-SQL → Spark-SQL transpiler (dialect.py).

Two layers: pure-string rewrite checks (no Spark), and Spark-vs-Spark
equivalence — a transpiled ClickHouse query must return exactly what the
hand-written native Spark SQL returns, covering mappings the DuckDB gate
can't (approx aggregates whose registers differ across engines).
"""

from __future__ import annotations

from pathlib import Path

import pytest

from clickhouse_vs_dbt_spark.catalog import register_views
from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat
from clickhouse_vs_dbt_spark.dialect import (
    DialectError,
    run_clickhouse_sql,
    transpile,
)

# --- pure string rewrites ---

REWRITES = [
    ("sumIf(x, y > 1)", "sum(CASE WHEN y > 1 THEN x END)"),
    ("countIf(a = 'x(,)')", "count_if(a = 'x(,)')"),
    ("countIf(x, a > 2)", "count(CASE WHEN a > 2 THEN x END)"),
    ("avgIf(v, k % 2 = 0)", "avg(CASE WHEN k % 2 = 0 THEN v END)"),
    ("quantile(0.5)(x)", "percentile_approx(x, 0.5)"),
    ("quantileExact(0.9)(x)", "percentile(x, 0.9)"),
    ("quantiles(0.25, 0.75)(p)", "percentile_approx(p, array(0.25, 0.75))"),
    (
        "multiIf(a<1,'lo',a<2,'mid','hi')",
        "CASE WHEN a<1 THEN 'lo' WHEN a<2 THEN 'mid' ELSE 'hi' END",
    ),
    ("toInt32(k)", "CAST(k AS INT)"),
    ("toFloat64(x)", "CAST(x AS DOUBLE)"),
    ("toDecimal64(x, 2)", "CAST(x AS DECIMAL(18, 2))"),
    ("uniqExact(a, b)", "count(DISTINCT a, b)"),
    ("uniq(a)", "approx_count_distinct(a)"),
    ("argMax(clerk, ts)", "max_by(clerk, ts)"),
    ("groupArray(x)", "collect_list(x)"),
    ("groupUniqArray(x)", "collect_set(x)"),
    ("any(x)", "any_value(x, true)"),
    ("anyLast(x)", "last(x, true)"),
    ("arrayJoin(tags)", "explode(tags)"),
    ("has(arr, 3)", "array_contains(arr, 3)"),
    ("arrayUniq(arr)", "size(array_distinct(arr))"),
    ("ifNull(a, b)", "coalesce(a, b)"),
    # nesting: inner calls rewritten inside outer ones
    ("argMax(clerk, argMin(k, v))", "max_by(clerk, min_by(k, v))"),
    (
        "toFloat64(sumIf(toDecimal64(p, 2), c))",
        "CAST(sum(CASE WHEN c THEN CAST(p AS DECIMAL(18, 2)) END) AS DOUBLE)",
    ),
    # argMaxIf masks both expr and ordering key
    (
        "argMaxIf(x, o, c)",
        "max_by(CASE WHEN c THEN x END, CASE WHEN c THEN o END)",
    ),
    (
        "uniqExactIf(u, c)",
        "count(DISTINCT CASE WHEN c THEN u END)",
    ),
    # null-sensitive bases get ignoreNulls, else the CASE mask's NULLs
    # on non-matching rows would be picked
    ("anyIf(x, c)", "any_value(CASE WHEN c THEN x END, true)"),
    ("anyLastIf(x, c)", "last(CASE WHEN c THEN x END, true)"),
    ("sumIf(x, c)", "sum(CASE WHEN c THEN x END)"),
    # array HOFs: lambda rotation (CH lambda-first → Spark array-first)
    ("arrayMap(x -> x + 1, arr)", "transform(arr, x -> x + 1)"),
    ("arrayFilter(x -> x > 0, arr)", "filter(arr, x -> x > 0)"),
    ("arrayExists(x -> x = 5, arr)", "exists(arr, x -> x = 5)"),
    ("arrayAll(x -> x >= 0, arr)", "forall(arr, x -> x >= 0)"),
    ("arrayCount(x -> x > 2, arr)", "size(filter(arr, x -> x > 2))"),
    ("arrayFirst(x -> x > 1, arr)", "get(filter(arr, x -> x > 1), 0)"),
    (
        "arraySum([1.5, 2.5])",
        "aggregate(array(1.5, 2.5), CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE))",
    ),
    ("arrayMax(arr)", "array_max(arr)"),
    # array literals vs indexing (ClickHouse subscripts are 1-based,
    # negatives from the end → try_element_at, NULL on out-of-bounds)
    ("[1, 2, 3]", "array(1, 2, 3)"),
    ("arr[1]", "try_element_at(arr, 1)"),
    ("f(a)[2]", "try_element_at(f(a), 2)"),
    ("arr[-1]", "try_element_at(arr, -1)"),
    ("t.arr[1]", "try_element_at(t.arr, 1)"),
    ("m['k']", "try_element_at(m, 'k')"),
    (
        "arr[1][2]",
        "try_element_at(try_element_at(arr, 1), 2)",
    ),
    ("[10, 20][1]", "try_element_at(array(10, 20), 1)"),
    ("(arr)[1]", "try_element_at((arr), 1)"),
    ("[1, f(a, b), 3]", "array(1, f(a, b), 3)"),
    ("has([1,2,3], 2)", "array_contains(array(1, 2, 3), 2)"),
    # string/regex renames
    ("extractAll(s, '[0-9]+')", "regexp_extract_all(s, '[0-9]+', 0)"),
    ("match(s, '^a.*b$')", "regexp_like(s, '^a.*b$')"),
    ("replaceRegexpAll(s, 'a+', 'A')", "regexp_replace(s, 'a+', 'A')"),
    ("replaceAll(s, 'x', 'y')", "replace(s, 'x', 'y')"),
    ("leftPad(s, 5, '0')", "lpad(s, 5, '0')"),
    ("startsWith(s, 'pre')", "startswith(s, 'pre')"),
    ("concatWithSeparator('-', a, b)", "concat_ws('-', a, b)"),
    # approx-register aliases
    ("uniqHLL12(x)", "approx_count_distinct(x)"),
    ("uniqTheta(x)", "approx_count_distinct(x)"),
    ("quantileTDigest(0.95)(x)", "percentile_approx(x, 0.95)"),
    ("quantileTiming(0.99)(t)", "percentile_approx(t, 0.99)"),
    (
        "groupArraySorted(3)(x)",
        "slice(sort_array(collect_list(x)), 1, 3)",
    ),
    ("median(x)", "percentile_approx(x, 0.5)"),
    ("medianExact(x)", "percentile(x, 0.5)"),
    # plain one-list parametric forms take ClickHouse's documented
    # parameter defaults (quantile level 0.5, topK k=10)
    ("quantile(x)", "percentile_approx(x, 0.5)"),
    ("quantileExact(x)", "percentile(x, 0.5)"),
    ("quantileTDigest(x)", "percentile_approx(x, 0.5)"),
]


@pytest.mark.parametrize("src,expected", REWRITES, ids=[s for s, _ in REWRITES])
def test_rewrite(src: str, expected: str):
    assert transpile(src) == expected


def test_prewhere_becomes_where():
    out = transpile("SELECT a FROM t PREWHERE x > 1")
    assert "PREWHERE" not in out and "WHERE x > 1" in out


def test_with_totals_becomes_grouping_sets():
    out = transpile("SELECT s, count(*) FROM t GROUP BY s WITH TOTALS")
    assert "GROUPING SETS((s), ())" in out and "TOTALS" not in out


def test_with_totals_multi_expr_and_tail_clauses():
    out = transpile(
        "SELECT a, b FROM t GROUP BY toYear(d), b WITH TOTALS ORDER BY a"
    )
    assert "GROUPING SETS((year(d), b), ())" in out
    assert out.endswith("ORDER BY a")


def test_settings_clause_dropped():
    out = transpile(
        "SELECT a FROM t WHERE x > 1 SETTINGS max_threads = 8, "
        "max_memory_usage = 10000000"
    )
    assert "SETTINGS" not in out and "max_threads" not in out
    assert "WHERE x > 1" in out


def test_settings_stops_at_union():
    out = transpile(
        "SELECT a FROM t SETTINGS max_threads = 4 UNION ALL SELECT a FROM u"
    )
    assert "SETTINGS" not in out
    assert "UNION ALL SELECT a FROM u" in out


def test_global_column_and_fill_cte_untouched():
    assert (
        transpile("SELECT global left(s, 2) FROM t")
        == "SELECT global left(s, 2) FROM t"
    )
    out = transpile("WITH fill AS (SELECT 1 AS x) SELECT x FROM fill")
    assert out.startswith("WITH fill AS")
    # the real clause now rewrites to the sequence() spine
    out = transpile("SELECT a FROM t ORDER BY a WITH FILL")
    assert "sequence(" in out and "WITH FILL" not in out


def test_column_named_settings_untouched():
    assert transpile("SELECT settings FROM t") == "SELECT settings FROM t"
    assert (
        transpile("SELECT a FROM t WHERE settings > 1")
        == "SELECT a FROM t WHERE settings > 1"
    )


def test_lowercase_prewhere():
    assert "WHERE x" in transpile("SELECT a FROM t prewhere x")


def test_array_join_clause():
    out = transpile("SELECT x, tok FROM t ARRAY JOIN tags AS tok WHERE x > 1")
    assert "LATERAL VIEW explode(tags) _aj AS tok" in out
    assert "ARRAY JOIN" not in out


def test_left_array_join_is_outer():
    out = transpile("SELECT x FROM t LEFT ARRAY JOIN tags AS tok")
    assert "LATERAL VIEW OUTER explode(tags)" in out


def test_array_join_rejects_aliasless_and_zips_multi():
    with pytest.raises(DialectError):
        transpile("SELECT a FROM t ARRAY JOIN arr")
    # multi-array form is ClickHouse's zip semantics -> inline(arrays_zip)
    out = transpile("SELECT i, j FROM t ARRAY JOIN x AS i, y AS j")
    assert "inline(arrays_zip(x, y)) _aj AS i, j" in out
    out = transpile("SELECT i, j FROM t LEFT ARRAY JOIN x AS i, y AS j")
    assert "LATERAL VIEW OUTER inline" in out


def test_global_hint_dropped():
    out = transpile("SELECT a FROM t WHERE k GLOBAL IN (SELECT k FROM u)")
    assert "GLOBAL" not in out and "IN" in out
    out = transpile("SELECT a FROM t GLOBAL LEFT JOIN u ON t.k = u.k")
    assert out.startswith("SELECT a FROM t LEFT JOIN u")


def test_structural_clauses_raise_with_pointers():
    # constructs that still refuse (unsupported variants) keep their
    # operator pointers
    for sql, msg in (
        (
            "SELECT a, b FROM t ORDER BY max(a), b WITH FILL",
            "events_gap_fill",
        ),
        (
            "SELECT a FROM t ORDER BY a WITH FILL INTERPOLATE (b)",
            "events_gap_interpolate",
        ),
        ("SELECT a FROM t INTO OUTFILE 'x.csv'", "export_shards"),
    ):
        with pytest.raises(DialectError, match=msg):
            transpile(sql)
    # DESC and multi-key fills are supported now (r6): DESC walks the
    # spine downward; leading keys group it
    out = transpile("SELECT a FROM t ORDER BY a DESC WITH FILL")
    assert "sequence(" in out and "-(1)" in out and "ORDER BY a DESC" in out
    out = transpile(
        "SELECT k, a FROM t ORDER BY k, a WITH FILL STEP 2"
    )
    assert "GROUP BY k" in out and "USING(k, a)" in out
    # plain LIMIT and CTE WITH are untouched
    assert transpile("SELECT a FROM t LIMIT 3") == "SELECT a FROM t LIMIT 3"
    out = transpile("WITH c AS (SELECT 1 AS x) SELECT x FROM c")
    assert out.startswith("WITH c AS")


def test_limit_by_rewrites_to_window():
    out = transpile("SELECT a, v FROM t ORDER BY v DESC LIMIT 3 BY a")
    assert "row_number() OVER(PARTITION BY a ORDER BY v DESC)" in out
    assert "__limit_by_rn <= 3" in out
    assert "EXCEPT(__limit_by_rn)" in out
    assert out.rstrip().endswith("ORDER BY v DESC")
    # offset forms: LIMIT off, n BY and LIMIT n OFFSET off BY
    out = transpile("SELECT a, v FROM t LIMIT 2, 3 BY a")
    assert "__limit_by_rn <= 5" in out and "__limit_by_rn > 2" in out
    out = transpile("SELECT a, v FROM t LIMIT 3 OFFSET 2 BY a")
    assert "__limit_by_rn <= 5" in out and "__limit_by_rn > 2" in out
    # trailing global LIMIT survives on the outside
    out = transpile("SELECT a, v FROM t LIMIT 2 BY a LIMIT 10")
    assert out.rstrip().endswith("LIMIT 10")
    # inside a subquery
    out = transpile(
        "SELECT * FROM (SELECT a, v FROM t LIMIT 1 BY a) WHERE v > 0"
    )
    assert "__limit_by_rn <= 1" in out and out.startswith("SELECT * FROM(")


def test_with_fill_rewrites_to_spine():
    out = transpile(
        "SELECT yr, n FROM t ORDER BY yr WITH FILL FROM 1992 TO 2000"
    )
    assert "sequence(1992, 2000, 1)" in out
    assert "__fill_x < (2000)" in out  # exclusive TO via filter
    assert "LEFT JOIN" in out and "USING(yr)" in out
    assert out.rstrip().endswith("ORDER BY yr")
    # date spine with INTERVAL step transpiles the same shape
    out = transpile(
        "SELECT d, n FROM t ORDER BY d WITH FILL "
        "FROM CAST('2024-01-01' AS DATE) TO CAST('2024-02-01' AS DATE) "
        "STEP INTERVAL 1 DAY"
    )
    assert "INTERVAL 1 DAY" in out and "filter(sequence(" in out
    # STEP and min/max defaults
    out = transpile("SELECT yr, n FROM t ORDER BY yr WITH FILL STEP 2")
    assert "SELECT min(yr) FROM" in out and "SELECT max(yr) FROM" in out
    assert ", 2)" in out
    # trailing LIMIT stays outside
    out = transpile(
        "SELECT yr FROM t ORDER BY yr WITH FILL FROM 1 TO 9 LIMIT 4"
    )
    assert out.rstrip().endswith("LIMIT 4")


def test_asof_join_using_rewrites_to_lateral():
    out = transpile(
        "SELECT e.id, q.px FROM events e ASOF LEFT JOIN quotes q "
        "USING (uid, ts)"
    )
    assert "LEFT JOIN LATERAL" in out
    assert "EXCEPT(uid, ts)" in out
    assert "q.uid = e.uid" in out and "q.ts <= e.ts" in out
    assert "ORDER BY q.ts DESC LIMIT 1) q ON true" in out
    # inner strictness (plain ASOF JOIN) drops unmatched left rows
    out = transpile(
        "SELECT * FROM l ASOF JOIN r USING (k, ts)"
    )
    assert "LEFT JOIN LATERAL" not in out and "JOIN LATERAL" in out
    # LEFT ASOF JOIN spelling + subquery right side
    out = transpile(
        "SELECT * FROM l LEFT ASOF JOIN "
        "(SELECT k, ts, v FROM r) rr USING (k, ts)"
    )
    assert "LEFT JOIN LATERAL" in out and "rr ON true" in out
    # ON form (resolver-less) takes the LATERAL fallback too
    out = transpile(
        "SELECT * FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.ts"
    )
    assert "JOIN LATERAL" in out and "r.ts <= l.ts" in out


def test_topk_transpiles_to_exact_tier():
    out = transpile("SELECT topK(3)(x) FROM t")
    assert "collect_list(x)" in out and "slice(array_sort(" in out
    # plain form takes ClickHouse's default k=10
    out = transpile("SELECT topK(x) FROM t")
    assert ", 10)" in out
    # topKWeighted transpiles to the exact weighted tier (r6):
    # per-value weight sums instead of +1 counts
    out = transpile("SELECT topKWeighted(5)(x, w) FROM t")
    assert "'w', CAST(w AS BIGINT)" in out and ", 5)" in out
    assert "element_at(acc, -1).c + s.w" in out
    out = transpile("SELECT topKWeighted(x, w) FROM t")
    assert ", 10)" in out


def test_review_fixes_round4():
    """Fixes from the round-4 code review, pinned."""
    # FINAL refusal covers qualified and backtick table names
    for sql in (
        "SELECT a FROM db.tbl FINAL",
        "SELECT a FROM `tbl` FINAL",
        "SELECT a FROM db.`t b` FINAL",
    ):
        with pytest.raises(DialectError, match="FINAL"):
            transpile(sql)
    # array literal directly after a keyword is a literal, not indexing
    assert transpile("SELECT [1, 2, 3] AS a FROM t") == (
        "SELECT array(1, 2, 3) AS a FROM t"
    )
    # IN with an array literal becomes the Spark list form
    assert transpile("SELECT x FROM t WHERE y IN [1, 2]").endswith(
        "WHERE y IN (1, 2)"
    )
    # 1-based indexing rewrite (round-5: was pass-through)
    assert transpile("arr[1]") == "try_element_at(arr, 1)"
    # block comments are opaque: parens/commas inside never confuse
    assert transpile("sumIf(x /* ( */ , c)") == (
        "sum(CASE WHEN c THEN x END)"
    )
    # LIMIT off, n maps to LIMIT n OFFSET off since r9 (Spark has no
    # comma form — it used to pass through into a parse error)
    assert transpile("SELECT a FROM t LIMIT 2, 3").endswith(
        "LIMIT 3 OFFSET 2"
    )
    # SETTINGS strips inside subqueries too
    out = transpile(
        "SELECT * FROM (SELECT a FROM t SETTINGS max_threads = 1)"
    )
    assert "SETTINGS" not in out and "FROM t" in out


def test_final_and_any_join_raise():
    with pytest.raises(DialectError):
        transpile("SELECT a FROM t FINAL")
    with pytest.raises(DialectError):
        transpile("SELECT a FROM t ANY LEFT JOIN u ON a = b")
    # Spark-native semi/anti strictness passes through
    assert "LEFT SEMI JOIN" in transpile(
        "SELECT a FROM t LEFT SEMI JOIN u ON t.k = u.k"
    )


def test_format_clause_dropped_only_at_end():
    assert transpile("SELECT a FROM t FORMAT JSONEachRow").rstrip() == (
        "SELECT a FROM t"
    )
    # a column named format mid-query is NOT a FORMAT clause
    assert "format" in transpile("SELECT format FROM t")
    assert "FROM t" in transpile("SELECT format FROM t")


def test_with_rollup_and_having_untouched():
    assert "WITH ROLLUP" in transpile("SELECT a FROM t GROUP BY a WITH ROLLUP")
    assert "HAVING" in transpile(
        "SELECT a FROM t GROUP BY a HAVING count(*) > 1"
    )


def test_passthrough_untouched():
    """Unknown functions, keywords, strings with parens, subqueries."""
    sql = "SELECT foo(a), count(*) FROM t WHERE s = ')(' AND k IN (1,2)"
    out = transpile(sql)
    assert "foo(a)" in out and "count(*)" in out and "')('" in out


def test_string_literals_are_opaque():
    # a paren/comma-laden literal must not perturb argument splitting
    assert (
        transpile("countIf(s = 'a,(b'')c')") == "count_if(s = 'a,(b'')c')"
    )


def test_comment_inside_args_dropped():
    out = transpile("f(a -- trailing\n, b)")
    assert out == "f(a, b)"


# --- property-based robustness (hypothesis) ---

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_IDENT = st.from_regex(r"[a-z_][a-z0-9_]{0,8}", fullmatch=True)
_NONCH_IDENT = _IDENT.filter(
    lambda s: s not in {"format", "settings", "prewhere", "group", "any"}
)


@st.composite
def ansi_exprs(draw, depth=2):
    """Random ANSI-only expressions: no ClickHouse names, so transpile
    must be the identity on them."""
    if depth == 0:
        return draw(
            st.one_of(
                _NONCH_IDENT,
                st.integers(0, 999).map(str),
                st.sampled_from(["'a b'", "'x(,)'", "' -- s'"]),
            )
        )
    kind = draw(st.integers(0, 3))
    if kind == 0:
        return draw(ansi_exprs(depth=0))
    if kind == 1:
        a = draw(ansi_exprs(depth=depth - 1))
        b = draw(ansi_exprs(depth=depth - 1))
        op = draw(st.sampled_from(["+", "*", "=", ">", "AND"]))
        return f"{a} {op} {b}"
    if kind == 2:
        fn = draw(st.sampled_from(["sum", "min", "coalesce", "fn_x"]))
        args = draw(st.lists(ansi_exprs(depth=depth - 1), min_size=1, max_size=3))
        return f"{fn}({', '.join(args)})"
    inner = draw(ansi_exprs(depth=depth - 1))
    return f"({inner})"


@given(ansi_exprs())
@settings(max_examples=150, deadline=None)
def test_identity_on_ansi_expressions(expr):
    """No ClickHouse construct present → transpile only normalizes
    argument-list whitespace, never content: stripping all whitespace
    must yield the identical string."""
    out = transpile(f"SELECT {expr} FROM t WHERE {expr}")
    canon = lambda s: "".join(s.split())  # noqa: E731
    assert canon(out) == canon(f"SELECT {expr} FROM t WHERE {expr}")


@given(ansi_exprs())
@settings(max_examples=100, deadline=None)
def test_idempotent(expr):
    """transpile(transpile(x)) ≡ transpile(x) up to whitespace: no CH
    name survives the first pass, so a second pass can only re-normalize
    spacing around argument lists (e.g. ``THEN (x)`` → ``THEN(x)``),
    never content."""
    sql = f"SELECT sumIf({expr}, x > 1), quantile(0.5)({expr}) FROM t"
    once = transpile(sql)
    canon = lambda s: "".join(s.split())  # noqa: E731
    assert canon(transpile(once)) == canon(once)


def test_plain_parametric_without_default_raises():
    with pytest.raises(DialectError, match="parametric"):
        transpile("SELECT quantiles(x) FROM t")
    with pytest.raises(DialectError, match="parametric"):
        transpile("SELECT groupArraySorted(x) FROM t")


@pytest.mark.parametrize("sql, shape", [
    ("SELECT quantile(0.5)() FROM t", "quantile(level)(x)"),
    ("SELECT quantiles(0.5)() FROM t", "quantiles(level, …)(x)"),
    ("SELECT quantiles()(x) FROM t", "quantiles(level, …)(x)"),
    ("SELECT quantilesExact()(x) FROM t", "quantilesExact(level, …)(x)"),
    ("SELECT windowFunnel()(t, a) FROM t",
     "windowFunnel(window[, mode, …])(timestamp, cond, …)"),
])
def test_parametric_empty_list_names_the_shape(sql, shape):
    """An empty level or argument list refuses with the spelling it
    needs, not an IndexError or a ``percentile(x, array())``."""
    with pytest.raises(DialectError) as caught:
        transpile(sql)
    assert str(caught.value).endswith(shape)


@pytest.mark.parametrize("sql, shape", [
    ("SELECT quantile(0.5)(a, b) FROM t", "quantile(level)(x)"),
    ("SELECT quantileTDigest(0.5)(a, b, c) FROM t",
     "quantileTDigest(level)(x)"),
    ("SELECT quantilesExact(0.5, 0.9)(a, b) FROM t",
     "quantilesExact(level, …)(x)"),
    ("SELECT quantileDeterministic(0.5)(a, b, c) FROM t",
     "quantileDeterministic(level)(x, determinator)"),
])
def test_percentile_extra_values_name_the_shape(sql, shape):
    """A second value is not dropped: ClickHouse rejects the call."""
    with pytest.raises(DialectError) as caught:
        transpile(sql)
    assert str(caught.value).endswith(shape)


@pytest.mark.parametrize("head, args", [
    ("quantile", "x"), ("quantileExact", "x"), ("quantileTDigest", "x"),
    ("quantileTiming", "x"), ("quantileBFloat16", "x"),
    ("quantileDeterministic", "x, d"), ("quantileExactLow", "x"),
    ("quantileExactHigh", "x"), ("quantileExactExclusive", "x"),
    ("quantileExactInclusive", "x"), ("quantileIf", "x, c"),
    ("quantileBFloat16If", "x, c"), ("quantileExactWeighted", "x, w"),
    ("medianExactWeighted", "x, w"), ("quantileExactWeightedIf", "x, w, c"),
])
def test_singular_quantile_heads_take_one_level(head, args):
    """Two levels on a singular head refuse with one text, as in
    ClickHouse; a plural head keeps the array."""
    with pytest.raises(DialectError, match=f"^{head} takes exactly one level$"):
        transpile(f"SELECT {head}(0.5, 0.9)({args}) FROM t")
    assert "array(0.5, 0.9)" in transpile(
        "SELECT quantilesExactInclusive(0.5, 0.9)(x) FROM t"
    )


def test_median_bfloat16_if_masks_like_its_twins():
    want = "percentile_approx(CASE WHEN c THEN x END, 0.5)"
    for head in ("medianTimingIf", "medianTDigestIf", "medianBFloat16If"):
        assert transpile(f"SELECT {head}(x, c) FROM t") == (
            f"SELECT {want} FROM t"
        )


def test_multiif_arity_check():
    with pytest.raises(DialectError):
        transpile("multiIf(a, b)")


def test_unbalanced_parens():
    with pytest.raises(DialectError):
        transpile("sumIf(x, y")


# --- Spark-vs-Spark equivalence (covers approx aggregates the DuckDB
#     oracle can't hash-match) ---


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_equivalence_approx_and_arrays(spark, sf_dir):
    ch = """
    SELECT o_orderstatus,
           uniq(o_custkey) AS u_approx,
           quantile(0.5)(toFloat64(o_totalprice)) AS med_approx,
           arraySort(groupUniqArray(o_orderpriority)) AS prios,
           anyLast(o_orderpriority) AS last_prio,
           avgIf(o_custkey, o_orderkey % 2 = 0) AS avg_even
    FROM orders GROUP BY o_orderstatus
    """
    native = """
    SELECT o_orderstatus,
           approx_count_distinct(o_custkey) AS u_approx,
           percentile_approx(CAST(o_totalprice AS DOUBLE), 0.5) AS med_approx,
           array_sort(collect_set(o_orderpriority)) AS prios,
           last(o_orderpriority) AS last_prio,
           avg(CASE WHEN o_orderkey % 2 = 0 THEN o_custkey END) AS avg_even
    FROM orders GROUP BY o_orderstatus
    """
    got = run_clickhouse_sql(spark, ch, sf_dir, ("orders",))
    register_views(spark, sf_dir, ("orders",))
    want = spark.sql(native)
    assert _rows(got) == _rows(want)
    assert got.columns == want.columns


def test_equivalence_composes_with_compat_udfs(spark, sf_dir):
    """Scalar compat names and transpiled syntax in one query."""
    ch = """
    SELECT toYear(CAST(o_orderdate AS DATE)) AS y,
           countIf(notEmpty(o_orderpriority)) AS n_prio,
           multiIf(count(*) > 100, 'big', 'small') AS size_class
    FROM orders GROUP BY y
    """
    got = run_clickhouse_sql(spark, ch, sf_dir, ("orders",))
    register_views(spark, sf_dir, ("orders",))
    register_clickhouse_compat(spark)
    want = spark.sql(
        """
        SELECT year(CAST(o_orderdate AS DATE)) AS y,
               count_if(length(o_orderpriority) > 0) AS n_prio,
               CASE WHEN count(*) > 100 THEN 'big' ELSE 'small' END
                 AS size_class
        FROM orders GROUP BY y
        """
    )
    assert _rows(got) == _rows(want)


def test_anylastif_picks_last_match_not_null(spark):
    """Regression: without ignoreNulls, last() over the CASE mask
    returns NULL whenever the final row fails the condition."""
    expr = transpile("anyLastIf(x, x < 3)")
    row = spark.sql(
        f"SELECT {expr} AS v FROM VALUES (1), (2), (5) AS t(x)"
    ).collect()[0]
    assert row.v == 2


def test_new_compat_date_scalars(spark):
    """Each compat date scalar, through the front door, equals its
    Spark built-in on a probe date/timestamp."""
    row = spark.sql(transpile(
        """
        SELECT subtractDays(DATE'2024-03-15', 20) = date_sub(DATE'2024-03-15', 20) AS a,
               addMonths(DATE'2024-03-15', 11) = add_months(DATE'2024-03-15', 11) AS b,
               addYears(DATE'2024-03-15', 3) = add_months(DATE'2024-03-15', 36) AS c,
               toDayOfYear(DATE'2024-03-01') = 61 AS d,
               toStartOfHour(TIMESTAMP'2024-03-15 10:47:33') =
                 TIMESTAMP'2024-03-15 10:00:00' AS e,
               toStartOfMinute(TIMESTAMP'2024-03-15 10:47:33') =
                 TIMESTAMP'2024-03-15 10:47:00' AS f,
               toLastDayOfMonth(DATE'2024-02-10') = DATE'2024-02-29' AS g
        """
    )).collect()[0]
    assert all(row), row.asDict()


def test_transpiled_plan_is_native(spark, sf_dir):
    """The transpiler is a front-end: the physical plan of a transpiled
    aggregate must show whole-stage codegen hash aggregation with no
    Python evaluation anywhere."""
    ch = "SELECT o_orderstatus, countIf(o_totalprice > 1000) AS n FROM orders GROUP BY o_orderstatus"
    df = run_clickhouse_sql(spark, ch, sf_dir, ("orders",))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "Python" not in plan and "BatchEval" not in plan


def test_asof_union_window_with_resolver():
    """With a column resolver the ASOF rewrite emits the scale-shaped
    union + last_value-window spelling, not the LATERAL fallback."""
    resolve = lambda rel: (  # noqa: E731
        ["uid", "ts", "px", "qty"] if "quotes" in rel else None
    )
    out = transpile(
        "SELECT * FROM trades t ASOF LEFT JOIN quotes q USING (uid, ts)",
        resolve_columns=resolve,
    )
    assert "LATERAL" not in out
    assert "UNION ALL" in out
    # the matched right row is carried atomically as ONE struct (a
    # per-column carry would backfill NULL value columns from older
    # right rows — rows ClickHouse never returns)
    assert "named_struct('px', px, 'qty', qty)" in out
    assert "__asof_r.px AS px" in out and "__asof_r.qty AS qty" in out
    assert out.count("last_value") == 1
    assert "USING(uid, ts)" in out and "SELECT DISTINCT uid" in out
    # inner strictness adds the matched filter
    out = transpile(
        "SELECT * FROM trades t ASOF JOIN quotes q USING (uid, ts)",
        resolve_columns=resolve,
    )
    assert "__asof_matched = 1" in out
    # unresolvable right side falls back to the LATERAL form
    out = transpile(
        "SELECT * FROM trades t ASOF LEFT JOIN unknown_t u USING (uid, ts)",
        resolve_columns=resolve,
    )
    assert "LATERAL" in out


def test_analytics_aggregate_transpiles():
    # retention → flag products
    out = transpile("SELECT retention(a = 1, b = 2) AS r FROM t GROUP BY u")
    assert "max(CASE WHEN a = 1 THEN 1 ELSE 0 END)" in out
    assert out.count("array(") == 1
    # windowFunnel → exact max-anchor DP fold
    out = transpile(
        "SELECT windowFunnel(3600)(ts, a = 1, b = 2, c = 3) AS lvl "
        "FROM t GROUP BY u"
    )
    assert "aggregate(sort_array(collect_list(" in out
    assert "array_repeat(CAST(NULL AS BIGINT), 3)" in out
    assert "CAST(3600 AS BIGINT) * 1000000" in out
    # windowFunnel modes transpile since r8 (the per-level
    # (anchor, last) fold; test_r8_window_funnel_modes); unknown
    # modes refuse
    out = transpile(
        "SELECT windowFunnel(3600, 'strict_order')(ts, a, b) FROM t"
    )
    assert "'dead'" in out and "'st'" in out
    with pytest.raises(DialectError, match="unknown windowFunnel"):
        transpile("SELECT windowFunnel(3600, 'bogus')(ts, a, b) FROM t")
    # sequenceMatch subsequence form → unbounded-window fold = N
    out = transpile(
        "SELECT sequenceMatch('(?1).*(?2)')(ts, a = 1, b = 2) FROM t"
    )
    assert "= 2 AS SMALLINT" in out
    # adjacency patterns transpile since r8 (the generalized
    # extremal-anchor fold; see test_r8_sequence_match_guards)
    out = transpile("SELECT sequenceMatch('(?1)(?2)')(ts, a, b) FROM t")
    assert ".la" in out and "'p', e.t" in out
    # sequenceCount subsequence form transpiles (r6): restart-
    # semantics staged fold, state = chains*N + stage
    out = transpile("SELECT sequenceCount('(?1).*(?2)')(ts, a, b) FROM t")
    assert "aggregate(" in out and "div 2" in out
    assert "array(a, b)" in out
    with pytest.raises(DialectError, match="subsequence"):
        transpile("SELECT sequenceCount('(?1)(?2)')(ts, a, b) FROM t")
    # zero-arg count() maps to count(*)
    assert transpile("count()") == "count(*)"


def test_any_join_using_collapses_right_side():
    resolve = lambda rel: (  # noqa: E731
        ["k", "v1", "v2"] if "r" in rel else None
    )
    out = transpile(
        "SELECT * FROM l ANY LEFT JOIN r USING (k)",
        resolve_columns=resolve,
    )
    assert "min(struct(v1, v2))" in out
    assert "GROUP BY k" in out and "LEFT JOIN" in out
    assert "USING(k)" in out
    # LEFT ANY JOIN spelling, inner strictness
    out = transpile(
        "SELECT * FROM l ANY JOIN r USING (k)", resolve_columns=resolve
    )
    assert "LEFT JOIN" not in out and "JOIN(SELECT" in "".join(out.split())
    # without a resolver the refusal with the operator pointer stands
    with pytest.raises(DialectError, match="any_left_join"):
        transpile("SELECT * FROM l ANY LEFT JOIN r USING (k)")
    # ON form (r6): all-equality conjuncts collapse the right side
    # keyed on its ON-referenced columns; the ON clause stays verbatim
    out = transpile(
        "SELECT * FROM l ANY LEFT JOIN r rr ON l.a = rr.k1 "
        "AND rr.k2 = l.b",
        resolve_columns=lambda rel: (
            ["k1", "k2", "v1"] if "r" in rel else None
        ),
    )
    assert "min(struct(v1))" in out and "GROUP BY k1, k2" in out
    assert "ON l.a = rr.k1" in out and "rr.k2 = l.b" in out
    # mixed equality + inequality conjuncts map since r12 (the
    # derived-relation form — test_r12_any_join_inequality_on); this
    # SELECT * shape takes the LATERAL form so no helper columns
    # leak into the star; a no-equality conjunct list maps since r13
    # (running-min form — test_r13_any_join_no_equality), and its
    # star shape routes to LATERAL the same way
    out_ineq = transpile(
        "SELECT * FROM l ANY LEFT JOIN r rr ON l.a = rr.k1 "
        "AND l.b > rr.k2",
        resolve_columns=lambda rel: (
            ["k1", "k2", "v1"] if "r" in rel else None
        ),
    )
    assert "LATERAL" in out_ineq and "__any_lk" not in out_ineq
    out_noeq = transpile(
        "SELECT * FROM l ANY LEFT JOIN r rr ON l.b > rr.k2",
        resolve_columns=lambda rel: (
            ["k1", "k2", "v1"] if "r" in rel else None
        ),
    )
    assert "LATERAL" in out_noeq and "__any_lk" not in out_noeq


def test_limit_by_union_guard_and_parenthesized_branch():
    with pytest.raises(DialectError, match="parenthesize"):
        transpile(
            "SELECT a FROM t LIMIT 1 BY a UNION ALL SELECT a FROM u"
        )
    out = transpile(
        "(SELECT a FROM t LIMIT 1 BY a) UNION ALL SELECT a FROM u"
    )
    assert "__limit_by_rn" in out and "UNION ALL" in out


def test_asof_union_window_equals_lateral_fallback(spark, sf_dir):
    """The two ASOF emission shapes (catalog-resolver union-window vs
    LATERAL top-1) are independent plans of the same semantics — they
    must return identical rows."""
    from clickhouse_vs_dbt_spark.catalog import register_views
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat
    from clickhouse_vs_dbt_spark.dialect import catalog_resolver

    ch = """
    SELECT e.event_id, e.user_id, e.ts, c.click_value
    FROM events e
    ASOF LEFT JOIN (
        SELECT user_id, ts, value AS click_value
        FROM events WHERE event_type = 'click'
    ) c USING (user_id, ts)
    WHERE e.event_type = 'purchase'
    """
    register_views(spark, sf_dir, ("events",))
    register_clickhouse_compat(spark)
    with_resolver = spark.sql(
        transpile(ch, resolve_columns=catalog_resolver(spark))
    )
    lateral = spark.sql(transpile(ch))
    assert "last_value" in with_resolver._jdf.queryExecution().toString()
    assert _rows(with_resolver) == _rows(lateral)


def test_asof_on_form_directions(spark):
    """ASOF ... ON: all four inequality directions and the flipped
    operand order produce exact matches; differently-named keys are
    canonicalized to the left side's names."""
    from clickhouse_vs_dbt_spark.dialect import catalog_resolver

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW aon_l AS SELECT * FROM VALUES "
        "(1, 10L), (1, 20L) AS t(uid, lts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW aon_r AS SELECT * FROM VALUES "
        "(1, 10L, 100.0), (1, 15L, 150.0), (1, 25L, 250.0) "
        "AS t(ruid, rts, v)"
    )

    def run(ineq):
        q = transpile(
            "SELECT l.uid, l.lts, r.v FROM aon_l l "
            f"ASOF LEFT JOIN aon_r r ON l.uid = r.ruid AND {ineq} "
            "ORDER BY l.lts",
            resolve_columns=catalog_resolver(spark),
        )
        assert "LATERAL" not in q
        return [(row.lts, row.v) for row in spark.sql(q).collect()]

    # ge: latest right at-or-before (tie matches)
    assert run("l.lts >= r.rts") == [(10, 100.0), (20, 150.0)]
    # gt: latest strictly-before (tie excluded)
    assert run("l.lts > r.rts") == [(10, None), (20, 150.0)]
    # le: earliest right at-or-after (tie matches)
    assert run("l.lts <= r.rts") == [(10, 100.0), (20, 250.0)]
    # lt: earliest strictly-after
    assert run("l.lts < r.rts") == [(10, 150.0), (20, 250.0)]
    # flipped operand order normalizes (r.rts <= l.lts == ge)
    assert run("r.rts <= l.lts") == [(10, 100.0), (20, 150.0)]


def test_asof_on_form_refusals():
    with pytest.raises(DialectError, match="exactly one inequality"):
        transpile(
            "SELECT * FROM l ASOF JOIN r ON l.k = r.k "
            "AND l.a > r.a AND l.b > r.b"
        )
    with pytest.raises(DialectError, match="at least one equality"):
        transpile("SELECT * FROM l ASOF JOIN r ON l.a > r.a")
    with pytest.raises(DialectError, match="conjunct"):
        transpile("SELECT * FROM l ASOF JOIN r ON l.k = r.k AND l.a > 5")


def test_asof_carries_matched_row_atomically(spark):
    """A NULL value column in the MATCHED right row must come through
    as NULL — a per-column last_value carry would backfill it from an
    older right row, fabricating a mixed row ClickHouse never
    returns."""
    from clickhouse_vs_dbt_spark.dialect import catalog_resolver

    spark.sql("DROP VIEW IF EXISTS asof_l")
    spark.sql("DROP VIEW IF EXISTS asof_r")
    spark.sql(
        "CREATE TEMP VIEW asof_l AS SELECT * FROM VALUES "
        "(1, 3L) AS t(uid, ts)"
    )
    spark.sql(
        "CREATE TEMP VIEW asof_r AS SELECT * FROM VALUES "
        "(1, 1L, 10.0, 5L), (1, 2L, CAST(NULL AS DOUBLE), 7L) "
        "AS t(uid, ts, px, qty)"
    )
    out = spark.sql(
        transpile(
            "SELECT l.uid, l.ts, r.px, r.qty FROM asof_l l "
            "ASOF LEFT JOIN asof_r r USING (uid, ts)",
            resolve_columns=catalog_resolver(spark),
        )
    ).collect()
    assert len(out) == 1
    row = out[0]
    # matched row is (ts=2, px=NULL, qty=7): px stays NULL
    assert row.qty == 7 and row.px is None


def test_combinator_families_round5():
    assert transpile("minArray(a)") == "min(array_min(a))"
    assert transpile("maxArray(a)") == "max(array_max(a))"
    assert transpile("countArray(a)") == "sum(CAST(size(a) AS BIGINT))"
    assert "sum(aggregate(a" in transpile("sumArray(a)")
    assert "/ sum(CAST(size(a) AS BIGINT))" in transpile("avgArray(a)")
    assert transpile("sumDistinct(x)") == "sum(DISTINCT x)"
    assert transpile("countOrNull(x)") == "nullif(count(x), 0)"
    assert transpile("sumOrNull(x)") == "sum(x)"  # already NULL-on-empty
    out = transpile("sumMap(k, v)")
    assert "zip_with(k, v" in out and "named_struct('keys'" in out
    assert "least(" in transpile("minMap(k, v)")
    # r7: sum/count/min/max -State/-Merge transpile (self-merging
    # partials); avg/uniq registers still refuse with guidance
    assert transpile("sumState(x)") == "sum(x)"
    assert transpile("countState()") == "count(*)"
    assert transpile("countState(x)") == "count(x)"
    assert transpile("minState(x)") == "min(x)"
    assert transpile("sumMerge(s)") == "sum(s)"
    assert transpile("countMerge(c)") == "sum(c)"  # merging counts sums
    assert transpile("maxMerge(s)") == "max(s)"
    assert transpile("sumIfState(x, c)") == "sum(CASE WHEN c THEN x END)"
    assert transpile("countIfState(c)") == "count_if(c)"
    # uniq/quantile states transpile since r8 (portable sketches;
    # test_r8_uniq_quantile_state_merge); argMax/argMin since r9
    # (extremal (value, arg) struct state, test_r9_argmax_state_merge)
    assert "collect_list" in transpile("quantileState(x)")
    assert "collect_list" in transpile("SELECT uniqMerge(s) FROM t")
    assert transpile("argMaxState(x, y)") == (
        "max(CASE WHEN (y) IS NOT NULL THEN "
        "named_struct('v', y, 'a', x) END)"
    )
    assert transpile("argMinMerge(s)") == "(min(s)).a"
    assert transpile("argMaxMergeState(s)") == "max(s)"
    # topK's byte register still refuses
    with pytest.raises(DialectError, match="mergetree_aggregating"):
        transpile("SELECT topKState(x) FROM t")
    with pytest.raises(DialectError, match="state column"):
        transpile("countMerge()")
    # r7b: portable non-self-merging states — avg = (sum, count)
    # struct, uniqExact = sorted value set, groupArray = the array
    assert transpile("avgState(x)") == (
        "named_struct('s', sum(x), 'c', count(x))"
    )
    assert transpile("avgMerge(a)") == (
        "(CAST(sum((a).s) AS DOUBLE) / CAST(sum((a).c) AS DOUBLE))"
    )
    assert transpile("avgMergeState(a)") == (
        "named_struct('s', sum((a).s), 'c', sum((a).c))"
    )
    assert transpile("avgIfState(x, c)") == (
        "named_struct('s', sum(CASE WHEN c THEN x END), "
        "'c', count(CASE WHEN c THEN x END))"
    )
    assert transpile("avgIfMerge(a)") == (
        "(CAST(sum((a).s) AS DOUBLE) / CAST(sum((a).c) AS DOUBLE))"
    )
    assert transpile("uniqExactState(x)") == "sort_array(collect_set(x))"
    assert transpile("uniqExactMerge(u)") == (
        "CAST(size(array_distinct(flatten(collect_list(u)))) AS BIGINT)"
    )
    assert transpile("uniqExactMergeState(u)") == (
        "sort_array(array_distinct(flatten(collect_list(u))))"
    )
    assert transpile("uniqExactIfState(x, c)") == (
        "sort_array(collect_set(CASE WHEN c THEN x END))"
    )
    assert transpile("groupArrayState(x)") == "collect_list(x)"
    assert transpile("groupArrayMerge(g)") == "flatten(collect_list(g))"
    assert transpile("groupArrayIfState(x, c)") == (
        "collect_list(CASE WHEN c THEN x END)"
    )
    with pytest.raises(DialectError, match="state column"):
        transpile("avgMerge(a, b)")


def test_run_clickhouse_script_end_to_end(spark, tmp_path):
    """Migration-runbook front door: one script creates a
    ReplacingMergeTree table (verbatim DDL), a materialized view, and
    reads with FINAL — statement splitting, routing, and the
    engine-metadata handoff all in one pass."""
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    src = tmp_path / "kv"
    spark.createDataFrame(
        [(1, 10.0, 1), (1, 20.0, 2), (2, 5.0, 1)],
        "k long, v double, ver long",
    ).write.mode("overwrite").parquet(str(src))
    script = """
    CREATE TABLE kv_t (k UInt64, v Float64, ver UInt32)
    ENGINE = ReplacingMergeTree(ver) ORDER BY k;

    CREATE MATERIALIZED VIEW kv_mv ENGINE = AggregatingMergeTree
    ORDER BY k POPULATE
    AS SELECT k, count() AS n, sum(toDecimal64(v, 2)) AS s
    FROM kv_t GROUP BY k;

    -- the FINAL read works because the DDL above registered the engine
    SELECT k, v FROM kv_t FINAL ORDER BY k;
    """
    results = run_clickhouse_script(
        spark, script, path_overrides={"kv_t": str(src)}
    )
    kinds = [k for k, _ in results]
    assert kinds == ["table", "materialized_view", "query"]
    final_rows = results[2][1].collect()
    assert [(r.k, r.v) for r in final_rows] == [(1, 20.0), (2, 5.0)]
    mv_rows = {r.k: r.n for r in spark.table("kv_mv").collect()}
    assert mv_rows == {1: 2, 2: 1}


def test_split_statements_respects_literals():
    from clickhouse_vs_dbt_spark.dialect import split_statements

    stmts = split_statements(
        "SELECT 'a;b' AS x; -- c;d\nSELECT 2;"
    )
    assert len(stmts) == 2
    assert "'a;b'" in stmts[0]


def test_script_insert_fires_mv_triggers(spark, tmp_path):
    """ClickHouse MV insert-trigger contract: INSERT INTO the source
    table folds the inserted block into every MV created earlier in
    the script; a no-POPULATE MV starts empty and sees inserts only."""
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    src = tmp_path / "evt"
    spark.createDataFrame(
        [(1, 10.0)], "k long, v double"
    ).write.mode("overwrite").parquet(str(src))
    script = """
    CREATE TABLE evt_t (k UInt64, v Float64) ENGINE = MergeTree ORDER BY k;

    CREATE MATERIALIZED VIEW evt_mv ENGINE = AggregatingMergeTree
    ORDER BY k AS SELECT k, count() AS n, sum(toDecimal64(v, 2)) AS s
    FROM evt_t GROUP BY k;

    INSERT INTO evt_t VALUES (1, 2.5), (2, 4.0);
    INSERT INTO evt_t (v, k) SELECT 7.5, 2;

    SELECT k, n, toFloat64(s) AS s FROM evt_mv ORDER BY k;
    """
    results = run_clickhouse_script(
        spark, script, path_overrides={"evt_t": str(src)}
    )
    kinds = [k for k, _ in results]
    assert kinds == ["table", "materialized_view", "insert", "insert", "query"]
    assert results[2][1] == ("evt_t", ["evt_mv"])
    rows = {r.k: (r.n, r.s) for r in results[4][1].collect()}
    # MV had no POPULATE: the pre-existing (1, 10.0) row is NOT in
    # state; only the two inserted blocks are
    assert rows == {1: (1, 2.5), 2: (2, 11.5)}
    # the table itself holds pre-existing + inserted rows
    assert spark.table("evt_t").count() == 4


def test_table_functions_rewrite():
    out = transpile("SELECT count() FROM numbers(100)")
    assert out == "SELECT count(*) FROM (SELECT id AS number FROM range(100))"
    out = transpile("SELECT number FROM numbers(5, 10)")
    assert "range(5, (5) + (10))" in out
    assert "parquet.`/x/y`" in transpile(
        "SELECT * FROM file('/x/y', 'Parquet')"
    )
    assert "json.`s3://b/p`" in transpile(
        "SELECT * FROM s3('s3://b/p', 'JSONEachRow')"
    )
    with pytest.raises(DialectError, match="transpile_ddl"):
        transpile("SELECT * FROM s3('s3://b/p.csv', 'CSV')")


def test_script_mutations_delete_update(spark, tmp_path):
    """ALTER TABLE ... DELETE / UPDATE run as copy-on-write rewrites;
    NULL conditions keep rows / leave them unchanged (ClickHouse's
    boolean evaluation)."""
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    src = tmp_path / "mt"
    spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "k long, v double, tag string",
    ).write.mode("overwrite").parquet(str(src))
    script = """
    CREATE TABLE mt_t (k UInt64, v Float64, tag String)
    ENGINE = MergeTree ORDER BY k;

    ALTER TABLE mt_t DELETE WHERE v > 30;
    ALTER TABLE mt_t UPDATE v = v + 1, tag = concat(tag, '!') WHERE k = 1;

    SELECT k, v, tag FROM mt_t ORDER BY k;
    """
    results = run_clickhouse_script(
        spark, script, path_overrides={"mt_t": str(src)}
    )
    assert [k for k, _ in results] == [
        "table", "mutation", "mutation", "query",
    ]
    rows = [(r.k, r.v, r.tag) for r in results[3][1].collect()]
    # k=4 deleted; k=3 (NULL v) survived the DELETE; k=1 updated
    assert rows == [(1, 11.0, "a!"), (2, 20.0, "b"), (3, None, "c")]


def test_script_optimize_final_collapses(spark, tmp_path):
    """OPTIMIZE TABLE t FINAL on a ReplacingMergeTree script table
    physically collapses the stored rows to the max-version state
    (ClickHouse's forced merge); a subsequent plain read sees the
    deduplicated data."""
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    src = tmp_path / "rv"
    spark.createDataFrame(
        [(1, 10.0, 1), (1, 20.0, 2), (2, 5.0, 1)],
        "k long, v double, ver long",
    ).write.mode("overwrite").parquet(str(src))
    script = """
    CREATE TABLE rv_t (k UInt64, v Float64, ver UInt32)
    ENGINE = ReplacingMergeTree(ver) ORDER BY k;

    OPTIMIZE TABLE rv_t FINAL;

    SELECT k, v FROM rv_t ORDER BY k;
    """
    results = run_clickhouse_script(
        spark, script, path_overrides={"rv_t": str(src)}
    )
    assert [k for k, _ in results] == ["table", "optimize", "query"]
    rows = [(r.k, r.v) for r in results[2][1].collect()]
    assert rows == [(1, 20.0), (2, 5.0)]  # merged: one row per key


def test_scalar_extras_round5():
    assert "sum(CAST((x) AS DOUBLE) * (w))" in transpile("avgWeighted(x, w)")
    assert transpile("anyHeavy(x)") == "mode(x)"
    assert transpile("intDiv(a, b)") == "((a) DIV (b))"
    assert "WHEN (b) = 0 THEN 0" in transpile("intDivOrZero(a, b)")
    assert transpile("bitAnd(a, b)") == "((a) & (b))"
    assert transpile("bitXor(a, b)") == "((a) ^ (b))"
    assert transpile("bitNot(a)") == "(~(a))"
    assert transpile("bitShiftLeft(a, 2)") == "shiftleft(a, 2)"
    assert transpile("bitCount(a)") == "bit_count(a)"
    assert transpile("isNaN(x)") == "isnan(x)"
    assert "NOT isnan(x)" in transpile("isFinite(x)")
    assert "filter(arr, __ce -> __ce <=> (3))" in transpile(
        "countEqual(arr, 3)"
    )  # <=>: NULL-as-value semantics (r15b)
    assert "/ size(arr))" in transpile("arrayAvg(arr)")
    assert "acc * CAST(x AS DOUBLE)" in transpile("arrayProduct(arr)")


def test_if_family_round5b():
    assert transpile("stddevPopIf(x, c)") == (
        "stddev_pop(CASE WHEN c THEN x END)"
    )
    assert transpile("varSampIf(x, c)") == (
        "var_samp(CASE WHEN c THEN x END)"
    )
    assert transpile("groupArrayIf(x, c)") == (
        "collect_list(CASE WHEN c THEN x END)"
    )
    assert transpile("groupUniqArrayIf(x, c)") == (
        "collect_set(CASE WHEN c THEN x END)"
    )
    assert transpile("medianIf(x, c)") == (
        "percentile_approx(CASE WHEN c THEN x END, 0.5)"
    )
    assert transpile("quantileIf(0.9)(x, c)") == (
        "percentile_approx(CASE WHEN c THEN x END, 0.9)"
    )
    assert transpile("quantileDeterministic(0.5)(x, seed)") == (
        "percentile_approx(x, 0.5)"
    )
    assert transpile("today()") == "current_date()"
    assert transpile("yesterday()") == "date_sub(current_date(), 1)"


def test_json_url_strftime_families():
    assert transpile("JSONExtractString(j, 'a', 'b')") == (
        "get_json_object(j, '$.a.b')"
    )
    assert transpile("JSONExtractInt(j, 'k')") == (
        "CAST(get_json_object(j, '$.k') AS BIGINT)"
    )
    assert transpile("visitParamExtractFloat(j, 'k')") == (
        "CAST(get_json_object(j, '$.k') AS DOUBLE)"
    )
    assert transpile("JSONHas(j, 'k')") == (
        "(get_json_object(j, '$.k') IS NOT NULL)"
    )
    # dynamic key falls through verbatim (no silent wrong path)
    assert transpile("JSONExtractString(j, col)") == (
        "JSONExtractString(j, col)"
    )
    assert transpile("domain(u)") == "parse_url(u, 'HOST')"
    assert "regexp_replace(parse_url(u, 'HOST'), '^www\\\\.', '')" == (
        transpile("domainWithoutWWW(u)")
    )
    assert transpile("queryString(u)") == "parse_url(u, 'QUERY')"
    # %i is the minute; %M is the full MONTH NAME (ClickHouse's
    # MySQL-dialect default since 23.1 — code-review r13g)
    assert transpile("formatDateTime(d, '%Y-%m-%d %H:%i:%S')") == (
        "date_format(d, 'yyyy-MM-dd HH:mm:ss')"
    )
    with pytest.raises(DialectError, match="strftime"):
        transpile("formatDateTime(d, '%Q')")
    # '%%' is a literal percent and must survive (ADVICE r5: the
    # residual-% check used to reject it); it also must not pair with
    # a following code letter ('%%Y' is literal '%' + 'Y')
    assert transpile("formatDateTime(d, '100%% %Y')") == (
        "date_format(d, '100% yyyy')"
    )
    assert "array_remove(split(s, '[^A-Za-z]+'), '')" == (
        transpile("alphaTokens(s)")
    )
    assert transpile("splitByString('--', s)") == (
        "split(s, concat('\\\\Q', '--', '\\\\E'))"
    )


def test_structural_rewrites_compose():
    """Multiple structural constructs in ONE statement: the passes
    splice sequentially and must not corrupt each other."""
    resolve = lambda rel: (  # noqa: E731
        ["id", "ts", "px"] if "quotes" in rel
        else ["id", "cat"] if "dims" in rel
        else None
    )
    out = transpile(
        "SELECT t.id, q.px, d.cat FROM trades t "
        "ASOF LEFT JOIN quotes q USING (id, ts) "
        "ANY LEFT JOIN dims d USING (id) "
        "ORDER BY t.id LIMIT 2 BY cat",
        resolve_columns=resolve,
    )
    assert "named_struct('px', px)" in out        # ASOF union-window
    assert "__asof_r.px AS px" in out
    assert "min(struct(cat))" in out              # ANY collapse
    assert "__limit_by_rn" in out                 # LIMIT BY window
    assert "ASOF" not in out and "ANY" not in out.replace("ANY", "ANY")
    # FINAL + LIMIT BY compose through the engine-info path
    from clickhouse_vs_dbt_spark.ddl import ENGINE_INFO, transpile_ddl

    transpile_ddl(
        "CREATE TABLE cmp_t (k UInt64, v Float64, ver UInt32) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k"
    )
    out = transpile(
        "SELECT k, v FROM cmp_t FINAL ORDER BY v DESC LIMIT 1 BY k",
        resolve_columns=lambda n: ["k", "v", "ver"],
        engine_info=lambda n: ENGINE_INFO.get(n),
    )
    assert "FINAL" not in out
    assert "max_by(struct(v, ver)" in out and "__limit_by_rn" in out


@st.composite
def ch_exprs(draw, depth=2):
    """Random ClickHouse-flavored expressions spanning every rewrite
    family — transpile() must emit text Spark's parser accepts."""
    if depth == 0:
        return draw(
            st.one_of(
                _IDENT,
                st.integers(0, 99).map(str),
                st.sampled_from(["'s'", "[1, 2]", "value"]),
            )
        )
    inner = lambda: draw(ch_exprs(depth=depth - 1))  # noqa: E731
    kind = draw(st.integers(0, 11))
    if kind == 0:
        return f"sumIf({inner()}, {inner()} > 1)"
    if kind == 1:
        return f"quantile(0.5)({inner()})"
    if kind == 2:
        return f"multiIf({inner()} > 0, {inner()}, {inner()})"
    if kind == 3:
        return f"toInt64({inner()})"
    if kind == 4:
        return f"arrayMap(x -> x + 1, [{inner()}, 2])"
    if kind == 5:
        return f"[{inner()}, {inner()}][1]"
    if kind == 6:
        return f"sumMap([{inner()}], [toFloat64({inner()})])"
    if kind == 7:
        return f"retention({inner()} > 0, {inner()} > 1)"
    if kind == 8:
        return f"topK(3)({inner()})"
    if kind == 9:
        return f"intDiv({inner()}, 7)"
    if kind == 10:
        return f"JSONExtractString({inner()}, 'k')"
    return f"avgWeighted({inner()}, {inner()})"


@given(ch_exprs())
@settings(max_examples=80, deadline=None)
def test_transpiled_output_parses(spark_parser, expr):
    """Every emission family must produce parser-valid Spark SQL —
    parse-only (no analysis), so unresolved names don't matter."""
    out = transpile(f"SELECT {expr} AS c FROM t GROUP BY g")
    spark_parser(out)  # raises ParseException on bad emission


@pytest.fixture(scope="module")
def spark_parser(spark):
    parser = spark._jsparkSession.sessionState().sqlParser()
    return lambda sql: parser.parsePlan(sql)


def test_scalar_transform_and_explain_passthrough(spark):
    # 4-arg scalar transform → map lookup with default; the 2-arg HOF
    # spelling (via arrayMap) is untouched by arity dispatch
    out = transpile("transform(x, ['a', 'b'], [1, 2], 0)")
    assert out == (
        "coalesce(try_element_at(map_from_arrays(array('a', 'b'), "
        "array(1, 2)), x), 0)"
    )
    from clickhouse_vs_dbt_spark.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    rows = spark.sql(
        transpile(
            "SELECT transform(o_orderstatus, ['O', 'F'], [1, 2], 0) AS c, "
            "count() AS n FROM orders GROUP BY c"
        )
    ).collect()
    assert {r.c for r in rows} <= {0, 1, 2}
    # EXPLAIN passes through with the inner query rewritten
    out = transpile("EXPLAIN SELECT sumIf(x, c) FROM t")
    assert out.startswith("EXPLAIN SELECT sum(CASE WHEN c THEN x END)")


def test_migration_demo_script_runs_on_managed_tables(spark):
    """tools/migration_demo.sql (the shipped demo) runs end-to-end
    WITHOUT path overrides — MergeTree DDL becomes a managed Spark
    table, so a user can paste a ClickHouse script with zero setup."""
    import shutil

    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("demo_events", "demo_part"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    demo = Path(__file__).resolve().parents[1] / "tools/migration_demo.sql"
    with open(demo) as f:
        script = f.read()
    results = run_clickhouse_script(spark, script)
    kinds = [k for k, _ in results]
    assert kinds == [
        "table", "materialized_view", "insert", "mutation",
        "optimize", "query", "query", "query", "query", "query",
        "explain",
        # round-8 tail: MV state aggregates + partition lifecycle
        "materialized_view", "query", "table", "insert",
        "detach_partition", "attach_partition", "mutation", "freeze",
        "query", "query",
    ]
    final_rows = [(r.k, r.v) for r in results[5][1].collect()]
    assert final_rows == [(1, 3.5), (2, 9.0)]
    mv_rows = {r.k: (r.n, r.total) for r in results[6][1].collect()}
    assert mv_rows == {1: (2, 6.0), 2: (1, 9.0), 3: (1, 4.0)}
    # r7 statements: star modifiers, State/Merge, WITH TIES, EXPLAIN
    star = results[7][1]
    assert star.columns == ["k", "v"]
    sm = {r.k: r.total for r in results[8][1].collect()}
    assert set(sm) == {1, 2}
    ties = sorted(r.v for r in results[9][1].collect())
    assert len(ties) >= 2
    assert "count_if" in results[10][1].collect()[0].explain
    # r8 statements: avg/uniqExact MV, partition lifecycle, meanZTest
    # POPULATE sees the post-DELETE post-OPTIMIZE-FINAL state: k=3
    # deleted, k=1 collapsed to its max-version row (v=3.5, 1 ver)
    mva = {r.k: (r.mean_v, r.n_vers) for r in results[12][1].collect()}
    assert mva == {1: (3.5, 1), 2: (9.0, 1)}
    part_rows = [(r.k, r.v) for r in results[19][1].collect()]
    assert part_rows == [(1, 1.0), (2, 20.0), (3, 3.0)]
    assert results[20][1].collect()[0].z is not None
    for t in ("demo_events", "demo_part"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_scalar_tranche_round5c(spark):
    cases = {
        "trimLeft(s)": "ltrim(s)",
        "positionUTF8(h, n)": "instr(h, n)",
        "roundBankers(x, 2)": "bround(x, 2)",
        "base64Encode(s)": "base64(s)",
        "base64Decode(s)": "CAST(unbase64(s) AS STRING)",
        "positionCaseInsensitive(h, n)": "instr(lower(h), lower(n))",
        "multiSearchAny(h, ['a', 'b'])": (
            "exists(array('a', 'b'), __ms -> instr(h, __ms) > 0)"
        ),
        "countSubstrings(h, n)": (
            "((length(h) - length(replace(h, n, ''))) DIV length(n))"
        ),
        "exp2(x)": "power(2, x)",
        "plus(a, b)": "((a) + (b))",
        "divide(a, b)": "((a) / (b))",
        "negate(a)": "(-(a))",
    }
    for src, want in cases.items():
        assert transpile(src) == want, src
    # value spot-checks on a live session
    row = spark.sql(
        transpile(
            "SELECT countSubstrings('abcabcab', 'ab') AS c, "
            "multiSearchAny('hello', ['xx', 'ell']) AS m, "
            "base64Decode(base64Encode('hi')) AS r, "
            "roundBankers(2.5, 0) AS rb"
        )
    ).collect()[0]
    assert (row.c, row.m, row.r, row.rb) == (3, True, "hi", 2.0)


def test_map_and_array_enumeration_scalars(spark):
    assert transpile("mapKeys(m)") == "map_keys(m)"
    assert transpile("mapContains(m, 'k')") == "map_contains_key(m, 'k')"
    assert transpile("arrayEnumerate(a)") == (
        "slice(sequence(1, greatest(size(a), 1)), 1, size(a))"
    )
    row = spark.sql(
        transpile(
            "SELECT arrayDifference([2, 5, 9]) AS d, "
            "arrayCumSum([1.5, 2.0, 3.0]) AS cs, "
            "arrayEnumerate(['a', 'b']) AS en"
        )
    ).collect()[0]
    assert row.d == [0, 3, 4]
    assert row.cs == [1.5, 3.5, 6.5]
    assert row.en == [1, 2]
    # empty-array edges (ADVICE r5): ClickHouse returns [] for all
    # three; the naive sequence(1, 0) spine would give [1, 0] and the
    # naive size-1 slice length would raise at runtime
    row = spark.sql(
        transpile(
            "SELECT arrayEnumerate(CAST(array() AS ARRAY<BIGINT>)) AS en, "
            "arrayDifference(CAST(array() AS ARRAY<BIGINT>)) AS d, "
            "arrayCumSum(CAST(array() AS ARRAY<BIGINT>)) AS cs"
        )
    ).collect()[0]
    assert row.en == [] and row.d == [] and row.cs == []


def test_uniq_up_to_parametric(spark):
    assert transpile("uniqUpTo(3)(x)") == (
        "least(count(DISTINCT x), CAST((3) + 1 AS BIGINT))"
    )
    from clickhouse_vs_dbt_spark.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    row = spark.sql(
        transpile(
            "SELECT uniqUpTo(2)(o_orderstatus) AS u2, "
            "uniqUpTo(10)(o_orderstatus) AS u10 FROM orders"
        )
    ).collect()[0]
    assert row.u2 == 3 and row.u10 == 3  # 3 statuses: saturates at 2+1


_MIGRATION_SNIPPETS = [
    # one representative verbatim ClickHouse statement per MIGRATION.md
    # "runs verbatim" family — the broad front-door regression net
    # --- r6 modern-SQL tier ---
    "SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderkey "
    "FROM orders ORDER BY o_orderstatus, o_totalprice DESC",
    "SELECT o_orderkey, o_orderdate FROM orders ORDER BY o_orderdate "
    "LIMIT 5 WITH TIES",
    "WITH (SELECT max(o_totalprice) FROM orders) AS mx "
    "SELECT count() AS n FROM orders WHERE o_totalprice > mx * 0.9",
    "SELECT o_orderkey::String AS ks, "
    "CAST(o_totalprice, 'UInt64') AS tp, "
    "accurateCastOrNull(o_orderpriority, 'Int32') AS pnull, "
    "toTypeName(o_orderkey) AS tn FROM orders LIMIT 3",
    "SELECT o_orderstatus, "
    "arrayStringConcat(topKWeighted(2)(o_orderpriority, "
    "toUInt64(o_orderkey % 3 + 1)), '|') AS tw "
    "FROM orders GROUP BY o_orderstatus",
    "SELECT toYear(o_orderdate) AS yr, count() AS n FROM orders "
    "GROUP BY yr ORDER BY yr DESC WITH FILL FROM 1999 TO 1991",
    "SELECT o_orderstatus, toYear(o_orderdate) AS yr, count() AS n "
    "FROM orders GROUP BY o_orderstatus, yr "
    "ORDER BY o_orderstatus, yr WITH FILL",
    "SELECT toYYYYMM(CAST(o_orderdate AS DATE)) AS ym, count() AS n "
    "FROM orders GROUP BY ym ORDER BY ym LIMIT 3",
    "SELECT o_orderstatus, sumIf(o_totalprice, o_orderkey % 2 = 0) AS s "
    "FROM orders GROUP BY o_orderstatus",
    "SELECT quantilesExact(0.25, 0.75)(toFloat64(o_totalprice)) AS qs "
    "FROM orders",
    "SELECT uniq(o_custkey) AS u, uniqUpTo(5)(o_orderstatus) AS u5 "
    "FROM orders",
    "SELECT argMax(o_orderpriority, o_totalprice) AS p FROM orders",
    "SELECT multiIf(o_totalprice < 1000, 'lo', 'hi') AS b, count() AS n "
    "FROM orders GROUP BY b",
    "SELECT arrayMap(x -> x * 2, [1, 2, 3])[2] AS v FROM orders LIMIT 1",
    "SELECT splitByChar('-', o_orderpriority)[1] AS tok FROM orders "
    "LIMIT 5",
    # LIMIT BY keys must appear in the select output (the rewrite
    # ranks over the query's own columns so select ALIASES work —
    # ClickHouse's own examples select their BY keys too)
    "SELECT o_orderkey, o_orderstatus FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2 BY o_orderstatus",
    "SELECT tok, count() AS n FROM orders "
    "ARRAY JOIN splitByChar('-', o_orderpriority) AS tok GROUP BY tok",
    "SELECT i, c FROM orders ARRAY JOIN [1, 2] AS i, ['a', 'b'] AS c "
    "LIMIT 4",
    "SELECT o_orderstatus, count() AS n FROM orders "
    "PREWHERE o_totalprice > 1000 GROUP BY o_orderstatus WITH TOTALS",
    "SELECT yr, n FROM (SELECT toYear(CAST(o_orderdate AS DATE)) AS yr, "
    "count() AS n FROM orders GROUP BY yr) ORDER BY yr "
    "WITH FILL FROM 1992 TO 1999",
    "SELECT topK(2)(o_orderstatus) AS t FROM orders",
    "SELECT retention(o_totalprice > 0, o_totalprice > 100000) AS r "
    "FROM orders",
    "SELECT number % 3 AS g, count() AS n FROM numbers(100) GROUP BY g",
    "SELECT sumMap([o_orderstatus], [1.0]) AS sm FROM orders",
    "SELECT formatDateTime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym "
    "FROM orders LIMIT 3",
    "SELECT domain('https://example.org/a/b?c=1') AS d FROM orders "
    "LIMIT 1",
    "SELECT o_orderstatus, groupArrayIf(o_orderkey, o_orderkey < 10) AS g "
    "FROM orders GROUP BY o_orderstatus",
    "SELECT countDistinct FROM (SELECT uniqExact(o_custkey) AS "
    "countDistinct FROM orders)",
    "SELECT avgWeighted(o_totalprice, toFloat64(o_orderkey % 7 + 1)) AS aw "
    "FROM orders SETTINGS max_threads = 4",
]


def test_migration_surface_smoke(spark):
    """Every MIGRATION.md 'runs verbatim' family executes end-to-end
    through the front door against the live fixtures — a broad
    regression net over the whole transpiler surface."""
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_sql

    for sql in _MIGRATION_SNIPPETS:
        rows = run_clickhouse_sql(
            spark, sql, "/root/testdata/sf0.001", ("orders",)
        ).collect()
        assert rows is not None, sql


def test_limit_by_unselected_columns_inject_path(spark):
    """ClickHouse's rank-by-unselected-column idiom: BY/ORDER columns
    absent from the select output move the window INTO the select
    list (base-column scope) — live-checked against the window
    spelling."""
    from clickhouse_vs_dbt_spark.catalog import register_views
    from clickhouse_vs_dbt_spark.dialect import catalog_resolver

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    got = spark.sql(
        transpile(
            "SELECT o_orderkey FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2 BY o_orderstatus",
            resolve_columns=catalog_resolver(spark),
        )
    )
    assert got.columns == ["o_orderkey"]
    want = spark.sql(
        """
        SELECT o_orderkey FROM (
          SELECT o_orderkey, row_number() OVER (
              PARTITION BY o_orderstatus
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 2
        """
    )
    assert sorted(r.o_orderkey for r in got.collect()) == sorted(
        r.o_orderkey for r in want.collect()
    )


def test_modern_sql_rewrites(spark):
    """r6 batch: DISTINCT ON, LIMIT WITH TIES, ::CHType casts,
    2-arg/accurate casts, toTypeName, scalar-WITH inlining, plural
    quantile registers, untuple, SAMPLE refusal."""
    # DISTINCT ON == LIMIT 1 BY (ClickHouse-documented equivalence)
    out = transpile(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC"
    )
    assert "__limit_by_rn" in out and "DISTINCT" not in out
    # WITH TIES: two-pass boundary plan (top-n keys, then a
    # broadcast boundary filter) — no global rank() window
    out = transpile("SELECT a FROM t ORDER BY a LIMIT 3 WITH TIES")
    assert "__ties_bnd" in out and "LIMIT 3" in out
    assert "OVER" not in out
    with pytest.raises(DialectError, match="ORDER BY"):
        transpile("SELECT a FROM t LIMIT 3 WITH TIES")
    # ::CHType maps the type vocabulary, Spark keeps the operator
    assert transpile("SELECT a::UInt64 FROM t") == (
        "SELECT a::BIGINT FROM t"
    )
    assert "::DECIMAL(18, 2)" in transpile("SELECT x::Decimal(18,2) FROM t")
    # function-form casts
    assert transpile("CAST(a, 'UInt32')") == "CAST(a AS BIGINT)"
    assert transpile("accurateCastOrNull(a, 'Int64')") == (
        "TRY_CAST(a AS BIGINT)"
    )
    assert transpile("toTypeName(x)") == "typeof(x)"
    assert transpile("quantilesTiming(0.5, 0.9)(x)") == (
        "percentile_approx(x, array(0.5, 0.9))"
    )
    assert transpile("SELECT untuple(s) FROM t") == "SELECT s.* FROM t"
    # scalar-WITH forms inline; standard CTEs survive
    assert transpile("WITH 5 AS k SELECT a + k FROM t") == (
        "SELECT a + (5) FROM t"
    )
    out = transpile(
        "WITH (SELECT max(a) FROM t) AS mx, c AS (SELECT a FROM t) "
        "SELECT mx - a FROM c"
    )
    assert out.startswith("WITH c AS")
    assert "((SELECT max(a) FROM t)) - a" in out
    # SAMPLE refuses with the operator pointer (Spark would silently
    # parse SAMPLE as a table alias)
    with pytest.raises(DialectError, match="clickhouse_sample_clause"):
        transpile("SELECT * FROM t SAMPLE 0.1")
    # execution check for the tie semantics: peers of the n-th row
    # survive
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ties_t AS SELECT * FROM VALUES "
        "(1), (2), (2), (3) AS t(v)"
    )
    ties_df = spark.sql(
        transpile("SELECT v FROM ties_t ORDER BY v LIMIT 2 WITH TIES")
    )
    assert sorted(r.v for r in ties_df.collect()) == [1, 2, 2]
    # scale check: the executed plan has no unpartitioned window
    plan = ties_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
    # DESC direction: peers of the n-th-largest survive
    rows = spark.sql(
        transpile("SELECT v FROM ties_t ORDER BY v DESC LIMIT 2 WITH TIES")
    ).collect()
    assert sorted(r.v for r in rows) == [2, 2, 3]
    # multi-key, mixed directions, ties on the full key tuple
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ties_t2 AS SELECT * FROM VALUES "
        "(1, 'a'), (1, 'b'), (2, 'a'), (2, 'a'), (2, 'b') AS t(k, s)"
    )
    rows = spark.sql(
        transpile(
            "SELECT k, s FROM ties_t2 ORDER BY k DESC, s LIMIT 3 "
            "WITH TIES"
        )
    ).collect()
    assert sorted((r.k, r.s) for r in rows) == [
        (2, "a"),
        (2, "a"),
        (2, "b"),
    ]
    # NULL keys follow CLICKHOUSE ordering (NULLS LAST both ways
    # unless spelled) — ASC keeps the smallest values, not the NULLs
    # (ADVICE r7: Spark's ASC ⇒ NULLS FIRST default would silently
    # return the NULL rows instead)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ties_t3 AS SELECT * FROM VALUES "
        "(NULL), (NULL), (1), (2) AS t(v)"
    )
    rows = spark.sql(
        transpile("SELECT v FROM ties_t3 ORDER BY v LIMIT 2 WITH TIES")
    ).collect()
    assert sorted(r.v for r in rows) == [1, 2]
    # explicit NULLS FIRST is honored verbatim
    rows = spark.sql(
        transpile(
            "SELECT v FROM ties_t3 ORDER BY v NULLS FIRST LIMIT 2 "
            "WITH TIES"
        )
    ).collect()
    assert all(r.v is None for r in rows) and len(rows) == 2
    # DESC also defaults NULLS LAST (ClickHouse), keeping the largest
    rows = spark.sql(
        transpile(
            "SELECT v FROM ties_t3 ORDER BY v DESC LIMIT 2 WITH TIES"
        )
    ).collect()
    assert sorted(r.v for r in rows) == [1, 2]


def test_probe4_scalar_family_values(spark):
    """r7 probe batch: hashes-as-binary, array family round 3, numeric
    trunc, week starts, interval arithmetic, parse/make datetime,
    range/tuple, JSON checks, multi-search, IPv4, bar — value-pinned."""
    row = spark.sql(
        transpile(
            "SELECT "
            "hex(MD5('abc')) AS md5hex, "
            "hex(SHA256('abc')) AS sha256hex, "
            "hasAll([1, 2, 3], [1, 3]) AS ha, "
            "hasAll([1, 2], [3]) AS ha2, "
            "hasAny([1, 2], [2, 9]) AS hy, "
            "arrayIntersect([1, 2, 3], [2, 3, 4]) AS ai, "
            "arrayPushBack([1, 2], 3) AS apb, "
            "arrayPushFront([2, 3], 1) AS apf, "
            "arrayPopBack([1, 2, 3]) AS apo, "
            "arrayPopFront([1, 2, 3]) AS apf2, "
            "arrayResize([1, 2, 3], 2) AS ar1, "
            "arrayResize([1, 2], 4, 9) AS ar2, "
            "arrayReverseSort([3, 1, 2]) AS ars, "
            "arrayCumSum([1, 2, 3]) AS acs, "
            "arrayCumSum(emptyArrayInt64()) AS acs0, "
            "arrayCumSumNonNegative([1, -3, 2]) AS acn, "
            "arrayWithConstant(3, 'x') AS awc, "
            "arrayFold((acc, x) -> acc + x, [1, 2, 3], 10) AS af, "
            "arrayFirstIndex(x -> x > 1, [1, 2, 3]) AS afi, "
            "arrayFirstIndex(x -> x > 9, [1]) AS afi0, "
            "arrayLast(x -> x < 3, [1, 2, 3]) AS al, "
            "arrayLastIndex(x -> x < 3, [1, 2, 3]) AS ali, "
            "arrayLastIndex(x -> x > 9, [1]) AS ali0, "
            "trunc(2.7) AS tr1, trunc(-2.7) AS tr2, "
            "truncate(2.789, 2) AS tr3, "
            "toMonday(CAST('2024-03-07' AS DATE)) AS tm, "
            "toStartOfWeek(CAST('2024-03-07' AS DATE)) AS tsw, "
            "toStartOfWeek(CAST('2024-03-07' AS DATE), 1) AS tsw1, "
            "toStartOfFifteenMinutes(CAST('2024-01-01 01:23:45' AS "
            "TIMESTAMP)) AS t15, "
            "timeSlot(CAST('2024-01-01 01:40:45' AS TIMESTAMP)) AS ts30, "
            "toRelativeDayNum(CAST('1970-01-11' AS DATE)) AS trd, "
            "dateAdd(DAY, 3, CAST('2024-01-01' AS DATE)) AS da, "
            "dateDiff('day', CAST('2024-01-01' AS DATE), "
            "CAST('2024-01-11' AS DATE)) AS dd, "
            "makeDate(2024, 2, 29) AS mdt, "
            "parseDateTime('02/2024', '%m/%Y') AS pd2, "
            "fromUnixTimestamp(86400) AS fut, "
            "range(4) AS r1, range(0) AS r0, range(0, 10, 3) AS r3, "
            "isValidJSON('{\"a\":1}') AS vj, isValidJSON('nope') AS vj0, "
            "JSONLength('[1,2,3]') AS jl, "
            "multiMatchAny('hello', ['^x', 'l+o$']) AS mma, "
            "multiSearchFirstPosition('hello', ['xx', 'll', 'l']) AS msf, "
            "extract('key=val', 'key=(\\\\w+)') AS ex1, "
            "extract('abc', 'b.') AS ex2, "
            "notLike('abc', 'a%') AS nl, "
            "countMatches('aaa', 'a') AS cm, "
            "levenshteinDistance('kitten', 'sitting') AS lev, "
            "IPv4NumToString(3232235777) AS ip1, "
            "IPv4StringToNum('192.168.1.1') AS ip2, "
            "isIPv4String('192.168.1.1') AS ip3, "
            "isIPv4String('999.1.1.1') AS ip4, "
            "bar(5, 0, 10, 10) AS b1"
        )
    ).collect()[0]
    assert row.md5hex == "900150983CD24FB0D6963F7D28E17F72"
    assert row.sha256hex.startswith("BA7816BF8F01CFEA")
    assert (row.ha, row.ha2, row.hy) == (True, False, True)
    assert row.ai == [2, 3]
    assert row.apb == [1, 2, 3] and row.apf == [1, 2, 3]
    assert row.apo == [1, 2] and row.apf2 == [2, 3]
    assert row.ar1 == [1, 2] and row.ar2 == [1, 2, 9, 9]
    assert row.ars == [3, 2, 1]
    assert row.acs == [1.0, 3.0, 6.0] and row.acs0 == []
    assert row.acn == [1.0, 0.0, 2.0]
    assert row.awc == ["x", "x", "x"]
    assert row.af == 16
    assert (row.afi, row.afi0) == (2, 0)
    assert row.al == 2
    assert (row.ali, row.ali0) == (2, 0)
    assert (row.tr1, row.tr2, row.tr3) == (2.0, -2.0, 2.78)
    assert str(row.tm) == "2024-03-04"
    assert str(row.tsw) == "2024-03-03" and str(row.tsw1) == "2024-03-04"
    assert str(row.t15) == "2024-01-01 01:15:00"
    assert str(row.ts30) == "2024-01-01 01:30:00"
    assert row.trd == 10
    assert str(row.da).startswith("2024-01-04")
    assert row.dd == 10
    assert str(row.mdt) == "2024-02-29"
    assert str(row.pd2).startswith("2024-02-01")
    assert str(row.fut) == "1970-01-02 00:00:00"
    assert row.r1 == [0, 1, 2, 3] and row.r0 == [] and row.r3 == [0, 3, 6, 9]
    assert (row.vj, row.vj0) == (True, False)
    assert row.jl == 3
    assert row.mma is True and row.msf == 3
    assert (row.ex1, row.ex2) == ("val", "bc")
    assert row.nl is False and row.cm == 3 and row.lev == 3
    assert row.ip1 == "192.168.1.1" and row.ip2 == 3232235777
    assert (row.ip3, row.ip4) == (True, False)
    assert row.b1 == "█████"
    # bucketing-hash role mappings (stable in-engine, not CH-bit-equal)
    out = transpile("SELECT cityHash64(x), xxHash32(y) FROM t")
    assert "xxhash64(x)" in out and "& 4294967295" in out
    # ClickHouse rand() is uniform UInt32 (rand() % k idiom)
    assert "4294967296" in transpile("rand()")
    # Spark-native date trunc passes through untouched
    assert transpile("trunc(d, 'MM')") == "trunc(d, 'MM')"
    with pytest.raises(DialectError, match="dedup"):
        transpile("wordShingleMinHash(s)")


def test_probe5_stat_window_family(spark):
    """r7 probe batch 5: window lag/lead-in-frame, regression/moment
    aggregates, histogram, and the block-order refusal tier."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW p5t AS SELECT * FROM VALUES "
        "(1.0, 2.0), (2.0, 4.0), (3.0, 6.5), (4.0, 8.0) AS t(x, y)"
    )
    row = spark.sql(
        transpile(
            "SELECT sumCount(x) AS sc, "
            "simpleLinearRegression(x, y) AS lr, "
            "skewPop(x) AS sk, kurtPop(x) AS ku, "
            "boundingRatio(x, y) AS br, "
            "histogram(2)(x) AS h FROM p5t"
        )
    ).collect()[0]
    assert float(row.sc["sum"]) == 10.0 and row.sc["count"] == 4
    # y = 2.05x + 0 by least squares on these points
    assert abs(row.lr["k"] - 2.05) < 1e-9 and abs(row.lr["b"]) < 1e-9
    assert abs(row.sk) < 1e-9  # symmetric data
    assert abs(row.ku - 1.64) < 1e-9  # m4/m2² (non-excess, CH kurtPop)
    assert abs(float(row.br) - 2.0) < 1e-9  # (8-2)/(4-1)
    assert len(row.h) == 2  # adaptive 2-bucket histogram
    diffs = [
        r.d
        for r in spark.sql(
            transpile(
                "SELECT x - lagInFrame(x, 1) OVER (ORDER BY x) AS d "
                "FROM p5t"
            )
        ).collect()
    ]
    assert diffs[0] is None and all(float(d) == 1.0 for d in diffs[1:])
    # block-order / order-dependent constructs refuse with the window
    # spelling; LTTB points at the operator
    for bad, msg in [
        ("runningDifference(x)", "block"),
        ("neighbor(x, -1)", "block"),
        ("deltaSum(x)", "order-dependent"),
        ("groupArrayMovingSum(x)", "order-dependent"),
        ("largestTriangleThreeBuckets(9)(x, y)", "events_lttb"),
        ("mannWhitneyUTest(x, y)", "stats_mann_whitney"),
        ("theilsU(x, y)", "stats_categorical_assoc"),
        ("entropy(x)", "stats_categorical_assoc"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM p5t")


def test_star_modifiers(spark):
    """r7: * EXCEPT/REPLACE/APPLY expansion via the catalog
    resolver; EXCEPT alone stays Spark-native."""
    from clickhouse_vs_dbt_spark.dialect import catalog_resolver

    # EXCEPT-only passes through (Spark-native)
    assert "EXCEPT" in transpile("SELECT * EXCEPT (a, b) FROM t")
    # REPLACE/APPLY need the column list
    with pytest.raises(DialectError, match="column list"):
        transpile("SELECT * REPLACE (a + 1 AS a) FROM t")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW star_t AS SELECT * FROM VALUES "
        "(1, 2, 'x'), (3, 4, 'y') AS t(a, b, s)"
    )
    res = catalog_resolver(spark)
    # REPLACE keeps the name, substitutes the expression
    rows = spark.sql(
        transpile(
            "SELECT * REPLACE (a * 10 AS a) FROM star_t",
            resolve_columns=res,
        )
    ).collect()
    assert [tuple(r) for r in rows] == [(10, 2, "x"), (30, 4, "y")]
    # EXCEPT + REPLACE + chained APPLY, ClickHouse f(col) naming
    df = spark.sql(
        transpile(
            "SELECT * EXCEPT (s) REPLACE (b + 1 AS b) "
            "APPLY (toString) APPLY (length) FROM star_t",
            resolve_columns=res,
        )
    )
    assert df.columns == [
        "length(toString(a))",
        "length(toString(b))",
    ]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 1), (1, 1)]
    # a set-operation EXCEPT after a star is NOT a modifier
    out = transpile(
        "SELECT * FROM a EXCEPT (SELECT * FROM b)", resolve_columns=res
    )
    assert "EXCEPT" in out
    # COLUMNS('regex'): matching columns in table order; list form too
    rows = spark.sql(
        transpile("SELECT COLUMNS('^[ab]$') FROM star_t",
                  resolve_columns=res)
    )
    assert rows.columns == ["a", "b"]
    rows = spark.sql(
        transpile("SELECT COLUMNS(s, a) APPLY (count) FROM star_t",
                  resolve_columns=res)
    )
    assert rows.columns == ["count(a)", "count(s)"]
    assert [tuple(r) for r in rows.collect()] == [(2, 2)]
    with pytest.raises(DialectError, match="matched no columns"):
        transpile("SELECT COLUMNS('zzz') FROM star_t",
                  resolve_columns=res)
    # qualified t.* with modifiers would expand the wrong column set
    with pytest.raises(DialectError, match="qualified star"):
        transpile("SELECT t.* REPLACE (a + 1 AS a) FROM star_t t",
                  resolve_columns=res)
    # r8: COLUMNS as a function argument expands to bare per-column
    # arguments (ClickHouse call semantics), no AS aliases injected
    rows = spark.sql(
        transpile("SELECT count(COLUMNS('^s$')) AS n FROM star_t",
                  resolve_columns=res)
    ).collect()
    assert rows[0].n == 2
    out = transpile("SELECT sum(COLUMNS('^[ab]$')) FROM star_t",
                    resolve_columns=res)
    assert "AS" not in out.split("FROM")[0]  # bare args: sum(`a`, `b`)
    with pytest.raises(DialectError, match="inside a function call"):
        transpile("SELECT sum(COLUMNS('a') APPLY (abs)) FROM star_t",
                  resolve_columns=res)


def test_sample_clause_route(spark, sf_dir):
    """r7: FROM t SAMPLE k [OFFSET m] routes to the deterministic
    hash-range slice when the DDL declared SAMPLE BY; slices with
    distinct OFFSETs are disjoint and cover the table."""
    from clickhouse_vs_dbt_spark import ddl as _ddl
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    # no registered SAMPLE BY key → refusal with operator pointer
    # (fraction AND r8 row-count forms both need the key)
    with pytest.raises(DialectError, match="SAMPLE BY"):
        transpile("SELECT * FROM t SAMPLE 0.1")
    with pytest.raises(DialectError, match="SAMPLE BY"):
        transpile("SELECT * FROM t SAMPLE 1000")
    # a row-count OFFSET (rows after the OFFSET keyword) refuses —
    # CH offsets are keyspace fractions; SAMPLE n OFFSET m maps
    # since r12 (checked below)
    with pytest.raises(DialectError, match="fraction of the keyspace"):
        transpile("SELECT * FROM t SAMPLE 1/2 OFFSET 3")
    script = f"""
CREATE TABLE samp_t (o_orderkey Int64, o_custkey Int64,
  o_orderstatus String, o_totalprice Float64, o_orderdate DateTime,
  o_orderpriority String)
ENGINE = MergeTree ORDER BY o_orderkey
SAMPLE BY intHash32(o_orderkey);
SELECT count() AS n FROM samp_t SAMPLE 1/2;
"""
    res = run_clickhouse_script(
        spark,
        script,
        path_overrides={"samp_t": f"{sf_dir}/orders.parquet"},
        overwrite_existing=True,
    )
    n_lo = res[-1][1].collect()[0].n
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    info = _ddl.lookup_engine_info("samp_t")
    assert info is not None and info.sample_by == "o_orderkey"
    # second half via OFFSET: disjoint, exact partition of the table
    df_hi = spark.sql(
        transpile(
            "SELECT count() AS n FROM samp_t SAMPLE 1/2 OFFSET 1/2",
            engine_info=_ddl.lookup_engine_info,
        )
    )
    n_hi = df_hi.collect()[0].n
    assert n_lo + n_hi == total
    assert 0 < n_lo < total
    # the slice is a map-side filter: no shuffle in the scan subtree
    plan = df_hi._jdf.queryExecution().executedPlan().toString()
    assert "SAMPLE" not in plan
    # r8 (ADVICE): non-dyadic fractions — adjacent slices share exact
    # bounds (hi = trunc(2^32·(off+frac)), not off and width
    # truncated independently), so three 1/3 slices partition the
    # table with no orphaned hash values and the last ends at 2^32
    sqls = [
        transpile(
            "SELECT count() AS n FROM samp_t SAMPLE 1/3"
            + (f" OFFSET {off}" if off else ""),
            engine_info=_ddl.lookup_engine_info,
        )
        for off in ("", "1/3", "2/3")
    ]
    import re as _re

    bounds = [
        tuple(int(x) for x in _re.findall(r">= (\d+) AND.*< (\d+)", s)[0])
        for s in sqls
    ]
    assert bounds[0][1] == bounds[1][0] and bounds[1][1] == bounds[2][0]
    assert bounds[2][1] == 4294967296
    ns = [spark.sql(s).collect()[0].n for s in sqls]
    assert sum(ns) == total
    # r8: integer SAMPLE n — fraction derived from a scalar COUNT(*)
    # subquery at execution time; "at least roughly n rows"
    n_rows = spark.sql(
        transpile(
            "SELECT count() AS n FROM samp_t SAMPLE 200",
            engine_info=_ddl.lookup_engine_info,
        )
    ).collect()[0].n
    assert 0.5 * 200 <= n_rows <= 2.0 * 200
    # the full-table row form keeps everything (hi clamps at 2^32)
    n_all = spark.sql(
        transpile(
            f"SELECT count() AS n FROM samp_t SAMPLE {total * 10}",
            engine_info=_ddl.lookup_engine_info,
        )
    ).collect()[0].n
    assert n_all == total
    # r12 (VERDICT r11 item 4): SAMPLE n OFFSET m — the runtime
    # COUNT(*) width starts at the keyspace fraction m; a slice at
    # OFFSET 0 and one at the matching fraction stay disjoint, and
    # the width clamps to the REMAINING keyspace near the top
    n_off = spark.sql(
        transpile(
            "SELECT count() AS n FROM samp_t SAMPLE 200 OFFSET 1/2",
            engine_info=_ddl.lookup_engine_info,
        )
    ).collect()[0].n
    assert 0.5 * 200 <= n_off <= 2.0 * 200
    got = spark.sql(
        transpile(
            "SELECT min(o_orderkey) AS a, max(o_orderkey) AS b "
            "FROM samp_t SAMPLE 200 OFFSET 1/2",
            engine_info=_ddl.lookup_engine_info,
        )
    ).collect()[0]
    lo_keys = {
        r.o_orderkey
        for r in spark.sql(
            transpile(
                "SELECT o_orderkey FROM samp_t SAMPLE 200",
                engine_info=_ddl.lookup_engine_info,
            )
        ).collect()
    }
    off_keys = {
        r.o_orderkey
        for r in spark.sql(
            transpile(
                "SELECT o_orderkey FROM samp_t SAMPLE 200 OFFSET 1/2",
                engine_info=_ddl.lookup_engine_info,
            )
        ).collect()
    }
    assert got.a is not None and lo_keys.isdisjoint(off_keys)
    # r13 (VERDICT r12 item 6): the row-count fraction memoizes the
    # scalar COUNT(*) per immutable storage — with an active session
    # and a file: location the transpile folds the count to a
    # LITERAL (no scalar subquery left in the SQL), and the bound
    # value matches the live count
    s_memo = transpile(
        "SELECT count() AS n FROM samp_t SAMPLE 200",
        engine_info=_ddl.lookup_engine_info,
    )
    assert "(SELECTCOUNT" not in s_memo.upper().replace(" ", "")
    assert str(total) in s_memo
    assert spark.sql(s_memo).collect()[0].n == n_rows
    # storage-signature invalidation: an INSERT into a managed
    # sampled table changes the folded literal on the next transpile
    import shutil as _sh

    _wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    spark.sql("DROP TABLE IF EXISTS samp_memo_t")
    _sh.rmtree(f"{_wh}/samp_memo_t", ignore_errors=True)
    run_clickhouse_script(
        spark,
        """
CREATE TABLE samp_memo_t (k Int64)
ENGINE = MergeTree ORDER BY k SAMPLE BY intHash32(k);
INSERT INTO samp_memo_t SELECT number FROM numbers(100);
""",
        overwrite_existing=True,
    )
    s1 = transpile(
        "SELECT count() AS n FROM samp_memo_t SAMPLE 10",
        engine_info=_ddl.lookup_engine_info,
    )
    assert "/ GREATEST(CAST(1 AS BIGINT), 100)" in s1
    run_clickhouse_script(
        spark,
        "INSERT INTO samp_memo_t SELECT number + 100 "
        "FROM numbers(50);",
    )
    s2 = transpile(
        "SELECT count() AS n FROM samp_memo_t SAMPLE 10",
        engine_info=_ddl.lookup_engine_info,
    )
    assert "/ GREATEST(CAST(1 AS BIGINT), 150)" in s2
    spark.sql("DROP TABLE IF EXISTS samp_memo_t")
    # near the top of the keyspace the width clamps: the slice never
    # wraps, so everything it returns hashes >= the offset bound
    n_top = spark.sql(
        transpile(
            f"SELECT count() AS n FROM samp_t SAMPLE {total * 10} "
            "OFFSET 9/10",
            engine_info=_ddl.lookup_engine_info,
        )
    ).collect()[0].n
    assert 0 < n_top < total * 0.2


def test_script_schema_evolution_statements(spark):
    """r6: ALTER TABLE ADD/DROP/MODIFY/RENAME COLUMN, RENAME TABLE,
    TRUNCATE through run_clickhouse_script — ClickHouse default-fill
    semantics (type defaults / DEFAULT expr, not NULL)."""
    import shutil

    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    spark.sql("DROP TABLE IF EXISTS sev_t")
    spark.sql("DROP TABLE IF EXISTS sev_renamed")
    # clear stale warehouse locations a previously-failed run may
    # have left (the catalog is per-session; the directory is not)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for n in ("sev_t", "sev_renamed"):
        shutil.rmtree(f"{wh}/{n}", ignore_errors=True)
    run_clickhouse_script(
        spark,
        "CREATE TABLE sev_t (k UInt64, v Float64) "
        "ENGINE = MergeTree ORDER BY k;",
        overwrite_existing=True,
    )
    spark.sql("INSERT INTO sev_t VALUES (1, 1.5), (2, 2.5)")
    run_clickhouse_script(spark, """
        ALTER TABLE sev_t ADD COLUMN tag String;
        ALTER TABLE sev_t ADD COLUMN bonus Float64 DEFAULT v * 2;
        ALTER TABLE sev_t MODIFY COLUMN k Int32;
        ALTER TABLE sev_t RENAME COLUMN v TO val;
    """)
    rows = {r.k: r for r in spark.table("sev_t").collect()}
    assert dict(spark.table("sev_t").dtypes)["k"] == "int"
    assert rows[1].tag == "" and rows[2].tag == ""  # CH type default
    assert rows[1].bonus == 3.0 and rows[2].bonus == 5.0
    assert rows[1].val == 1.5
    # IF NOT EXISTS / IF EXISTS are no-ops on conflicts
    run_clickhouse_script(spark, """
        ALTER TABLE sev_t ADD COLUMN IF NOT EXISTS tag String;
        ALTER TABLE sev_t DROP COLUMN IF EXISTS missing_col;
    """)
    # plain conflicts raise
    with pytest.raises(DialectError, match="already exists"):
        run_clickhouse_script(
            spark, "ALTER TABLE sev_t ADD COLUMN tag String;"
        )
    with pytest.raises(DialectError, match="does not exist"):
        run_clickhouse_script(
            spark, "ALTER TABLE sev_t DROP COLUMN missing_col;"
        )
    run_clickhouse_script(spark, """
        ALTER TABLE sev_t DROP COLUMN bonus;
        TRUNCATE TABLE sev_t;
        RENAME TABLE sev_t TO sev_renamed;
    """)
    assert spark.table("sev_renamed").count() == 0
    assert spark.table("sev_renamed").columns == ["k", "val", "tag"]
    assert not spark.catalog.tableExists("sev_t")
    with pytest.raises(DialectError, match="does not exist"):
        run_clickhouse_script(spark, "TRUNCATE TABLE sev_gone;")
    run_clickhouse_script(spark, "TRUNCATE TABLE IF EXISTS sev_gone;")
    spark.sql("DROP TABLE IF EXISTS sev_renamed")


def test_script_create_view_is_session_scoped(spark, sf_dir):
    """CREATE [OR REPLACE] VIEW in a script becomes a session (temp)
    view — the script's sources are session views and Spark refuses
    persistent views over temporary objects."""
    from clickhouse_vs_dbt_spark.catalog import register_views
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    register_views(spark, sf_dir, ("orders",))
    res = run_clickhouse_script(spark, """
    CREATE OR REPLACE VIEW v_test_years AS
    SELECT toYear(o_orderdate) AS yr, count() AS n
    FROM orders GROUP BY yr;
    SELECT count(*) AS ny FROM v_test_years;
    DROP VIEW v_test_years;
    """)
    assert res[0] == ("view", "v_test_years")
    assert res[1][1].collect()[0].ny >= 7


def test_probe3_scalar_family_values(spark):
    """r6 probe batch 3: URL-cut family, dateName, bit tests/rotates,
    array rotate/jaccard, ngrams, formatReadable*, exact-low/high
    quantiles — value-pinned."""
    row = spark.sql(
        transpile(
            "SELECT "
            "cutQueryString('http://e.com/p?a=1#f') AS cq, "
            "cutFragment('http://e.com/p?a=1#f') AS cf, "
            "cutWWW('https://www.ex.org/p') AS cw, "
            "extractURLParameter('http://e.com/?a=1&b=2', 'b') AS ep, "
            "extractURLParameter('http://e.com/?a=1', 'z') AS em, "
            "queryStringAndFragment('http://e.com/?a=1#fr') AS qf, "
            "port('http://e.com:8123/x') AS pt, "
            "port('http://e.com/x') AS p0, "
            "firstSignificantSubdomain('https://news.yandex.com.tr/') AS fs, "
            "firstSignificantSubdomain('https://a.b.example.org/') AS fs2, "
            "monthName(CAST('2024-03-05' AS DATE)) AS mn, "
            "dateName('weekday', CAST('2024-03-05' AS DATE)) AS wd, "
            "bitTest(5, 0) AS bt0, bitTest(5, 1) AS bt1, "
            "bitTestAll(5, 0, 2) AS bta, bitTestAny(5, 1, 2) AS btn, "
            "bitRotateLeft(1, 2) AS brl, "
            "intExp2(10) AS ie2, intExp10(3) AS ie10, "
            "arrayRotateLeft([1, 2, 3, 4], 1) AS arl, "
            "arrayJaccardIndex([1, 2, 3], [2, 3, 4]) AS aj, "
            "ngrams('abcd', 2) AS ng, "
            "ngrams('a', 3) AS ng0, "
            "splitByWhitespace('  a  b c ') AS sw, "
            "splitByRegexp('[0-9]+', 'a1b22c') AS sr, "
            "formatReadableSize(1536) AS frs, "
            "formatReadableQuantity(1500000) AS frq, "
            "formatReadableSize(1047552) AS frs2, "
            "formatReadableQuantity(10000000000000000) AS frq2, "
            "cutQueryStringAndFragment('http://e.com/p?a=1#f') AS cqf, "
            "cutQueryStringAndFragment('http://e.com/p#frag') AS cqf2, "
            "toISOYear(CAST('2021-01-01' AS DATE)) AS iy, "
            "toISOYear(CAST('2024-06-15' AS DATE)) AS iy2, "
            "substringIndex('a.b.c', '.', 2) AS si, "
            "toStartOfSecond(CAST('2024-01-01 01:02:03.456' AS TIMESTAMP)) AS ss, "
            "toMillisecond(CAST('2024-01-01 01:02:03.456' AS TIMESTAMP)) AS ms"
        )
    ).collect()[0]
    assert row.cq == "http://e.com/p#f" and row.cf == "http://e.com/p?a=1"
    assert row.cw == "https://ex.org/p"
    assert row.ep == "2" and row.em == ""
    assert row.qf == "a=1#fr"
    assert row.pt == 8123 and row.p0 == 0
    assert row.fs == "yandex" and row.fs2 == "example"
    assert row.mn == "March" and row.wd == "Tuesday"
    assert (row.bt0, row.bt1, row.bta, row.btn) == (1, 0, 1, 1)
    assert row.brl == 4 and row.ie2 == 1024 and row.ie10 == 1000
    assert row.arl == [2, 3, 4, 1]
    assert abs(row.aj - 0.5) < 1e-12
    assert row.ng == ["ab", "bc", "cd"] and row.ng0 == []
    assert row.sw == ["a", "b", "c"] and row.sr == ["a", "b", "c"]
    assert row.frs == "1.50 KiB" and row.frq == "1.50 million"
    # no thousands separators (ClickHouse prints none; r6 advice)
    assert row.frs2 == "1023.00 KiB"
    assert row.frq2 == "10.00 quadrillion"
    # '?' and bare-'#' URLs both lose their tail (r6 advice)
    assert row.cqf == "http://e.com/p" and row.cqf2 == "http://e.com/p"
    # ISO week-year: 2021-01-01 belongs to ISO year 2020
    assert row.iy == 2020 and row.iy2 == 2024
    assert row.si == "a.b"
    assert str(row.ss) == "2024-01-01 01:02:03" and row.ms == 456
    # exact-tier quantiles: lower/upper of the two middle elements
    q = spark.sql(
        transpile(
            "SELECT quantileExactLow(0.5)(v) AS lo, "
            "quantileExactHigh(0.5)(v) AS hi "
            "FROM (SELECT explode(array(1, 2, 3, 4)) AS v)"
        )
    ).collect()[0]
    assert (q.lo, q.hi) == (2, 3)
    # r7: toYearWeek modes 0 (Sunday-start, MySQL YEARWEEK) and 3
    # (ISO) transpile; other modes still refuse
    yw = spark.sql(
        transpile(
            "SELECT toYearWeek(CAST('2024-01-03' AS DATE)) AS w0a, "
            "toYearWeek(CAST('2024-01-07' AS DATE)) AS w0b, "
            "toYearWeek(CAST('2023-01-01' AS DATE)) AS w0c, "
            "toYearWeek(CAST('2024-12-31' AS DATE)) AS w0d, "
            "toYearWeek(CAST('2021-01-01' AS DATE), 3) AS w3"
        )
    ).collect()[0]
    # YEARWEEK ground truth: '2024-01-03'→202353 (carryover),
    # '2024-01-07' (first Sunday)→202401, '2023-01-01'→202301,
    # '2024-12-31'→202452; ISO '2021-01-01'→202053
    assert (yw.w0a, yw.w0b, yw.w0c, yw.w0d) == (
        202353, 202401, 202301, 202452,
    )
    assert yw.w3 == 202053
    with pytest.raises(DialectError, match="toISOWeek"):
        transpile("toYearWeek(d, 1)")


def test_probe7_stacked_combinators(spark):
    """r7: stacked combinator suffixes — -ArrayIf, -IfOrNull,
    -DistinctIf, -ForEach, and -If over the second-moment aggregates
    — value-pinned."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW cbt AS SELECT * FROM VALUES "
        "(1, 10.0, array(1, 2), true), (2, 20.0, array(3), false), "
        "(3, 30.0, array(4, 5, 6), true), (1, 40.0, array(), true) "
        "AS t(k, v, a, c)"
    )
    row = spark.sql(
        transpile(
            "SELECT sumArrayIf(a, c) AS sai, minArrayIf(a, c) AS mai, "
            "countIfOrNull(k > 99) AS cio, countIfOrNull(k = 1) AS cio2, "
            "sumIfOrNull(v, k > 99) AS sio, "
            "uniqExactOrNull(k) AS ueo, "
            "sumDistinctIf(k, c) AS sdi, countDistinctIf(k, c) AS cdi, "
            "sumForEach(a) AS sfe, minForEach(a) AS mfe, "
            "maxForEach(a) AS xfe, "
            "corrIf(k, v, c) AS ci, stddevPopIf(v, c) AS sp "
            "FROM cbt"
        )
    ).collect()[0]
    assert row.sai == 18.0 and row.mai == 1
    assert row.cio is None and row.cio2 == 2 and row.sio is None
    assert row.ueo == 3
    assert row.sdi == 4 and row.cdi == 2
    assert row.sfe == [8.0, 7.0, 6.0]
    assert row.mfe == [1.0, 2.0, 6.0] and row.xfe == [4.0, 5.0, 6.0]
    # hand-computed over the c rows (1,10) (3,30) (1,40)
    assert abs(row.ci - (20 / 9) / (0.94280904 * 12.47219129)) < 1e-6
    assert abs(row.sp - 12.47219129) < 1e-6


def test_probe6_scalar_family_values(spark):
    """r7 probe batch 6: arbitrary-interval trunc, interval
    constructors, map family, wide-int casts, timestampadd sugar,
    year-zero day counts, snowflake codecs, misc — value-pinned."""
    row = spark.sql(
        transpile(
            "SELECT "
            "toStartOfInterval(CAST('2024-01-01 01:23:45' AS TIMESTAMP),"
            " INTERVAL 15 MINUTE) AS i15, "
            "toStartOfInterval(CAST('2024-03-07 10:00:00' AS TIMESTAMP),"
            " INTERVAL 1 MONTH) AS im, "
            "CAST('2024-01-01' AS DATE) + toIntervalDay(3) AS ivd, "
            "mapFromArrays(['a','b'], [1,2]) AS mfa, "
            "mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS mf, "
            "mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3)) AS mu, "
            "mapContainsKeyLike(map('abc', 1), 'ab%') AS mck, "
            "JSONExtractRaw('{\"k\":{\"x\":1}}', 'k') AS jer, "
            "toBool(1) AS tb, toInt128(5) AS ti, "
            "timezone() AS tz, "
            "addHours(CAST('2024-01-01 00:00:00' AS TIMESTAMP), 2) AS ah, "
            "subtractWeeks(CAST('2024-01-15' AS DATE), 1) AS sw, "
            "toLastDayOfWeek(CAST('2024-03-07' AS DATE)) AS lw, "
            "toDaysSinceYearZero(CAST('1970-01-01' AS DATE)) AS dsy, "
            "fromDaysSinceYearZero(719528) AS fdy, "
            "moduloOrZero(7, 0) AS mz, max2(1, 2) AS mx, "
            "clamp(5, 1, 3) AS cl, positiveModulo(-3, 5) AS pm, "
            "toDecimalString(3.14159, 3) AS tds, "
            "tokens('a-b c_d!') AS tk, "
            "snowflakeToDateTime(1426860702823350272) AS sf, "
            "formatDateTimeInJodaSyntax(CAST('2024-01-02' AS DATE), "
            "'yyyy-MM') AS jd"
        )
    ).collect()[0]
    assert str(row.i15) == "2024-01-01 01:15:00"
    assert str(row.im) == "2024-03-01 00:00:00"
    assert str(row.ivd) == "2024-01-04"
    assert row.mfa == {"a": 1, "b": 2} and row.mf == {"b": 2}
    assert row.mu == {"a": 1, "b": 9, "c": 3}  # b overwritten by update
    assert row.mck is True
    assert row.jer == '{"x":1}'
    assert row.tb is True and int(row.ti) == 5
    assert row.tz == "UTC"
    assert str(row.ah) == "2024-01-01 02:00:00"
    assert str(row.sw).startswith("2024-01-08")
    assert str(row.lw) == "2024-03-09"  # Saturday of the Sunday week
    assert row.dsy == 719528 and str(row.fdy) == "1970-01-01"
    assert (row.mz, row.mx, row.cl, row.pm) == (0, 2, 3, 2)
    assert row.tds == "3.142"
    assert row.tk == ["a", "b", "c", "d"]
    # ClickHouse's own documented example value
    assert str(row.sf) == "2021-08-15 10:57:56"
    assert row.jd == "2024-01"
    # normalizeUTF8* transpile since r8 (test_normalize_utf8_forms)
    assert "ch_normalize_utf8" in transpile("normalizeUTF8NFC(s)")
    with pytest.raises(DialectError, match="text_langid"):
        transpile("detectLanguage(s)")


def test_explain_statements_route(spark, sf_dir):
    """r7: EXPLAIN SYNTAX returns the transpiled Spark SQL; EXPLAIN
    [PLAN] returns the physical plan; EXPLAIN AST refuses."""
    from clickhouse_vs_dbt_spark.catalog import register_views
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    register_views(spark, sf_dir, ("orders",))
    res = run_clickhouse_script(
        spark,
        "EXPLAIN SYNTAX SELECT countIf(o_totalprice > 100) FROM orders;"
        "EXPLAIN SELECT count() FROM orders;",
    )
    kinds = [k for k, _ in res]
    assert kinds == ["explain", "explain"]
    syntax = res[0][1].collect()[0].explain
    assert "count_if(o_totalprice > 100)" in syntax
    plan = res[1][1].collect()[0][0]
    assert "Physical Plan" in plan or "Aggregate" in plan
    with pytest.raises(DialectError, match="EXPLAIN SYNTAX"):
        run_clickhouse_script(spark, "EXPLAIN AST SELECT 1")


def test_r7_review_fixes(spark, sf_dir, tmp_path):
    """Round-7 self-review batch: -IfMerge single-state form, safe
    range() bounds, non-capturing-group extract, unknown star-modifier
    names, FINAL + SAMPLE combination, Replicated zk-defaults DDL."""
    from clickhouse_vs_dbt_spark import ddl as _ddl
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    # fnIfMerge takes the single already-filtered state
    assert transpile("sumIfMerge(s)") == "sum(s)"
    assert transpile("countIfMerge(c)") == "sum(c)"
    assert transpile("maxIfMerge(s)") == "max(s)"
    with pytest.raises(DialectError, match="single state"):
        transpile("sumIfMerge(s, c)")
    # range(): reversed/negative-step bounds return [] like ClickHouse
    row = spark.sql(
        transpile(
            "SELECT range(5, 3) AS r1, range(10, 0, -2) AS r2, "
            "range(3, 9, 2) AS r3"
        )
    ).collect()[0]
    assert row.r1 == []
    assert row.r2 == [10, 8, 6, 4, 2]
    assert row.r3 == [3, 5, 7]
    # extract(): non-capturing group is NOT a capture group
    row = spark.sql(
        transpile("SELECT extract('abc', '(?:ab)c') AS e")
    ).collect()[0]
    assert row.e == "abc"
    # unknown EXCEPT/REPLACE names raise (ClickHouse errors too)
    from clickhouse_vs_dbt_spark.dialect import catalog_resolver

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW rf_t AS SELECT 1 AS a, 2 AS b"
    )
    with pytest.raises(DialectError, match="not in the relation"):
        transpile(
            "SELECT * REPLACE (a + 1 AS a_typo) FROM rf_t",
            resolve_columns=catalog_resolver(spark),
        )
    # FINAL + SAMPLE: sample slice of the collapsed relation
    src = tmp_path / "fs_t"
    spark.createDataFrame(
        [(i, float(i), 1) for i in range(1, 41)]
        + [(1, 99.0, 2)],  # replacing update for key 1
        "k long, v double, ver long",
    ).write.mode("overwrite").parquet(str(src))
    res = run_clickhouse_script(
        spark,
        """
CREATE TABLE fs_t (k UInt64, v Float64, ver UInt64)
ENGINE = ReplacingMergeTree(ver) ORDER BY k
SAMPLE BY intHash32(k);
SELECT count() AS n, max(v) AS mx FROM fs_t FINAL SAMPLE 1/1;
""",
        path_overrides={"fs_t": str(src)},
        overwrite_existing=True,
    )
    r = res[-1][1].collect()[0]
    assert r.n == 40  # full-width sample of the COLLAPSED relation
    assert r.mx == 99.0  # key 1 carries its max-version value
    # Replicated zk-defaults form: version column survives
    _ddl.transpile_ddl(
        "CREATE TABLE rzk (k UInt64, ver UInt64) "
        "ENGINE = ReplicatedReplacingMergeTree(ver) ORDER BY k"
    )
    info = _ddl.lookup_engine_info("rzk")
    assert info.engine == "ReplacingMergeTree" and info.version == "ver"
    with pytest.raises(_ddl.DialectError, match="value type"):
        _ddl.convert_type("AggregateFunction(sum)")


def test_dictionary_dictget(spark, sf_dir):
    """r7: CREATE DICTIONARY + dictGet/dictGetOrDefault/dictHas —
    correlated scalar subqueries decorrelated into broadcast joins;
    refusals for unknown dictionaries/attributes."""
    from clickhouse_vs_dbt_spark.catalog import register_views
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    register_views(spark, sf_dir, ("nation", "customer"))
    res = run_clickhouse_script(
        spark,
        """
CREATE DICTIONARY nd_t (n_nationkey UInt64, n_name String,
  n_regionkey UInt64)
PRIMARY KEY n_nationkey
SOURCE(CLICKHOUSE(TABLE 'nation'))
LAYOUT(FLAT()) LIFETIME(300);

SELECT c_custkey,
       dictGet('nd_t', 'n_name', c_nationkey) AS nation,
       dictGetOrDefault('nd_t', 'n_name', 9999, 'missing') AS dflt,
       dictHas('nd_t', c_nationkey) AS has_key,
       dictHas('nd_t', 9999) AS has_missing
FROM customer ORDER BY c_custkey LIMIT 2;
""",
    )
    assert res[0][0] == "dictionary"
    rows = res[-1][1].collect()
    assert all(r.nation.startswith("NATION_") for r in rows)
    assert all(r.dflt == "missing" for r in rows)
    assert all(r.has_key and not r.has_missing for r in rows)
    # the lookup plans as a broadcast join, not a per-row probe
    plan = res[-1][1]._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    with pytest.raises(DialectError, match="not registered"):
        transpile("SELECT dictGet('nope', 'a', k) FROM t")
    with pytest.raises(DialectError, match="no attribute"):
        transpile("SELECT dictGet('nd_t', 'bogus', k) FROM t")


def test_system_tables(spark):
    """r7: system.one maps to the one-row dual; unbounded/introspection
    system tables refuse with pointers."""
    assert spark.sql(
        transpile("SELECT 41 + 1 AS x FROM system.one")
    ).collect()[0].x == 42
    with pytest.raises(DialectError, match="numbers\\(n\\)"):
        transpile("SELECT number FROM system.numbers LIMIT 5")
    with pytest.raises(DialectError, match="introspection"):
        transpile("SELECT count() FROM system.parts")


def test_ternary_and_in_table(spark):
    """r7: C-style ternary (ClickHouse precedence: ?: below AND/OR)
    and `x IN table` implicit-subquery form."""
    from clickhouse_vs_dbt_spark.dialect import catalog_resolver

    assert transpile("SELECT a ? b : c FROM t") == (
        "SELECT IF(a, b, c) FROM t"
    )
    # ?: binds looser than AND on both sides
    assert transpile("SELECT a AND b ? x : y AND z FROM t") == (
        "SELECT IF(a AND b, x, y AND z) FROM t"
    )
    r = spark.sql(
        transpile(
            "SELECT 5 > 3 ? 'yes' : 'no' AS v, "
            "1 = 2 ? (3 > 2 ? 'a' : 'b') : 'c' AS w"
        )
    ).collect()[0]
    assert (r.v, r.w) == ("yes", "c")
    with pytest.raises(DialectError, match="ternary"):
        transpile("SELECT a ? b FROM t")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW in_keys AS "
        "SELECT 2 AS k UNION ALL SELECT 4"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW in_src AS "
        "SELECT explode(sequence(1, 5)) AS k"
    )
    res = catalog_resolver(spark)
    got = [
        r.k
        for r in spark.sql(
            transpile(
                "SELECT k FROM in_src WHERE k IN in_keys ORDER BY k",
                resolve_columns=res,
            )
        ).collect()
    ]
    assert got == [2, 4]
    got = [
        r.k
        for r in spark.sql(
            transpile(
                "SELECT k FROM in_src WHERE k NOT IN in_keys "
                "ORDER BY k",
                resolve_columns=res,
            )
        ).collect()
    ]
    assert got == [1, 3, 5]
    # a non-table identifier on the right of IN is left untouched
    assert "zzz_x" in transpile(
        "SELECT k IN zzz_x FROM in_src", resolve_columns=res
    )


def test_lightweight_delete(spark, tmp_path):
    """r7: ClickHouse 23+ lightweight DELETE FROM t WHERE ... routes
    to the same copy-on-write mutation as ALTER TABLE ... DELETE."""
    from clickhouse_vs_dbt_spark.dialect import run_clickhouse_script

    src = tmp_path / "lwdel"
    spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "k long, v double"
    ).write.mode("overwrite").parquet(str(src))
    res = run_clickhouse_script(
        spark,
        """
CREATE TABLE lwdel (k UInt64, v Float64) ENGINE = MergeTree ORDER BY k;
DELETE FROM lwdel WHERE k = 2;
SELECT k FROM lwdel ORDER BY k;
""",
        path_overrides={"lwdel": str(src)},
        overwrite_existing=True,
    )
    assert res[1][0] == "mutation"
    assert [r.k for r in res[-1][1].collect()] == [1, 3]


def test_r8_uniq_quantile_state_merge(spark):
    """r8: the last -State/-Merge refusals closed — uniqState →
    portable HLL code-set state, quantile[Exact]State → exact sorted
    multiset, quantileTimingState → run-length 1ms-binned state.
    Value checks against the exact aggregates they approximate."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sm_t AS "
        "SELECT id % 4 AS g, id % 7 AS sg, id AS k, "
        "CAST(id AS DOUBLE) * 1.5 AS v FROM range(2000)"
    )
    q = transpile(
        """
SELECT g, uniqMerge(u) AS uc,
       quantileMerge(0.9)(q) AS p90,
       quantileExactMerge(0.5)(q) AS p50,
       quantileTimingMerge(0.5)(qt) AS tmed
FROM (SELECT g, sg, uniqState(k) AS u, quantileState(v) AS q,
             quantileTimingState(v) AS qt
      FROM sm_t GROUP BY g, sg)
GROUP BY g ORDER BY g
"""
    )
    rows = {r.g: r for r in spark.sql(q).collect()}
    exact = {
        r.g: r
        for r in spark.sql(
            "SELECT g, count(DISTINCT k) AS uc, percentile(v, 0.9) AS "
            "p90, percentile(v, 0.5) AS p50 FROM sm_t GROUP BY g"
        ).collect()
    }
    for g in range(4):
        # HLL estimate within 20% of exact (p=8 → ~6.5% typical)
        assert abs(rows[g].uc - exact[g].uc) / exact[g].uc < 0.20
        # sorted-multiset interpolation is EXACT percentile semantics
        assert rows[g].p90 == exact[g].p90
        assert rows[g].p50 == exact[g].p50
        # timing: discrete 1ms-binned read-off lands within one value
        # spacing (6 here: v = 1.5·id over id stepping 4) of the
        # interpolated median
        assert abs(rows[g].tmed - exact[g].p50) <= 6.0
    # merge algebra: merging per-subgroup states == direct state
    d = transpile(
        "SELECT g, uniqMerge(u) AS uc FROM (SELECT g, uniqState(k) "
        "AS u FROM sm_t GROUP BY g) GROUP BY g ORDER BY g"
    )
    assert [r.uc for r in spark.sql(d).collect()] == [
        rows[g].uc for g in range(4)
    ]
    # -If masks at State creation; Merge takes only the state
    qi = transpile(
        "SELECT uniqMerge(u) AS uc, quantileMerge(0.5)(q) AS p50 "
        "FROM (SELECT uniqIfState(k, k < 100) AS u, "
        "quantileIfState(v, k < 100) AS q FROM sm_t)"
    )
    r = spark.sql(qi).collect()[0]
    assert abs(r.uc - 100) <= 20 and r.p50 == 74.25
    # MergeState re-emits a mergeable state
    qm = transpile(
        "SELECT uniqMerge(u2) AS uc FROM (SELECT uniqMergeState(u) "
        "AS u2 FROM (SELECT g, uniqState(k) AS u FROM sm_t "
        "GROUP BY g))"
    )
    full = spark.sql(
        transpile("SELECT uniqMerge(u) AS uc FROM (SELECT uniqState(k)"
                  " AS u FROM sm_t)")
    ).collect()[0].uc
    assert spark.sql(qm).collect()[0].uc == full
    # other byte-state registers still refuse with updated guidance
    # argMax/argMin transpile since r9 (test_r9_argmax_state_merge);
    # topK's byte register is the remaining refusal
    with pytest.raises(DialectError, match="ARE transpiled"):
        transpile("SELECT topKState(x) FROM t")


def test_r8_sequence_match_guards(spark):
    """r8: sequenceMatch adjacency + single-sided time guards via the
    generalized extremal-anchor fold; CH's documented visibility rule
    (events matching no supplied condition are invisible; an extra
    supplied condition makes them chain-breakers)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW seq8_t AS SELECT u, "
        "CAST(ts AS TIMESTAMP) AS ts, e FROM VALUES "
        "(1, 1, 'A'), (1, 2, 'B'), (1, 3, 'C'), "
        "(2, 1, 'A'), (2, 2, 'C'), (2, 3, 'B'), "
        "(3, 1, 'A'), (3, 100, 'B') AS t(u, ts, e)"
    )

    def run(pat, conds="e = 'A', e = 'B'"):
        q = transpile(
            f"SELECT u, sequenceMatch('{pat}')(ts, {conds}) AS m "
            "FROM seq8_t GROUP BY u ORDER BY u"
        )
        return [r.m for r in spark.sql(q).collect()]

    # bare adjacency: C is invisible with 2 conditions...
    assert run("(?1)(?2)") == [1, 1, 1]
    # ...and breaks the chain once supplied as a condition (the CH
    # docs' number=1,2,3 example shape)
    assert run("(?1)(?2)", "e = 'A', e = 'B', e = 'C'") == [1, 0, 1]
    # upper-bound guard: subsequence within the window
    assert run("(?1)(?t<5)(?2)") == [1, 1, 0]
    assert run("(?1)(?t<=99)(?2)") == [1, 1, 1]
    # lower-bound guard: at least N seconds apart
    assert run("(?1)(?t>10)(?2)") == [0, 0, 1]
    # repeated ref: two A's — none of these users has two
    assert run("(?1).*(?1)", "e = 'A'") == [0, 0, 0]
    # reordered refs
    assert run("(?2).*(?1)") == [0, 0, 0]
    # two-sided guards (anchor-list fold, r8): A→B gaps are u1=1s,
    # u2=2s (C invisible), u3=99s; strict window (1, 5) admits u2 only
    assert run("(?1)(?t<5)(?t>1)(?2)") == [0, 1, 0]
    assert run("(?1)(?t<=5)(?t>=1)(?2)") == [1, 1, 0]
    # exact-gap guard
    assert run("(?1)(?t==1)(?2)") == [1, 0, 0]
    assert run("(?1)(?t==99)(?2)") == [0, 0, 1]
    # refusals: dangling guards, out-of-range ref
    for bad, msg in [
        ("(?t<5)(?1)(?2)", "before the first"),
        ("(?1)(?2)(?t<5)", "after the last"),
        ("(?1)(?9)", r"\(\?9\)"),
    ]:
        with pytest.raises(DialectError, match=msg):
            run(bad)


def test_r8_probe_scalar_batch(spark):
    """r8 probe batch: -Stable statistics, bit aggregates, sumKahan,
    groupBitmap, maxIntersections, date/round/UUID/map/JSON scalars,
    great-circle distance — value-pinned."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW p8_t AS SELECT id AS k, "
        "CAST(id AS DOUBLE) AS x, CAST(id * 2 AS DOUBLE) AS y "
        "FROM range(1, 11)"
    )

    def one(expr, view="p8_t"):
        return spark.sql(
            transpile(f"SELECT {expr} AS r FROM {view}")
        ).collect()[0].r

    # -Stable family → the plain estimators
    assert one("corrStable(x, y)") == pytest.approx(1.0)
    assert one("varPopStable(x)") == pytest.approx(8.25)
    assert one("stddevSampStable(x)") == pytest.approx(3.0276503540975)
    # bit aggregates / bitmap cardinality
    assert one("groupBitAnd(k)") == 0
    assert one("groupBitOr(k)") == 15
    assert one("groupBitXor(k)") == 11
    assert one("groupBitmap(k % 3)") == 3
    # sumKahan: decimal-exact sum back to double
    assert one("sumKahan(x)") == 55.0
    # skew/kurt sample variants (vs population scaling)
    import math

    pop_over_samp = 8.25 / spark.sql(
        "SELECT var_samp(x) AS v FROM p8_t"
    ).collect()[0].v
    assert one("skewSamp(x)") == pytest.approx(
        one("skewPop(x)") * pop_over_samp ** 1.5
    )
    assert one("kurtSamp(x)") == pytest.approx(
        one("kurtPop(x)") * pop_over_samp ** 2
    )
    # maxIntersections: [1,5) [2,6) [5,9) → peak 2 (half-open)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW iv_t AS SELECT * FROM VALUES "
        "(1, 5), (2, 6), (5, 9) AS t(s, e)"
    )
    assert one("maxIntersections(s, e)", "iv_t") == 2
    # scalars
    assert transpile("dateTrunc('month', d)") == "date_trunc('month', d)"
    assert one("toUnixTimestamp(CAST('1970-01-02 00:00:00' AS "
               "TIMESTAMP)) + 0 + k - k") == 86400
    assert str(one("toTime(CAST('2024-05-06 07:08:09' AS TIMESTAMP))")
               ) == "1970-01-02 07:08:09"
    assert one("ifNotFinite(CAST('Infinity' AS DOUBLE), -1.0)") == -1.0
    assert one("ifNotFinite(x, -1.0) + 0 * k") != -1.0
    assert one("roundToExp2(100)") == 64
    assert one("roundToExp2(0.3)") == 0
    assert one("roundDuration(250)") == 240
    assert one("roundDuration(0)") == 0
    assert one("roundAge(30)") == 25
    assert one("roundAge(60)") == 55
    u = "123e4567-E89B-12d3-a456-426614174000"
    assert one(f"toUUIDOrNull('{u}')") == u.lower()
    assert one("toUUIDOrNull('nope')") is None
    # map / JSON
    assert one("mapAdd(map('a', 1, 'b', 2), map('b', 3, 'c', 4))") == {
        "a": 1, "b": 5, "c": 4,
    }
    kv = one("JSONExtractKeysAndValues('{\"a\": 7, \"b\": 8}', 'Int64')")
    assert [(r["key"], r["value"]) for r in kv] == [("a", 7), ("b", 8)]
    assert one("JSONArrayLength('[1, 2, 3]')") == 3
    # great-circle: identical points → 0; quarter-meridian sanity
    assert one("greatCircleDistance(0.0, 0.0, 0.0, 0.0)") == 0.0
    quarter = one("greatCircleDistance(0.0, 0.0, 0.0, 90.0)")
    assert quarter == pytest.approx(6372797.560856 * math.pi / 2)
    # regexp/translate/initcap renames
    assert one("regexpExtract('ab12', '([0-9]+)', 1)") == "12"
    assert one("translateUTF8('abc', 'ab', 'xy')") == "xyc"
    assert one("initcapUTF8('hi there')") == "Hi There"
    # model-backed NLP refuses with pointers
    with pytest.raises(DialectError, match="model-backed"):
        transpile("SELECT lemmatize('en', s) FROM t")


def test_r8_window_funnel_modes(spark):
    """r8: windowFunnel 'strict_order'/'strict_dedup'/
    'strict_increase' modes — value-pinned on crafted sequences
    (CH's documented break rules; see _window_funnel_modes_fold)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW wf8_t AS SELECT u, "
        "CAST(ts AS TIMESTAMP) AS ts, e FROM VALUES "
        "(1, 1, 'V'), (1, 2, 'C'), (1, 3, 'P'), "      # clean chain
        "(2, 1, 'V'), (2, 2, 'C'), (2, 3, 'X'), (2, 4, 'P'), "
        "(3, 1, 'V'), (3, 2, 'V'), (3, 3, 'C'), (3, 4, 'P'), "
        "(4, 1, 'V'), (4, 2, 'C'), (4, 3, 'C'), (4, 4, 'P'), "
        "(5, 1, 'P'), (5, 2, 'V'), (5, 3, 'C'), (5, 4, 'P') "
        "AS t(u, ts, e)"
    )

    def run(modes=""):
        q = transpile(
            f"SELECT u, windowFunnel(100{modes})(ts, e = 'V', "
            "e = 'C', e = 'P') AS l FROM wf8_t GROUP BY u ORDER BY u"
        )
        return [r.l for r in spark.sql(q).collect()]

    assert run() == [3, 3, 3, 3, 3]
    # strict_order: the X event breaks u2 at level 2; an early
    # out-of-order P (u5) before the first V does NOT break (chain
    # not started); repeats refresh, never break
    assert run(", 'strict_order'") == [3, 2, 3, 3, 3]
    # strict_dedup: a repeat of an already-reached condition freezes
    # (u3: second view at level 1; u4: second click at level 2); a
    # purchase BEFORE its predecessor level is reached neither kills
    # nor counts (u5 completes)
    assert run(", 'strict_dedup'") == [3, 3, 1, 2, 3]
    # deprecated alias
    assert run(", 'strict'") == [3, 3, 1, 2, 3]
    # strict_increase: with unique timestamps == base
    assert run(", 'strict_increase'") == [3, 3, 3, 3, 3]
    # ...but equal timestamps cannot chain under it
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW wf8_tie AS SELECT u, "
        "CAST(ts AS TIMESTAMP) AS ts, e FROM VALUES "
        "(1, 1, 'V'), (1, 1, 'C'), (1, 2, 'P') AS t(u, ts, e)"
    )
    q = transpile(
        "SELECT u, windowFunnel(100, 'strict_increase')(ts, e = 'V', "
        "e = 'C', e = 'P') AS l FROM wf8_tie GROUP BY u"
    )
    assert spark.sql(q).collect()[0].l == 1
    # combined modes and refusal of unknown modes
    assert run(", 'strict_order', 'strict_increase'") == [3, 2, 3, 3, 3]
    with pytest.raises(DialectError, match="unknown windowFunnel"):
        run(", 'strict_nonsense'")


def test_r8_scalar_batch2(spark):
    """Pass-through-audit batch: names ClickHouse resolves but Spark
    lacks — libm specials via Arrow compat UDFs, date-shift family,
    age(), array shingles/AUC, CASE-function, fixed strings, group
    extraction; refusals for the non-deterministic aggregates."""
    import math

    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat
    from clickhouse_vs_dbt_spark.dialect import (
        DialectError,
        transpile,
    )

    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b2t AS SELECT 1.5 AS x, "
        "CAST('2024-03-15' AS DATE) AS d, "
        "CAST('2024-01-05 10:20:00' AS TIMESTAMP) AS ts, "
        "'hello world' AS s, array(0.1, 0.4, 0.35, 0.8) AS sc, "
        "array(0, 0, 1, 1) AS lb, array(1, 2, 3, 4, 5) AS a"
    )

    def one(expr):
        return spark.sql(transpile(f"SELECT {expr} AS r FROM b2t")).first().r

    assert abs(one("erf(x)") - math.erf(1.5)) < 1e-12
    assert abs(one("erfc(x)") - math.erfc(1.5)) < 1e-12
    assert abs(one("lgamma(x)") - math.lgamma(1.5)) < 1e-12
    assert abs(one("tgamma(x)") - math.gamma(1.5)) < 1e-12
    assert abs(one("sigmoid(x)") - 1 / (1 + math.exp(-1.5))) < 1e-12
    assert str(one("subtractMonths(d, 2)")) == "2024-01-15"
    assert str(one("subtractYears(d, 1)")) == "2023-03-15"
    # age counts COMPLETE months: Jan 5 -> Mar 15 spans 2 full months
    assert one("age('month', toDate(ts), d)") == 2
    slots = one("timeSlots(ts, 3600)")
    assert [s.strftime("%H:%M") for s in slots] == [
        "10:00", "10:30", "11:00",
    ]
    assert one("arrayShingles(a, 2)") == [
        [1, 2], [2, 3], [3, 4], [4, 5],
    ]
    assert one("arrayShingles(a, 9)") == []
    # pos scores {.35, .8} vs neg {.1, .4}: 3 of 4 pairs ordered
    assert abs(one("arrayAUC(sc, lb)") - 0.75) < 1e-12
    assert one("caseWithExpression(x, 1.5, 'a', 'z')") == "a"
    assert one("toFixedString(s, 15)") == "hello world\x00\x00\x00\x00"
    assert one("extractGroups(s, '(h\\\\w+) (w\\\\w+)')") == [
        "hello", "world",
    ]
    assert one("extractGroups(s, '(zz)(yy)')") == []
    assert one("singleValueOrNull(x)") == 1.5
    # CH contract: one DISTINCT non-NULL value across N>1 rows still
    # yields the value; two distinct values yield NULL (ADVICE r8 —
    # the old row-count form returned NULL for the first case)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW svn_t AS "
        "SELECT * FROM VALUES ('a', 7), ('a', 7), ('a', NULL), "
        "('b', 1), ('b', 2), ('c', CAST(NULL AS INT)) AS t(g, v)"
    )
    svn = {
        r.g: r.sv
        for r in spark.sql(
            transpile(
                "SELECT g, singleValueOrNull(v) AS sv FROM svn_t "
                "GROUP BY g"
            )
        ).collect()
    }
    assert svn == {"a": 7, "b": None, "c": None}
    assert one("firstValue(x)") == 1.5

    import pytest as _pytest

    for bad, msg in [
        ("groupArrayLast(3)(x)", "insertion order"),
        ("normalizeQuery(s)", "masking"),
        ("extractGroups(s, x)", "literal pattern"),
        ("meanZTest(1.0, 1.0, 1.95)(x, x)", "confidence level"),
    ]:
        with _pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM b2t")


def test_sequence_guard_anchor_fold_bruteforce(spark):
    """Anchor-list fold vs a direct Python DP over deterministic
    event sets: 3-level pattern with a two-sided guard on one link
    and an upper guard on the other."""
    import itertools

    # deterministic battery: all orderings of A/B/C at fixed gaps
    rows = []
    u = 0
    for perm in itertools.permutations([("A", 0), ("B", 3), ("C", 7)]):
        u += 1
        for ev, t in perm:
            rows.append((u, t, ev))
    # plus same-letter repeats with varied gaps
    for gaps in [(0, 2, 4), (0, 6, 12), (0, 1, 9)]:
        u += 1
        rows.append((u, gaps[0], "A"))
        rows.append((u, gaps[1], "B"))
        rows.append((u, gaps[2], "C"))
    values = ", ".join(f"({u}, {t}, '{e}')" for u, t, e in rows)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW seqbf_t AS SELECT u, "
        f"CAST(ts AS TIMESTAMP) AS ts, e FROM VALUES {values} "
        "AS t(u, ts, e)"
    )
    pat = "(?1)(?t<=6)(?t>=2)(?2)(?t<5)(?3)"
    q = transpile(
        f"SELECT u, sequenceMatch('{pat}')(ts, e = 'A', e = 'B', "
        "e = 'C') AS m FROM seqbf_t GROUP BY u ORDER BY u"
    )
    got = {r.u: r.m for r in spark.sql(q).collect()}

    def brute(events):
        evs = sorted(events)  # (t, e), all relevant here
        # anchors[i] = times completing refs 1..i+1
        anchors = [[], [], []]
        for t, e in evs:
            if e == "C":
                if any(t - a < 5 for a in anchors[1]):
                    anchors[2].append(t)
            if e == "B":
                if any(2 <= t - a <= 6 for a in anchors[0]):
                    anchors[1].append(t)
            if e == "A":
                anchors[0].append(t)
        return 1 if anchors[2] else 0

    by_user: dict[int, list] = {}
    for uu, t, e in rows:
        by_user.setdefault(uu, []).append((t, e))
    for uu, evs in by_user.items():
        assert got[uu] == brute(evs), (uu, sorted(evs))


def test_r8_scalar_batch3(spark):
    """Vector math, array HOFs, token/MJD/week scalars from the
    second pass-through audit — value-pinned."""
    import math

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b3t AS SELECT "
        "CAST(array(3.0, 1.0, 2.0) AS ARRAY<DOUBLE>) AS a, "
        "CAST(array(1.0, 0.0, 2.0) AS ARRAY<DOUBLE>) AS b, "
        "CAST(array() AS ARRAY<DOUBLE>) AS empty, "
        "'hello world_x foo' AS s, "
        "CAST('2024-01-01' AS DATE) AS jan1, "
        "CAST('2024-01-07' AS DATE) AS jan7, "
        "map('k', 1) AS m, map('z', 9) AS m2"
    )

    def one(expr):
        return spark.sql(transpile(f"SELECT {expr} AS r FROM b3t")).first().r

    assert one("dotProduct(a, b)") == 7.0
    assert one("L1Norm(a)") == 6.0
    assert abs(one("L2Norm(a)") - math.sqrt(14)) < 1e-12
    assert one("LinfNorm(a)") == 3.0
    assert one("L2SquaredNorm(a)") == 14.0
    assert one("L1Distance(a, b)") == 3.0
    assert abs(one("L2Distance(a, b)") - math.sqrt(5)) < 1e-12
    assert one("LinfDistance(a, b)") == 2.0
    assert abs(one("cosineDistance(a, a)")) < 1e-12
    assert one("arrayFold((acc, v) -> acc + v, a, CAST(0 AS DOUBLE))") == 6.0
    assert one("arrayPartialSort(2, a)") == [1.0, 2.0, 3.0]
    # CH example semantics: a cut before the FIRST element is a no-op
    assert one("arraySplit(v -> v > 1.5, a)") == [[3.0, 1.0], [2.0]]
    assert one("arraySplit(v -> v > 1.5, empty)") == []
    assert one("arrayFirstOrNull(v -> v > 1.5, a)") == 3.0
    assert one("arrayLastOrNull(v -> v > 99, a)") is None
    assert one("arrayStringConcat(['x', 'y'])") == "xy"
    assert one("hasSubstr(a, [1.0, 2.0])") is True
    assert one("hasSubstr(a, [2.0, 1.0])") is False
    assert one("hasSubstr(a, empty)") is True
    # MySQL WEEK mode 0: week 0 before the year's first Sunday
    assert one("toWeek(jan1)") == 0
    assert one("toWeek(jan7)") == 1
    assert one("toWeek(jan1, 3)") == 1
    assert one("toModifiedJulianDay('2024-01-05')") == 60314
    assert str(one("fromModifiedJulianDay(60314)")) == "2024-01-05"
    assert one("leftPadUTF8(s, 20)").startswith("   hello")
    assert one("mapConcat(m, m2)") == {"k": 1, "z": 9}
    assert (
        one("toUUID('123e4567-E89B-12d3-a456-426614174000')")
        == "123e4567-e89b-12d3-a456-426614174000"
    )
    # CH splits tokens on every non-alphanumeric ASCII byte — '_' is
    # a separator (ADVICE r8), so 'world' IS a token of 'world_x' and
    # an underscore needle is rejected like CH's "needle must not
    # contain separators" error
    assert one("hasToken(s, 'world')") is True
    assert one("hasToken(s, 'worl')") is False
    with pytest.raises(DialectError, match="ASCII alphanumeric"):
        transpile("SELECT hasToken(s, 'world_x') FROM b3t")
    # …but non-ASCII bytes are TOKEN characters, not separators
    # (ADVICE r9): 'fooé' does not contain the token 'foo'
    assert one("hasToken('fooé bar', 'foo')") is False
    assert one("hasToken('éfoo', 'foo')") is False
    assert one("hasToken('foo ému', 'foo')") is True
    assert one("formatReadableDecimalSize(123456)") == "123.46 KB"
    assert one("parseTimeDelta('1h30m')") == 5400.0
    assert one("multiSearchFirstIndex(s, ['lo', 'wo'])") == 1
    assert one("multiSearchFirstIndex(s, ['zz', 'wo'])") == 2
    assert one("multiSearchFirstIndex(s, ['zz'])") == 0

    for bad, msg in [
        ("nonNegativeDerivative(a, s)", "block"),
        ("nowInBlock()", "per ClickHouse block"),
        ("serverUUID()", "server instance"),
        ("mapApply(m)", "exactly"),
        ("mapApply(k -> k, m)", "two parameters"),
        ("mapApply((k, v) -> k, m)", "tuple"),
        ("hasToken(s, s)", "literal token"),
        ("parseTimeDelta(s)", "literal duration"),
        ("toWeek(jan1, 7)", "mode 7"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM b3t")


def test_r8_scalar_batch4(spark):
    """Aggregate/JSON audit batch: groupConcat, Map-typed -Map forms,
    matrix aggregates, exclusive/inclusive exact quantiles, GK
    register, JSON keys/bool, boundingRatio zero-range."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b4t AS SELECT "
        "CAST(id AS DOUBLE) AS x, CAST(id * 2 AS DOUBLE) AS y, "
        "CAST(id AS STRING) AS s, "
        "map('a', CAST(id AS DOUBLE), 'b', 2.0) AS m, "
        "array(CAST(id AS DOUBLE), 99.0) AS arr, "
        "'{\"a\": [1, 2], \"b\": true}' AS j FROM range(1, 5)"
    )

    def one(expr):
        return spark.sql(transpile(f"SELECT {expr} AS r FROM b4t")).first().r

    assert one("groupConcat(s, ',')") == "1,2,3,4"
    assert one("sumMap(m)") == {"a": 10.0, "b": 8.0}
    assert one("maxMap(m)") == {"a": 4.0, "b": 2.0}
    assert one("minMap(m)") == {"a": 1.0, "b": 2.0}
    assert one("groupArrayIntersect(arr)") == [99.0]
    assert one("corrMatrix(x, y)") == [[1.0, 1.0], [1.0, 1.0]]
    assert one("covarPopMatrix(x, x)") == [[1.25, 1.25], [1.25, 1.25]]
    # type-7 (INC) vs type-6 (EXC) interpolation on [1, 2, 3, 4]
    assert one("quantileExactInclusive(0.25)(x)") == 1.75
    assert one("quantileExactExclusive(0.25)(x)") == 1.25
    assert one("quantilesExactInclusive(0.25, 0.75)(x)") == [1.75, 3.25]
    assert one("quantilesExactExclusive(0.25, 0.75)(x)") == [1.25, 3.75]
    # EXC clamps outside [1/(n+1), n/(n+1)]
    assert one("quantileExactExclusive(0.01)(x)") == 1.0
    assert one("quantileExactExclusive(0.99)(x)") == 4.0
    assert 1.0 <= one("quantileGK(100, 0.5)(x)") <= 4.0
    assert one("JSONExtractKeys(j)") == ["a", "b"]
    assert one("JSONExtractBool(j, 'b')") is True
    # CH returns false (not an error, not NULL) for non-bool values
    assert one("JSONExtractBool(j, 'a')") is False
    assert one("boundingRatio(x, y)") == 2.0
    assert one("boundingRatio(y - y, x)") is None  # zero x-range
    assert (
        one("cutToFirstSignificantSubdomain("
            "'https://a.b.example.co.uk/x')") == "example.co.uk"
    )
    assert (
        one("cutToFirstSignificantSubdomain("
            "'https://news.example.com/x')") == "example.com"
    )

    for bad, msg in [
        ("sumWithOverflow(x)", "wrap"),  # width-declared forms map, r10
        # path-form JSONType/JSONAllPaths map since r10
        # (test_r10_json_path_walk); the storage-layout introspectors
        # keep refusing
        ("JSONDynamicPaths(j)", "storage layout"),
        ("queryID()", "internals"),
        ("hostName()", "internals"),
        ("quantileInterpolatedWeighted(0.5)(x, 1)", "ExactWeighted"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM b4t")


def test_r8_scalar_batch5(spark):
    """ngramDistance/ngramSearch exact 4-gram multiset contracts and
    the mapApply tuple-lambda entry-array rewrite."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b5t AS SELECT "
        "'clickhouse' AS h, 'clickhome' AS n, "
        "map('a', 1, 'b', 2) AS m FROM range(1)"
    )

    def one(expr):
        return spark.sql(transpile(f"SELECT {expr} AS r FROM b5t")).first().r

    # distance: |symdiff| / (|A| + |B|); 7 + 6 grams, 5 shared
    assert round(one("ngramDistance(h, n)"), 6) == 0.384615
    assert one("ngramDistance(h, h)") == 0.0
    assert one("ngramDistanceUTF8(h, h)") == 0.0
    assert one("ngramDistanceCaseInsensitive('ABCD', 'abcd')") == 0.0
    # degenerate (no 4-grams anywhere) → NULL, coalesce to pin
    assert one("ngramDistance('ab', 'cd')") is None
    assert one("coalesce(ngramDistance('ab', 'cd'), 0.0)") == 0.0
    # one-sided empty gram set: 0 shared over |A| + 0
    assert one("ngramDistance(h, 'ab')") == 1.0
    # search: |needle ∩ haystack| / |needle| (non-symmetric)
    assert one("ngramSearch('the quick brown fox', 'quick')") == 1.0
    assert round(
        one("ngramSearch('the quick brown fox', 'quick fox')"), 6
    ) == 0.666667
    assert one("ngramSearch(h, 'zzzz')") == 0.0
    assert one("ngramSearch(h, 'ab')") is None  # empty needle grams
    # multiset counting: repeated grams count with multiplicity
    assert one("ngramDistance('aaaaa', 'aaaa')") == (1.0 / 3.0)
    assert one("ngramSearchCaseInsensitive('ABCDEF', 'bcde')") == 1.0

    assert one("mapApply((k, v) -> (upper(k), v * 10), m)") == {
        "A": 10, "B": 20
    }
    # body may use both params on either slot; nested rewrites run
    assert one(
        "mapApply((k, v) -> (concat(k, toString(v)), v + length(k)), m)"
    ) == {"a1": 2, "b2": 3}


def test_ngram_scalars_differential(spark):
    """ngramDistance/ngramSearch over a seeded battery of string
    pairs, all checked in ONE Spark pass against an independent
    Python multiset reference."""
    import random
    from collections import Counter

    rng = random.Random(81)
    alpha = "abcd "
    pairs = [
        ("".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))),
         "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))))
        for _ in range(40)
    ] + [("", ""), ("abcd", ""), ("aaaa", "aaaaaa"), ("abcde", "abcde")]

    def grams(s):
        return Counter(s[i:i + 4] for i in range(len(s) - 3))

    def ref_dist(h, n):
        a, b = grams(h), grams(n)
        ta, tb = sum(a.values()), sum(b.values())
        if ta + tb == 0:
            return None
        sym = sum(abs(a[g] - b[g]) for g in set(a) | set(b))
        return sym / (ta + tb)

    def ref_search(h, n):
        a, b = grams(h), grams(n)
        tb = sum(b.values())
        if tb == 0:
            return None
        return sum(min(a[g], b[g]) for g in b) / tb

    values = ", ".join(f"('{h}', '{n}')" for h, n in pairs)
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW ngt AS SELECT * FROM (VALUES "
        f"{values}) AS t(h, n)"
    )
    rows = spark.sql(
        transpile(
            "SELECT h, n, ngramDistance(h, n) AS d, "
            "ngramSearch(h, n) AS s FROM ngt"
        )
    ).collect()
    assert len(rows) == len(pairs)
    for r in rows:
        ed, es = ref_dist(r.h, r.n), ref_search(r.h, r.n)
        if ed is None:
            assert r.d is None, (r.h, r.n, r.d)
        else:
            assert abs(r.d - ed) < 1e-12, (r.h, r.n, r.d, ed)
        if es is None:
            assert r.s is None, (r.h, r.n, r.s)
        else:
            assert abs(r.s - es) < 1e-12, (r.h, r.n, r.s, es)


def test_r8_scalar_batch6(spark):
    """Third pass-through audit: date scalars, edit distance,
    identity hints, rotations/shifts, Jaccard, unaligned zip, the
    two-proportion z-test; new refusals stop former silent
    pass-throughs."""
    import math
    from statistics import NormalDist

    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b6t AS SELECT "
        "DATE'2024-02-10' AS d, 'kitten' AS s1, 'sitting' AS s2, "
        "array(1, 2, 3, 4, 5) AS a FROM range(1)"
    )

    def one(expr):
        return spark.sql(transpile(f"SELECT {expr} AS r FROM b6t")).first().r

    assert str(one("toLastDayOfMonth(d)")) == "2024-02-29"
    assert one("toQuarter(d)") == 1
    assert one("toDayOfYear(d)") == 41
    assert one("editDistance(s1, s2)") == 3
    assert one("toNullable(7)") == 7
    assert one("materialize(3) + identity(4)") == 7
    assert one("splitByNonAlpha('ab1, cd-2;x')") == ["ab1", "cd", "2", "x"]
    # char-set Jaccard: {a,b,c} vs {b,c,d} → 2/4
    assert one("stringJaccardIndex('abc', 'bcd')") == 0.5
    assert one("stringJaccardIndex('', '')") is None
    assert one("stringJaccardIndex(s1, '')") == 0.0
    assert one("arrayRotateLeft(a, 2)") == [3, 4, 5, 1, 2]
    assert one("arrayRotateRight(a, 2)") == [4, 5, 1, 2, 3]
    assert one("arrayRotateLeft(a, -1)") == [5, 1, 2, 3, 4]
    assert one("arrayRotateLeft(a, 7)") == [3, 4, 5, 1, 2]  # wraps
    assert one("arrayRotateLeft(emptyArrayInt32(), 2)") == []
    assert one("arrayShiftLeft(a, 2, 0)") == [3, 4, 5, 0, 0]
    assert one("arrayShiftRight(a, 2, 9)") == [9, 9, 1, 2, 3]
    assert one("arrayShiftLeft(a, 9, 0)") == [0, 0, 0, 0, 0]
    # negative n shifts the opposite direction (CH rule; ADVICE r8 —
    # runtime negatives used to clamp to a silent no-op)
    assert one("arrayShiftLeft(a, -2, 9)") == [9, 9, 1, 2, 3]
    assert one("arrayShiftRight(a, -2, 0)") == [3, 4, 5, 0, 0]
    assert one("arrayShiftLeft(a, 1 - 3, 9)") == [9, 9, 1, 2, 3]
    assert one("arrayShiftRight(a, -9, 0)") == [0, 0, 0, 0, 0]
    assert [tuple(r) for r in one("arrayZipUnaligned([1, 2], ['x'])")] \
        == [(1, "x"), (2, None)]
    assert one("arrayDotProduct([1.0, 2.0], [3.0, 4.0])") == 11.0

    r = spark.sql(transpile(
        "SELECT proportionsZTest(10, 11, 100, 101, 0.95, 'pooled') "
        "AS t FROM b6t"
    )).first().t
    p1, p2 = 10 / 100, 11 / 101
    pp = 21 / 201
    se = math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 101))
    z = (p1 - p2) / se
    zc = NormalDist().inv_cdf(0.975)
    assert abs(r.z_stat - z) < 1e-12
    assert abs(r.p_value - math.erfc(abs(z) / math.sqrt(2))) < 1e-12
    assert abs(r.ci_low - ((p1 - p2) - zc * se)) < 1e-12
    assert abs(r.ci_high - ((p1 - p2) + zc * se)) < 1e-12

    for bad, msg in [
        ("arrayShiftLeft(a, 2)", "TYPE DEFAULT"),
        ("multiplyDecimal(d, d)", "explicit cast"),
        ("h3ToGeo(s1)", "cell"),
        ("geoToS2(1.0, 2.0)", "cell"),
        # jaro*/damerauLevenshtein/generateUUIDv7/regexpQuoteMeta map
        # since r10 (test_r10_id_generators, test_r10_regexp_quote_meta,
        # dialect_fuzzy_family)
        ("byteSize(s1)", "octet_length"),
        ("UUIDStringToNum(s1)", "byte order"),
        ("emptyArrayToSingle(a)", "TYPE DEFAULT"),
        ("groupArrayInsertAt(s1, 3)", "TYPE DEFAULT"),
        ("formatReadableTimeDelta(3600)", "parseTimeDelta"),
        ("wordShingleMinHashCaseInsensitive(s1)", "dedup"),
        ("proportionsZTest(1, 2, 3, 4, 0.95, pool)", "literal"),
        ("proportionsZTest(1, 2, 3, 4, cl, 'pooled')", "numeric"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM b6t")


def test_r8_scalar_batch7(spark):
    """-ArgMin/-ArgMax combinators, plural quantilesGK, RESPECT NULLS
    aliases; unknown -Merge registers and PASTE JOIN refuse instead
    of passing through opaquely."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b7t AS SELECT * FROM VALUES "
        "(1, 10.0, 5), (1, 20.0, 9), (1, 30.0, 9), (2, 7.0, 1) "
        "AS t(g, x, y)"
    )
    r = {
        q.g: q for q in spark.sql(transpile(
            "SELECT g, sumArgMax(x, y) AS s, countArgMax(x, y) AS c, "
            "minArgMax(x, y) AS mn, avgArgMax(x, y) AS a, "
            "maxArgMin(x, y) AS mx FROM b7t GROUP BY g"
        )).collect()
    }
    assert (r[1].s, r[1].c, float(r[1].mn), r[1].a, float(r[1].mx)) \
        == (50.0, 2, 20.0, 25.0, 10.0)
    assert (r[2].s, r[2].c) == (7.0, 1)
    q = spark.sql(transpile(
        "SELECT quantilesGK(100, 0.25, 0.75)(x) AS q FROM b7t"
    )).first().q
    assert len(q) == 2 and float(q[0]) <= float(q[1])
    rn = spark.sql(transpile(
        "SELECT anyRespectNulls(y) AS a, "
        "firstValueRespectNulls(y) AS f, "
        "lastValueRespectNulls(y) AS l FROM b7t"
    )).first()
    assert rn.a is not None and rn.f is not None

    for bad, msg in [
        ("topKMerge(3)(s)", "engine-internal"),
        ("histogramMerge(s)", "engine-internal"),
        ("histogramState(10)(x)", "engine-internal"),
        ("windowFunnelMerge(s)", "engine-internal"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM b7t")
    # plain-table PASTE (no declared order) still refuses; the
    # ordered-subquery form maps since r9 (test_r9_paste_join)
    with pytest.raises(DialectError, match="ORDER BY"):
        transpile("SELECT * FROM a PASTE JOIN b")


def test_r9_paste_join(spark):
    """r9: PASTE JOIN of two ordered subqueries → row_number zip
    (VERDICT r8 item 5): min-length trim, per-side order, and the
    refusals for orderless/aliased/plain-table sides."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pj_t AS "
        "SELECT id AS k, CAST(id * 2 AS DOUBLE) AS v FROM range(10)"
    )
    q = transpile(
        "SELECT * FROM (SELECT k AS a FROM pj_t ORDER BY a LIMIT 4) "
        "PASTE JOIN (SELECT k AS b, v FROM pj_t "
        "ORDER BY b DESC LIMIT 6)"
    )
    rows = [tuple(r) for r in spark.sql(q).orderBy("a").collect()]
    # left asc 0..3 zips right desc 9..6; min(4, 6) rows; left
    # columns precede right columns (CH PASTE output order)
    assert rows == [
        (0, 9, 18.0), (1, 8, 16.0), (2, 7, 14.0), (3, 6, 12.0),
    ]
    for bad in [
        # orderless side
        "SELECT * FROM (SELECT k FROM pj_t ORDER BY k) "
        "PASTE JOIN (SELECT k FROM pj_t)",
        # aliased side (two scopes cannot merge into the zip)
        "SELECT * FROM (SELECT k FROM pj_t ORDER BY k) "
        "PASTE JOIN (SELECT k AS b FROM pj_t ORDER BY b) AS r",
    ]:
        with pytest.raises(DialectError, match="ORDER BY"):
            transpile(bad)
    # positional ORDER BY key: positional in the subquery, CONSTANT in
    # the copied row_number() window — silently nondeterministic zip,
    # refuse (ADVICE r9)
    with pytest.raises(DialectError, match="positional"):
        transpile(
            "SELECT * FROM (SELECT k FROM pj_t ORDER BY 1) "
            "PASTE JOIN (SELECT v FROM pj_t ORDER BY v)"
        )
    with pytest.raises(DialectError, match="positional"):
        transpile(
            "SELECT * FROM (SELECT k FROM pj_t ORDER BY k) "
            "PASTE JOIN (SELECT k AS b, v FROM pj_t ORDER BY b, 2)"
        )


def test_r11_paste_join_range_partitioned(spark):
    """r11 stretch (VERDICT r10 item 9): a direction-less first order
    key ranks via the range-partitioned two-pass scheme (bucket by
    try_cast value range + within-bucket row_number + prefix counts)
    instead of one global single-partition window — value-identical
    to the global form, including string keys (which coalesce into
    one bucket, i.e. exactly the old plan) and multi-key orders."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pjr_a AS "
        "SELECT id AS x, id * 3 AS v FROM range(2000)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pjr_b AS "
        "SELECT id AS y, concat('s', lpad(CAST(id AS STRING), 4, "
        "'0')) AS s FROM range(1990)"
    )
    q = transpile(
        "SELECT * FROM (SELECT x, v FROM pjr_a ORDER BY x) "
        "PASTE JOIN (SELECT y, s FROM pjr_b ORDER BY y)"
    )
    rows = spark.sql(q).collect()
    assert len(rows) == 1990  # min-length trim
    assert all(r.x == r.y for r in rows)  # positions align exactly
    # the numeric-key sides carry NO global row_number window: every
    # rank window partitions by the bucket column (the only global
    # window left is the <=64-row prefix-count sum over metadata)
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "row_number()" in line and "Window" in line:
            assert "__pb" in line, line
    # string first key: degenerate single-bucket path, still correct
    q2 = transpile(
        "SELECT * FROM (SELECT s FROM pjr_b ORDER BY s) "
        "PASTE JOIN (SELECT x FROM pjr_a ORDER BY x)"
    )
    m = {r.x: r.s for r in spark.sql(q2).collect()}
    assert m[0] == "s0000" and m[1989] == "s1989" and m[77] == "s0077"
    # multi-key order with direction-less first key
    q3 = transpile(
        "SELECT * FROM (SELECT v, x FROM pjr_a ORDER BY v, x) "
        "PASTE JOIN (SELECT y FROM pjr_b ORDER BY y)"
    )
    m3 = {r.y: r.x for r in spark.sql(q3).collect()}
    assert m3[0] == 0 and m3[1989] == 1989


def test_r12_paste_join_nan_key(spark):
    """ADVICE r11: a NaN double first key must rank LAST (ORDER BY
    sorts NaN after every double) — the bucket CASE routes NaN to the
    top bucket and the min/max stats see NaN as NULL, so the two-pass
    rank agrees with the global form instead of parking NaN rows in
    bucket 0."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pjn_a AS "
        "SELECT CASE WHEN id = 3 THEN double('NaN') "
        "WHEN id = 7 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST(id AS DOUBLE) END AS d, id AS tag FROM range(200)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pjn_b AS "
        "SELECT id AS pos FROM range(200)"
    )
    q = transpile(
        "SELECT * FROM (SELECT d, tag FROM pjn_a ORDER BY d) "
        "PASTE JOIN (SELECT pos FROM pjn_b ORDER BY pos)"
    )
    rows = {r.pos: r.tag for r in spark.sql(q).collect()}
    # Spark ASC order: NULL first, then doubles, NaN last
    assert rows[0] == 7          # the NULL key ranks first
    assert rows[199] == 3        # the NaN key ranks LAST, not first
    assert rows[1] == 0 and rows[2] == 1  # plain keys shift by one


def test_parenless_using(spark):
    """ClickHouse's paren-less USING k1, k2 form in ANY and ASOF
    joins (plus the GLOBAL prefix) — same plans as the (k1, k2)
    spelling."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pu1 AS SELECT * FROM VALUES "
        "(1, 'a'), (2, 'b') AS t(k, lv)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pu2 AS SELECT * FROM VALUES "
        "(1, 10.0), (1, 20.0), (2, 5.0) AS t(k, v)"
    )
    res = lambda rel: {  # noqa: E731
        "pu1": ["k", "lv"], "pu2": ["k", "v"],
    }.get(rel.strip())
    rows = spark.sql(transpile(
        "SELECT k, lv, v FROM pu1 GLOBAL ANY LEFT JOIN pu2 USING k "
        "ORDER BY k",
        resolve_columns=res,
    )).collect()
    assert [(r.k, float(r.v)) for r in rows] == [(1, 10.0), (2, 5.0)]
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pa1 AS SELECT * FROM VALUES "
        "(1, 5), (1, 9) AS t(k, ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pa2 AS SELECT * FROM VALUES "
        "(1, 4, 'x'), (1, 8, 'y') AS t(k, ts, tag)"
    )
    res2 = lambda rel: {  # noqa: E731
        "pa1": ["k", "ts"], "pa2": ["k", "ts", "tag"],
    }.get(rel.strip())
    rows2 = spark.sql(transpile(
        "SELECT k, ts, tag FROM pa1 ASOF LEFT JOIN pa2 USING k, ts "
        "ORDER BY ts",
        resolve_columns=res2,
    )).collect()
    assert [(r.ts, r.tag) for r in rows2] == [(5, "x"), (9, "y")]


def test_r8_scalar_batch8(spark):
    """Tuple access, the bitmap family (set-as-sorted-array), XML
    escapes, relative nums, micro/nano timestamp codecs."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b8t AS SELECT "
        "array(3, 1, 2, 3) AS a, array(2, 4) AS b, "
        "named_struct('x', 1, 'y', 'z') AS tup, "
        "'<a href=\"q\">&x</a>' AS xs, DATE'2023-04-01' AS d, "
        "TIMESTAMP'2024-01-01 00:00:01.5' AS ts FROM range(1)"
    )

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r FROM b8t")).first().r

    assert one("tupleElement(tup, 'y')") == "z"
    assert one("bitmapBuild(a)") == [1, 2, 3]
    assert one("bitmapCardinality(a)") == 3
    assert one("bitmapAnd(bitmapBuild(a), bitmapBuild(b))") == [2]
    assert one("bitmapXor(bitmapBuild(a), bitmapBuild(b))") == [1, 3, 4]
    assert one("bitmapAndnot(bitmapBuild(a), bitmapBuild(b))") == [1, 3]
    assert one(
        "bitmapOrCardinality(bitmapBuild(a), bitmapBuild(b))"
    ) == 4
    assert one("bitmapHasAny(a, b)") is True
    assert one("bitmapHasAll(a, array(1, 2))") is True
    assert one("bitmapHasAll(a, array(1, 9))") is False
    assert one("bitmapContains(a, 2)") is True
    assert (one("bitmapMin(bitmapBuild(a))"),
            one("bitmapMax(bitmapBuild(a))")) == (1, 3)
    assert one("arrayUnion(a, b)") == [3, 1, 2, 4]
    assert one("arraySymmetricDifference(a, b)") == [3, 1, 4]
    assert one("encodeXMLComponent(xs)") \
        == "&lt;a href=&quot;q&quot;&gt;&amp;x&lt;/a&gt;"
    assert one("decodeXMLComponent(encodeXMLComponent(xs))") \
        == '<a href="q">&x</a>'
    # CH doc examples: 2023-04 → month 24280, quarter 8093
    assert one("toRelativeMonthNum(d)") == 24280
    assert one("toRelativeQuarterNum(d)") == 8093
    assert one("toRelativeYearNum(d)") == 2023
    assert one("toRelativeSecondNum(ts)") == 1704067201
    assert one("toUnixTimestamp64Micro(ts)") == 1704067201500000
    assert str(one("fromUnixTimestamp64Micro(1704067201500000)")) \
        == "2024-01-01 00:00:01.500000"
    assert one("toUnixTimestamp64Nano(ts)") == 1704067201500000000
    for bad, msg in [
        ("tupleElement(tup, 1)", "name-addressed"),
        ("tupleToNameValuePairs(tup)", "introspects"),
        ("sleep(1)", "throttling"),
        ("bitSlice(xs, 1, 2)", "bit ranges"),
        ("toRelativeWeekNum(d)", "anchor"),
        ("decodeHTMLComponent(xs)", "entity table"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM b8t")


def test_r8_scalar_batch9(spark):
    """SQL/JSON standard forms, typed/array JSONExtract, UTF8
    length/validity."""
    register_clickhouse_compat(spark)  # r10: JSON_QUERY simple paths
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b9t AS SELECT "
        "'{\"a\": 5, \"b\": [1, {\"c\": 2}], \"s\": \"hi\"}' AS j, "
        "'h\\u00e9llo' AS s FROM range(1)"
    )

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r FROM b9t")).first().r

    assert one("lengthUTF8(s)") == 5  # characters, not bytes
    assert one("isValidUTF8(s)") is True
    assert one("isValidUTF8(CAST(NULL AS STRING))") is None
    assert one("JSON_VALUE(j, '$.a')") == "5"
    assert one("JSON_EXISTS(j, '$.a')") is True
    assert one("JSON_EXISTS(j, '$.z')") is False
    assert one("JSON_QUERY(j, '$.a')") == "[5]"  # CH wraps in array
    assert one("JSON_QUERY(j, '$.z')") is None
    # string scalars re-serialize as valid JSON (ADVICE r8: the bare
    # get_json_object form produced invalid [hi]); composites and
    # literals pass through raw
    assert one("JSON_QUERY(j, '$.s')") == '["hi"]'
    assert one("JSON_QUERY(j, '$.b')") == "[[1,{\"c\":2}]]"
    assert (
        one("JSON_QUERY('{\"q\": \"say \\\\\"x\\\\\"\"}', '$.q')")
        == '["say \\"x\\""]'
    )
    assert one("JSON_QUERY('{\"t\": true}', '$.t')") == "[true]"
    assert one("JSONExtractArrayRaw(j, 'b')") == ["1", '{"c":2}']
    assert one("JSONExtract(j, 'a', 'Int64')") == 5
    assert one("JSONExtract(j, 's', 'String')") == "hi"
    assert one("JSONExtract(j, 'a', 'Float64')") == 5.0
    # r10: JSONExtractKeysAndValuesRaw maps via the stdlib walk (was
    # a refusal through r9)
    kv = one(
        "arrayStringConcat(arrayMap(t -> concat(tupleElement(t, 'k'), "
        "'=', tupleElement(t, 'v')), JSONExtractKeysAndValuesRaw(j)), "
        "';')"
    )
    assert kv == 'a=5;b=[1,{"c":2}];s="hi"'
    for bad, msg in [
        ("JSONExtract(j, 'a', 'Tuple(x Int32)')", "scalar"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM b9t")


def test_bitmap_family_differential(spark):
    """Bitmap ops over a seeded battery of array pairs, all checked
    in ONE Spark pass against Python set algebra."""
    import random

    rng = random.Random(82)
    pairs = [
        (sorted(rng.sample(range(20), rng.randint(0, 8))),
         sorted(rng.sample(range(20), rng.randint(0, 8))))
        for _ in range(25)
    ] + [([], []), ([1, 2], []), ([], [3])]
    values = ", ".join(
        f"(array({', '.join(map(str, a)) or 'CAST(NULL AS INT)'}), "
        f"array({', '.join(map(str, b)) or 'CAST(NULL AS INT)'}))"
        for a, b in pairs
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW bmt AS SELECT "
        "filter(c1, x -> x IS NOT NULL) AS a, "
        "filter(c2, x -> x IS NOT NULL) AS b "
        f"FROM (VALUES {values}) AS t(c1, c2)"
    )
    rows = spark.sql(transpile(
        "SELECT a, b, bitmapAnd(bitmapBuild(a), bitmapBuild(b)) AS i, "
        "bitmapOr(bitmapBuild(a), bitmapBuild(b)) AS u, "
        "bitmapXor(bitmapBuild(a), bitmapBuild(b)) AS x, "
        "bitmapAndnot(bitmapBuild(a), bitmapBuild(b)) AS d, "
        "bitmapOrCardinality(a, b) AS uc, "
        "bitmapHasAny(a, b) AS any_, bitmapHasAll(a, b) AS all_ "
        "FROM bmt"
    )).collect()
    assert len(rows) == len(pairs)
    for r in rows:
        sa, sb = set(r.a), set(r.b)
        assert r.i == sorted(sa & sb)
        assert r.u == sorted(sa | sb)
        assert r.x == sorted(sa ^ sb)
        assert r.d == sorted(sa - sb)
        assert r.uc == len(sa | sb)
        assert r.any_ == bool(sa & sb)
        assert r.all_ == (sb <= sa)


def test_or_default_combinator(spark):
    """-OrDefault: the result-TYPE default (0 for the numeric-result
    bases) instead of NULL on empty match sets; argument-typed bases
    refuse (default unknowable without type info)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW od_t AS "
        "SELECT CAST(id AS DOUBLE) v FROM range(3)"
    )

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r FROM od_t")).first().r

    assert one("sumOrDefault(v)") == 3.0
    assert one("sumIfOrDefault(v, v > 99)") == 0.0
    assert one("avgOrDefault(CASE WHEN v > 99 THEN v END)") == 0.0
    assert one("countOrDefault(v)") == 3
    assert one("uniqExactOrDefault(CASE WHEN v > 99 THEN v END)") == 0
    for bad in ("maxOrDefault(v)", "anyOrDefault(v)"):
        with pytest.raises(DialectError, match="ARGUMENT type"):
            transpile(f"SELECT {bad} FROM od_t")


def test_exp_time_decayed_windows(spark):
    """The four decay-weighted window aggregates against hand
    computation; windowless use refuses with the OVER spelling."""
    import math

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ed_t AS SELECT * FROM VALUES "
        "(1, 1.0, 0), (1, 2.0, 10), (1, 4.0, 20) AS t(g, v, ts)"
    )
    r = spark.sql(transpile(
        "SELECT ts, "
        "round(exponentialTimeDecayedSum(10)(v, ts) OVER "
        "(PARTITION BY g ORDER BY ts), 6) AS s, "
        "round(exponentialTimeDecayedCount(10)(ts) OVER "
        "(PARTITION BY g ORDER BY ts), 6) AS c, "
        "round(exponentialTimeDecayedMax(10)(v, ts) OVER "
        "(PARTITION BY g ORDER BY ts), 6) AS m, "
        "round(exponentialTimeDecayedAvg(10)(v, ts) OVER "
        "(PARTITION BY g ORDER BY ts), 6) AS a "
        "FROM ed_t ORDER BY ts"
    )).collect()
    ref_s = 1 * math.exp(-2) + 2 * math.exp(-1) + 4
    ref_c = math.exp(-2) + math.exp(-1) + 1
    last = r[-1]
    assert last.s == round(ref_s, 6)
    assert last.c == round(ref_c, 6)
    assert last.m == 4.0
    assert last.a == round(ref_s / ref_c, 6)
    assert r[0].s == 1.0 and r[0].c == 1.0
    with pytest.raises(DialectError, match="OVER"):
        transpile("SELECT exponentialTimeDecayedSum(10)(v, ts) FROM t")
    with pytest.raises(DialectError, match="time-constant"):
        transpile(
            "SELECT exponentialTimeDecayedSum(1, 2)(v, ts) OVER "
            "(ORDER BY ts) FROM t"
        )


def test_window_derivative(spark):
    """nonNegativeDerivative OVER: rising slope, negative clamp,
    zero-Δt and first-row zeros; frame clauses are stripped for the
    lag references; the windowless form still refuses."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW wd_t AS SELECT * FROM VALUES "
        "(1, 10.0, TIMESTAMP'2024-01-01 00:00:00'), "
        "(1, 30.0, TIMESTAMP'2024-01-01 00:00:10'), "
        "(1, 25.0, TIMESTAMP'2024-01-01 00:00:20'), "
        "(1, 27.0, TIMESTAMP'2024-01-01 00:00:20') AS t(g, m, ts)"
    )
    rows = spark.sql(transpile(
        "SELECT round(nonNegativeDerivative(m, ts) OVER "
        "(PARTITION BY g ORDER BY ts, m "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), 4) AS r "
        "FROM wd_t ORDER BY ts, m"
    )).collect()
    assert [r.r for r in rows] == [0.0, 2.0, 0.0, 0.0]
    with pytest.raises(DialectError, match="block"):
        transpile("SELECT nonNegativeDerivative(m, ts) FROM wd_t")
    with pytest.raises(DialectError, match="interval"):
        transpile(
            "SELECT nonNegativeDerivative(m, ts, i) OVER "
            "(ORDER BY ts) FROM wd_t"
        )


def test_normalize_utf8_forms(spark):
    """All four Unicode normalization forms through the Arrow compat
    UDF, checked against unicodedata ground truth."""
    import unicodedata

    decomposed = "e\u0301"   # e + combining acute
    composed = "\u00e9"      # \u00e9
    kelvin = "\u212a"        # Kelvin sign, NFKC -> K
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nrm_t AS SELECT "
        f"'{decomposed}' AS d, '{composed}' AS c, '{kelvin}' AS k "
        "FROM range(1)"
    )

    def one(expr):
        return spark.sql(
            transpile(f"SELECT {expr} AS r FROM nrm_t")
        ).first().r

    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat
    register_clickhouse_compat(spark)
    assert one("normalizeUTF8NFC(d)") == composed
    assert one("normalizeUTF8NFD(c)") == decomposed
    assert one("normalizeUTF8NFKC(k)") == "K"
    assert one("normalizeUTF8NFKD(c)") == unicodedata.normalize(
        "NFKD", composed
    )
    assert one("normalizeUTF8NFC(NULL)") is None
    with pytest.raises(DialectError, match="one string argument"):
        transpile("SELECT normalizeUTF8NFC(a, b) FROM t")


def test_parametric_uniq_topk_extended(spark):
    """uniqCombined precision form (K → rsd equivalence) and topK's
    extended params; unknown parametric heads refuse with the
    register list instead of emitting invalid SQL."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pq_t AS "
        "SELECT id % 7 AS x FROM range(0, 100)"
    )

    def one(expr):
        return spark.sql(transpile(f"SELECT {expr} AS r FROM pq_t")).first().r

    assert one("uniqCombined(12)(x)") == 7
    assert one("uniqCombined64(14)(x)") == 7
    assert one("topK(3, 10)(x)") == one("topK(3)(x)")
    for bad, msg in [
        ("topK(3, 10, 'counts')(x)", "counts"),
        ("sequenceNextNode('forward')(x, x)", "parametric registers"),
        ("uniqCombined(x)(x)", "literal integer"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM pq_t")


def test_sequence_fold_equivalence(spark):
    """The anchor-list fold must agree with the extremal fold on every
    single-sided pattern (the extremal fold is the O(1)-state
    optimization of the same semantics)."""
    from clickhouse_vs_dbt_spark.dialect import (
        _parse_sequence_pattern,
        _sequence_match_fold,
        _sequence_match_fold_anchors,
    )

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW eqf_t AS SELECT u, "
        "CAST(ts AS TIMESTAMP) AS ts, e FROM VALUES "
        "(1, 1, 'A'), (1, 2, 'B'), (1, 3, 'A'), (1, 9, 'B'), "
        "(2, 1, 'B'), (2, 5, 'A'), (2, 6, 'B'), "
        "(3, 1, 'A'), (3, 50, 'B'), (3, 51, 'A'), (3, 99, 'B') "
        "AS t(u, ts, e)"
    )
    conds = ["e = 'A'", "e = 'B'"]
    for pat in [
        "(?1)(?2)", "(?1).*(?2)", "(?1)(?t<5)(?2)", "(?1)(?t>=4)(?2)",
        "(?2)(?t<50)(?1)", "(?1)(?t<=8)(?2)",
    ]:
        refs, links = _parse_sequence_pattern(f"'{pat}'")
        a = _sequence_match_fold("ts", conds, refs, links)
        b = _sequence_match_fold_anchors("ts", conds, refs, links)
        got = spark.sql(
            f"SELECT u, {a} AS ma, {b} AS mb FROM eqf_t GROUP BY u"
        ).collect()
        for r in got:
            assert r.ma == r.mb, (pat, r.u, r.ma, r.mb)


def test_summap_filtered(spark):
    """-MapFiltered: the key whitelist applies row-local BEFORE the
    per-key fold, so collected state only holds whitelisted pairs."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW smf_t AS SELECT array('a', 'b') "
        "AS k, array(CAST(id AS DOUBLE), 2.0) AS v FROM range(1, 4)"
    )
    r = spark.sql(
        transpile("SELECT sumMapFiltered(['a'])(k, v) AS r FROM smf_t")
    ).first().r
    assert r.keys == ["a"] and r.values == [6.0]
    r = spark.sql(
        transpile("SELECT maxMapFiltered(['b'])(k, v) AS r FROM smf_t")
    ).first().r
    assert r.keys == ["b"] and r.values == [2.0]


def test_r9_argmax_state_merge(spark):
    """r9: argMax/argMin -State/-Merge via the extremal (value, arg)
    struct state — NULL values mask at state creation, value ties
    break deterministically by the extremal arg, and the two-level
    merge equals the one-level fold (struct MAX/MIN associativity)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW am_t AS SELECT * FROM VALUES "
        "(1, 1, 10.0, 'a'), (1, 2, 10.0, 'z'), (1, 3, NULL, 'n'), "
        "(2, 1, 5.0, 'p'), (2, 2, 7.0, 'q'), "
        "(3, 1, CAST(NULL AS DOUBLE), 'only') "
        "AS t(g, sg, v, a)"
    )
    q = transpile(
        """
SELECT g, argMaxMerge(hi) AS am, argMinMerge(lo) AS an
FROM (SELECT g, sg, argMaxState(a, v) AS hi, argMinState(a, v) AS lo
      FROM am_t GROUP BY g, sg)
GROUP BY g ORDER BY g
"""
    )
    rows = {r.g: (r.am, r.an) for r in spark.sql(q).collect()}
    # g=1: tie on v=10 -> 'z' (max arg); min ignores the NULL v row
    # g=3: all values NULL -> state NULL -> NULL result (CH returns
    # the arg default; NULL is the Spark-idiomatic empty marker)
    assert rows == {1: ("z", "a"), 2: ("q", "p"), 3: (None, None)}
    # one-level fold equals the two-level merge (associativity):
    # a single-group subquery is the degenerate two-level plan
    q1 = transpile(
        "SELECT g, argMaxMerge(st) AS am FROM (SELECT g, "
        "argMaxState(a, v) AS st FROM am_t GROUP BY g) "
        "GROUP BY g ORDER BY g"
    )
    assert {r.g: r.am for r in spark.sql(q1).collect()} == {
        1: "z", 2: "q", 3: None,
    }
    # the -If form masks at state creation
    qif = transpile(
        "SELECT argMaxIfMerge(st) AS am FROM (SELECT "
        "argMaxIfState(a, v, sg < 2) AS st FROM am_t GROUP BY g)"
    )
    assert spark.sql(qif).first().am == "a"


def test_r9_group_array_tiers(spark):
    """r9: deterministic tiers of groupArraySample (seeded md5-rank
    selection — reproducible, engine-portable) and groupArrayLast
    (two-arg last-n-by-ord; the bare insertion-order form still
    refuses)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW gat_t AS "
        "SELECT id % 2 AS g, id AS x FROM range(20)"
    )
    q = transpile(
        "SELECT g, groupArraySample(3)(x) AS s, "
        "groupArraySample(3, 7)(x) AS s7, "
        "groupArrayLast(3)(x, x) AS l3 FROM gat_t GROUP BY g "
        "ORDER BY g"
    )
    rows = spark.sql(q).collect()
    for r in rows:
        assert len(r.s) == 3 and len(r.s7) == 3
        assert set(r.s) <= set(range(r.g, 20, 2))
        # different seed -> (almost surely) different selection,
        # same seed -> identical across runs
    assert rows == spark.sql(q).collect()
    # last 3 by x itself = the 3 largest, ascending
    assert [list(r.l3) for r in rows] == [[14, 16, 18], [15, 17, 19]]
    # n > group size clamps; n <= 0 yields empty
    r2 = spark.sql(
        transpile(
            "SELECT groupArraySample(99)(x) AS s, "
            "groupArrayLast(99)(x, x) AS l, "
            "groupArrayLast(0)(x, x) AS z FROM gat_t"
        )
    ).first()
    assert len(r2.s) == 20 and len(r2.l) == 20 and r2.z == []
    with pytest.raises(DialectError, match="insertion order"):
        transpile("SELECT groupArrayLast(3)(x) FROM gat_t")


def test_r9_idn_family(spark):
    """r9: punycode/IDNA family over Python's built-in codecs — the
    refusal wall closed (VERDICT r8 'What's missing' #5): RFC 3492
    plain punycode (no label split, no xn-- prefix), IDNA2003
    per-label ToASCII/ToUnicode (nameprep: straße → strasse), try
    forms '' on invalid input, strict forms fail loudly."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r")).first().r

    assert one("punycodeEncode('München')") == "Mnchen-3ya"
    assert one("punycodeEncode('abc')") == "abc-"
    assert one("punycodeDecode('Mnchen-3ya')") == "München"
    assert one("tryPunycodeDecode('!!bad!!')") == ""
    assert (
        one("idnaEncode('straße.münchen-süd.example.com')")
        == "strasse.xn--mnchen-sd-q9ah.example.com"
    )
    assert (
        one("idnaDecode('strasse.xn--mnchen-sd-q9ah.example.com')")
        == "strasse.münchen-süd.example.com"
    )
    assert one("idnaEncode('plain.example.com')") == "plain.example.com"
    assert one("punycodeEncode(CAST(NULL AS STRING))") is None
    # idnaDecode NEVER throws (it has no try-variant in CH for that
    # reason, ADVICE r9): an undecodable label passes through
    # unchanged, valid labels around it still decode
    assert one("idnaDecode('xn--INVALID-')") == "xn--INVALID-"
    assert (
        one("idnaDecode('xn--tda.xn--zzzzz99999')")
        == "ü.xn--zzzzz99999"
    )
    # strict decode of invalid punycode fails the task loudly
    with pytest.raises(Exception, match="ch_idn|PythonException"):
        one("punycodeDecode('!!bad!!')")


def test_r9_json_merge_patch(spark):
    """r9: JSONMergePatch via the stdlib RFC 7386 merge — null patch
    values delete, nested objects merge recursively, non-objects
    replace, variadic folds left, NULL propagates, invalid JSON fails
    loudly."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r")).first().r

    assert (
        one("""JSONMergePatch('{"a":1,"b":{"c":2,"d":3}}',
                              '{"b":{"c":null,"e":9},"f":[1,2]}')""")
        == '{"a":1,"b":{"d":3,"e":9},"f":[1,2]}'
    )
    # non-object patch replaces wholesale; arrays never merge
    assert one("""JSONMergePatch('{"a":1}', '[5]')""") == "[5]"
    assert one("""JSONMergePatch('{"a":[1,2]}', '{"a":[3]}')""") == (
        '{"a":[3]}'
    )
    # variadic folds left
    assert (
        one("""JSONMergePatch('{"a":1}', '{"b":2}', '{"a":null}')""")
        == '{"b":2}'
    )
    assert one("JSONMergePatch(CAST(NULL AS STRING), '{}')") is None
    with pytest.raises(Exception, match="JSONMergePatch|PythonException"):
        one("JSONMergePatch('not json', '{}')")


def test_r9_summap_state_and_json_type(spark):
    """r9: sumMap/minMap/maxMap -State/-Merge (self-merging per-key
    partials) and root-form JSONType classification."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW smm_t AS SELECT id % 2 AS sg, "
        "array(id % 3) AS k, array(CAST(1 AS INT)) AS one, "
        "array(id) AS v FROM range(12)"
    )
    q = transpile(
        "SELECT tupleElement(sumMapMerge(s), 'keys') AS mk, "
        "tupleElement(sumMapMerge(s), 'values') AS mv, "
        "tupleElement(maxMapMerge(x), 'values') AS xv "
        "FROM (SELECT sg, sumMapState(k, one) AS s, "
        "maxMapState(k, v) AS x FROM smm_t GROUP BY sg)"
    )
    r = spark.sql(q).first()
    assert list(r.mk) == [0, 1, 2]
    assert [float(v) for v in r.mv] == [4.0, 4.0, 4.0]
    # max id per id%3 bucket over range(12): 9, 10, 11
    assert [float(v) for v in r.xv] == [9.0, 10.0, 11.0]
    with pytest.raises(DialectError, match="single state column"):
        transpile("SELECT sumMapMerge(a, b) FROM smm_t")

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r")).first().r

    assert one("JSONType('{\"a\":1}')") == "Object"
    assert one("JSONType('[1,2]')") == "Array"
    assert one("JSONType('\"x\"')") == "String"
    assert one("JSONType('true')") == "Bool"
    assert one("JSONType('-7')") == "Int64"
    assert one("JSONType('9223372036854775807')") == "Int64"
    assert one("JSONType('9223372036854775808')") == "UInt64"
    assert one("JSONType('1.5')") == "Double"
    assert one("JSONType('null')") == "Null"
    assert one("JSONType('not json')") == "Null"
    assert one("JSONType(CAST(NULL AS STRING))") is None
    # path-form JSONType maps since r10 (test_r10_json_path_walk);
    # the storage-layout introspectors still refuse
    with pytest.raises(DialectError, match="storage layout"):
        transpile("SELECT JSONSharedDataPaths(j) FROM t")


def test_r9_interval_sweeps(spark):
    """r9: intervalLengthSum (union length, overlaps merged,
    inverted intervals contribute 0) and maxIntersectionsPosition
    (leftmost peak point, first peak kept on ties)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ivs_t AS SELECT * FROM VALUES "
        "(0, 3), (2, 5), (10, 11), (7, 6) AS t(s, e)"
    )

    def one(e):
        return spark.sql(
            transpile(f"SELECT {e} AS r FROM ivs_t")
        ).first().r

    # union [0,5] + [10,11] = 6; the inverted [7,6] adds 0
    assert one("intervalLengthSum(s, e)") == 6.0
    assert one("maxIntersectionsPosition(s, e)") == 2.0
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ivs_t2 AS SELECT * FROM VALUES "
        "(1, 10), (2, 3), (2, 4), (8, 9) AS t(s, e)"
    )
    r = spark.sql(
        transpile(
            "SELECT maxIntersections(s, e) AS m, "
            "maxIntersectionsPosition(s, e) AS p, "
            "intervalLengthSum(s, e) AS l FROM ivs_t2"
        )
    ).first()
    assert (r.m, r.p, r.l) == (3, 2.0, 9.0)
    # two-level statistics now include rankCorr / IV; SGD refuses
    for bad, msg in [
        ("rankCorr(s, e)", "events_rank_corr"),
        ("categoricalInformationValue(s, e)", "contingency table"),
        ("stochasticLinearRegression(s, e)", "batch-order"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM ivs_t")


def test_r9_pass_through_audit_batch(spark):
    """r9 runtime pass-through audit: names that transpiled verbatim
    and died with UNRESOLVED_ROUTINE now map or refuse.  Spark-compat
    date arrivals, map predicates/sorts, bitmap-column aggregates,
    and the hash-policy extensions."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pab AS SELECT id AS x, "
        "map('a', CAST(id AS INT), 'b', CAST(-1 AS INT)) AS m, "
        "array(CAST(id % 2 AS INT), CAST(id % 2 + 2 AS INT)) AS b "
        "FROM range(5)"
    )

    def one(e):
        return spark.sql(
            transpile(f"SELECT {e} AS r FROM pab LIMIT 1")
        ).first().r

    assert str(one("YYYYMMDDToDate(20240315)")) == "2024-03-15"
    assert one("YYYYMMDDToDate(20241399)") is None  # invalid -> NULL
    assert str(one(
        "toUTCTimestamp(makeDateTime(2024, 3, 15, 10, 0, 0), "
        "'America/New_York')"
    )) == "2024-03-15 14:00:00"
    assert str(one("toDateTime64('2024-03-15 10:00:00.123', 3)")) \
        == "2024-03-15 10:00:00.123000"
    assert one("mapExists((k, v) -> v > 0, m)") is False  # id=0 row
    assert one("mapAll((k, v) -> v <= 0, m)") is True
    assert one("mapSort(m)") == {"a": 0, "b": -1}
    assert len(one("sipHash128(toString(x))")) == 16  # binary digest
    # bitmap-column aggregates: every row's bitmap within a parity
    # class is identical -> And=Or=2; Xor flips with row parity
    r = spark.sql(
        transpile(
            "SELECT x % 2 AS g, groupBitmapAnd(b) AS a, "
            "groupBitmapOr(b) AS o, groupBitmapXor(b) AS xx "
            "FROM pab GROUP BY g ORDER BY g"
        )
    ).collect()
    # g=0: 3 rows (odd) -> xor 2; g=1: 2 rows (even) -> xor 0
    assert [(q.g, q.a, q.o, q.xx) for q in r] == [
        (0, 2, 2, 2), (1, 2, 2, 0),
    ]
    # two-level bitmap state merge = direct distinct count
    assert spark.sql(
        transpile(
            "SELECT groupBitmapMerge(st) AS c FROM (SELECT x % 2 AS "
            "g, groupBitmapState(x % 3) AS st FROM pab GROUP BY g)"
        )
    ).first().c == 3
    for bad, msg in [
        ("javaHash(toString(x))", "bit-compat"),
        ("hiveHash(toString(x))", "bit-compat"),
        ("toDateTime64('x', 9)", "microsecond"),
        ("mapPartialSort((k, v) -> v, 1, m)", "UNSPECIFIED"),
        ("minSampleSizeContinuous(1.0, 2.0, 0.8, 0.05, 1.0)",
         "quantiles"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM pab")


def test_r9_audit3_strings_urls_arrays(spark):
    """r9 audit batch 3: the key-function sort forms emitted INVALID
    Spark (array_sort's two-arg form takes a comparator, not a key) —
    now a stable decorate-sort-undecorate; plus UTF8 prefix/suffix,
    CI substring count, URL parameter extraction, enumerate families,
    millisecond arithmetic and timeDiff."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW a3t AS SELECT 'Hello World' AS "
        "s, 'https://www.example.com/a?q=1&r=2' AS u, "
        "array(30, 10, 20, 10) AS a, array() AS emp, "
        "CAST('2024-03-15 10:30:45' AS TIMESTAMP) AS ts FROM range(1)"
    )

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r FROM a3t")).first().r

    # stable key sorts: the two 10s keep their original order in both
    # directions (CH sorts are stable)
    assert one("arraySort(v -> -v, a)") == [30, 20, 10, 10]
    assert one("arrayReverseSort(v -> v % 20, a)") == [30, 10, 10, 20]
    assert one("arraySort(v -> -v, emp)") == []
    assert one("arrayEnumerateDense(a)") == [1, 2, 3, 2]
    assert one("arrayEnumerateUniq(a)") == [1, 1, 1, 2]
    assert one("arrayEnumerateUniq(emp)") == []
    assert one("arrayElementOrNull(a, 9)") is None
    assert one("countSubstringsCaseInsensitive(s, 'L')") == 3
    assert one("startsWithUTF8(s, 'Hello')") is True
    assert one("endsWithUTF8(s, 'World')") is True
    assert one("extractURLParameters(u)") == ["q=1", "r=2"]
    assert one("extractURLParameterNames(u)") == ["q", "r"]
    assert one("cutToFirstSignificantSubdomainWithWWW(u)") == (
        "www.example.com"
    )
    assert one("timeDiff(ts, ts + INTERVAL 90 SECOND)") == 90
    assert str(one("addMilliseconds(ts, 1500)")) == (
        "2024-03-15 10:30:46.500000"
    )
    assert one("serverTimezone()") == "UTC"
    for bad, msg in [
        ("URLHierarchy(u)", "prefix-ladder"),
        ("URLPathHierarchy(u)", "prefix-ladder"),
        ("addNanoseconds(ts, 5)", "microsecond"),
        ("arraySort((x, y) -> x, a)", "one parameter"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM a3t")


def test_r9_audit4_array_folds(spark):
    """r9 audit batch 4: arrayFill/ReverseFill (in-array LOCF),
    arraySplit/ReverseSplit (pred-boundary subarrays, CH's
    first-element rule), offset-to-end arraySlice, multi-array
    arrayUniq, key-lambda element aggregates, -Array combinators on
    groupArray/uniq, AUC variants, mapPopulateSeries, sub-second
    grids."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW a4t AS SELECT array(3, 1, 2) "
        "AS a, array(1, 0, 2, 0, 3) AS f, array() AS emp, "
        "array(0.1, 0.4, 0.35, 0.8) AS sc, array(0, 0, 1, 1) AS lb, "
        "array('p', 'q') AS sa, map(2, 10, 5, 50) AS m FROM range(1)"
    )

    def one(e):
        return spark.sql(transpile(f"SELECT {e} AS r FROM a4t")).first().r

    assert one("arrayMin(v -> -v, a)") == -3
    assert one("arrayAvg(v -> v * 2, a)") == 4.0
    assert one("arrayUniq(a, a)") == 3
    assert one("arrayUniq(a)") == 3
    # LOCF: zeros take the nearest preceding (following) non-zero
    assert one("arrayFill(v -> v != 0, f)") == [1, 1, 2, 2, 3]
    assert one("arrayReverseFill(v -> v != 0, f)") == [1, 2, 2, 3, 3]
    # split BEFORE true elements (first element never splits off an
    # empty head — the CH flag-on-first rule); reverse splits AFTER
    assert [list(g) for g in one("arraySplit(v -> v = 0, f)")] == [
        [1], [0, 2], [0, 3],
    ]
    assert [list(g) for g in one("arrayReverseSplit(v -> v = 0, f)")] \
        == [[1, 0], [2, 0], [3]]
    assert one("arraySplit(v -> v = 0, emp)") == []
    assert one("arraySlice(a, 2)") == [1, 2]
    assert one("arraySlice(a, -2)") == [1, 2]
    assert one("arraySlice(a, 9)") == []
    assert one("arrayAUCUnscaled(sc, lb)") == 3.0  # 0.75 * 2 pos * 2 neg
    assert abs(one("arrayROCAUC(sc, lb)") - 0.75) < 1e-12
    assert one("mapPopulateSeries(m)") == {2: 10, 3: 0, 4: 0, 5: 50}
    assert spark.sql(
        transpile("SELECT groupArrayArray(sa) AS r FROM a4t")
    ).first().r == ["p", "q"]
    assert spark.sql(
        transpile("SELECT uniqArray(a) AS r FROM a4t")
    ).first().r == 3
    assert str(one(
        "toStartOfMillisecond(CAST('2024-03-15 10:30:45.123456' "
        "AS TIMESTAMP))"
    )) == "2024-03-15 10:30:45.123000"
    for bad, msg in [
        ("flattenTuple(m)", "introspection|Tuple-TYPE"),
        ("toStartOfNanosecond(CAST('2024-01-01' AS TIMESTAMP))",
         "microsecond"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM a4t")


def test_r9_distinct_window_and_state_seed(spark):
    """r9 audit batch 5: uniqExact as a WINDOW function (Spark
    refuses DISTINCT window aggregates — rewritten to the frame-local
    collect_set size) and initializeAggregation seeding the portable
    -State families per row."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW dw_t AS SELECT id AS x, "
        "CAST(id AS DOUBLE) AS v, id % 3 AS g FROM range(12)"
    )
    rows = {
        (r.g, r.u)
        for r in spark.sql(
            transpile(
                "SELECT g, uniqExact(x % 2) OVER (PARTITION BY g) "
                "AS u FROM dw_t"
            )
        ).collect()
    }
    assert rows == {(0, 2), (1, 2), (2, 2)}
    r = spark.sql(
        transpile(
            """
SELECT sumMerge(ss) AS s, countMerge(cs) AS c, avgMerge(avs) AS av,
       uniqExactMerge(us) AS ue, argMaxMerge(ams) AS am
FROM (SELECT initializeAggregation('sumState', x) AS ss,
             initializeAggregation('countState', x) AS cs,
             initializeAggregation('avgState', v) AS avs,
             initializeAggregation('uniqExactState', x % 4) AS us,
             initializeAggregation('argMaxState', toString(x), v)
               AS ams
      FROM dw_t)"""
        )
    ).first()
    assert (r.s, r.c, r.av, r.ue, r.am) == (66, 12, 5.5, 4, "11")
    # a seeded uniq state merges with aggregate-built states
    t = spark.sql(
        transpile(
            "SELECT uniqMerge(u) AS t FROM ("
            "(SELECT uniqState(x % 4) AS u FROM dw_t) UNION ALL "
            "(SELECT initializeAggregation('uniqState', 99) AS u))"
        )
    ).first().t
    assert t == 5
    for bad, msg in [
        ("initializeAggregation('topKState', x)", "portable"),
        ("formatRow('CSV', x)", "serialization"),
        ("dumpColumnStructure(x)", "introspection"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM dw_t")


def test_r9_limit_offset_comma_and_untuple_guard(spark):
    """r9 audit batch 6: the MySQL/CH ``LIMIT offset, n`` comma form
    (Spark parse error before) and the untuple inline-expression
    guard (Spark expands only named struct references)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW lc_t AS SELECT id AS x, "
        "id % 3 AS g FROM range(12)"
    )
    assert transpile("SELECT x FROM lc_t ORDER BY x LIMIT 2, 3") \
        .endswith("LIMIT 3 OFFSET 2")
    assert [
        r.x
        for r in spark.sql(
            transpile("SELECT x FROM lc_t ORDER BY x LIMIT 2, 3")
        ).collect()
    ] == [2, 3, 4]
    # LIMIT o,n BY still routes through the per-key window rewrite
    q = transpile("SELECT x, g FROM lc_t ORDER BY x LIMIT 1, 1 BY g")
    assert sorted((r.x, r.g) for r in spark.sql(q).collect()) == [
        (3, 0), (4, 1), (5, 2),
    ]
    with pytest.raises(DialectError, match="named struct"):
        transpile("SELECT untuple((1, 'a'))")
    assert transpile("SELECT untuple(t) FROM x") == (
        "SELECT t.* FROM x"
    )


def test_r10_in_frame_guard(spark):
    """lagInFrame/leadInFrame frame contract (VERDICT r9 item 4):
    frame-equivalent spellings map (explicit frames stripped — Spark's
    lag/lead reject them), divergent frames refuse instead of silently
    ignoring the frame."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW if_t AS "
        "SELECT id AS x FROM range(5)"
    )
    # default frame: lagInFrame == lag
    d = [
        r.d for r in spark.sql(transpile(
            "SELECT x - lagInFrame(x, 1) OVER (ORDER BY x) AS d "
            "FROM if_t"
        )).collect()
    ]
    assert d[0] is None and all(int(v) == 1 for v in d[1:])
    # explicit full-lookback frame: allowed, frame stripped for Spark
    q = transpile(
        "SELECT lagInFrame(x, 1) OVER (ORDER BY x ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS p FROM if_t"
    )
    assert "ROWS" not in q.upper()
    assert [r.p for r in spark.sql(q).collect()] == [None, 0, 1, 2, 3]
    # clipped lookback: CH respects the frame, Spark's lag cannot
    with pytest.raises(DialectError, match="UNBOUNDED PRECEDING"):
        transpile(
            "SELECT lagInFrame(x, 3) OVER (ORDER BY x ROWS BETWEEN "
            "2 PRECEDING AND CURRENT ROW) FROM if_t"
        )
    # leadInFrame under the DEFAULT frame never equals lead() in CH
    # (frame ends at CURRENT ROW): refuse with the spell-it hint
    with pytest.raises(DialectError, match="UNBOUNDED FOLLOWING"):
        transpile("SELECT leadInFrame(x, 1) OVER (ORDER BY x) FROM if_t")
    # the full-frame spelling IS lead(): maps and runs
    q = transpile(
        "SELECT leadInFrame(x, 1) OVER (ORDER BY x ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nx FROM if_t"
    )
    assert [r.nx for r in spark.sql(q).collect()] == [1, 2, 3, 4, None]
    # named window with an explicit frame: refuse (stripping a shared
    # WINDOW definition would change its other users)
    with pytest.raises(DialectError, match="inline"):
        transpile(
            "SELECT lagInFrame(x, 1) OVER w FROM if_t WINDOW w AS "
            "(ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW)"
        )
    # named window without a frame resolves and maps
    q = transpile(
        "SELECT lagInFrame(x, 1) OVER w AS p FROM if_t "
        "WINDOW w AS (ORDER BY x)"
    )
    assert [r.p for r in spark.sql(q).collect()] == [None, 0, 1, 2, 3]


def test_r11_in_frame_far_bound(spark):
    """ADVICE r10 (medium): the offset row must be inside the frame on
    BOTH sides.  lagInFrame over … AND 2 PRECEDING and leadInFrame
    over 2 FOLLOWING AND … return the default in ClickHouse for
    offsets that land in the gap next to CURRENT ROW, so plain
    lag/lead diverge — refuse both."""
    with pytest.raises(DialectError, match="CURRENT ROW"):
        transpile(
            "SELECT lagInFrame(x, 1) OVER (ORDER BY x ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND 2 PRECEDING) FROM if_t"
        )
    with pytest.raises(DialectError, match="CURRENT ROW"):
        transpile(
            "SELECT leadInFrame(x, 1) OVER (ORDER BY x ROWS BETWEEN "
            "2 FOLLOWING AND UNBOUNDED FOLLOWING) FROM if_t"
        )
    # frames that do reach CURRENT ROW on the near side still map
    q = transpile(
        "SELECT leadInFrame(x, 1) OVER (ORDER BY x ROWS BETWEEN "
        "CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx FROM if_t"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW if_t AS "
        "SELECT id AS x FROM range(5)"
    )
    assert [r.nx for r in spark.sql(q).collect()] == [1, 2, 3, 4, None]
    q = transpile(
        "SELECT lagInFrame(x, 1) OVER (ORDER BY x ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND 1 FOLLOWING) AS p FROM if_t"
    )
    assert [r.p for r in spark.sql(q).collect()] == [None, 0, 1, 2, 3]


def test_r11_named_window_cte_collision(spark):
    """ADVICE r10: a CTE sharing a named window's name must not be
    misread as the window spec — the scan is anchored to the WINDOW
    keyword."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW if_t AS "
        "SELECT id AS x FROM range(5)"
    )
    # CTE `w` has a frame-looking body; the real WINDOW w is frameless
    # and must resolve (a spec-anchored scan; the old statement-wide
    # scan read the CTE and refused).
    q = transpile(
        "WITH w AS (SELECT x FROM if_t) "
        "SELECT lagInFrame(x, 1) OVER w AS p FROM w "
        "WINDOW w AS (ORDER BY x)"
    )
    assert [r.p for r in spark.sql(q).collect()] == [None, 0, 1, 2, 3]
    # second definition in a multi-window clause resolves too
    q = transpile(
        "SELECT lagInFrame(x, 1) OVER w2 AS p FROM if_t "
        "WINDOW w1 AS (PARTITION BY x), w2 AS (ORDER BY x)"
    )
    assert [r.p for r in spark.sql(q).collect()] == [None, 0, 1, 2, 3]


def test_r10_sum_with_overflow(spark):
    """sumWithOverflow wraps at the INLINE-declared width (the CH DDL
    width is invisible to the transpiler, so the bare-column form
    refuses with the wrap-the-argument hint).  Python bignum arithmetic
    is the reference."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW swo_t AS SELECT "
        "CAST(2305843009213693951 - id * 7 AS BIGINT) AS big, "
        "CAST(id AS BIGINT) AS x FROM range(5000)"
    )
    row = spark.sql(transpile(
        "SELECT sumWithOverflow(toUInt8(x % 256)) AS u8, "
        "sumWithOverflow(toInt8(x % 128 - 64)) AS i8, "
        "sumWithOverflow(toUInt32(x * 999331)) AS u32, "
        "sumWithOverflow(toInt64(big)) AS i64, "
        "toString(sumWithOverflow(toUInt64(big))) AS u64 FROM swo_t"
    )).collect()[0]

    def wrap(v, bits, unsigned):
        m = v % (1 << bits)
        return m if unsigned or m < (1 << (bits - 1)) else m - (1 << bits)

    bigs = [2305843009213693951 - i * 7 for i in range(5000)]
    xs = list(range(5000))
    assert row.u8 == wrap(sum(x % 256 for x in xs), 8, True)
    assert row.i8 == wrap(sum(x % 128 - 64 for x in xs), 8, False)
    assert row.u32 == wrap(sum(x * 999331 for x in xs), 32, True)
    assert row.i64 == wrap(sum(bigs), 64, False)
    assert int(row.u64) == wrap(sum(bigs), 64, True)
    with pytest.raises(DialectError, match="declare it inline"):
        transpile("SELECT sumWithOverflow(x) FROM swo_t")


def test_r10_json_path_walk(spark):
    """Path-form JSONType / JSONAllPaths / JSONExtractKeysAndValuesRaw
    via the stdlib indices_or_keys walk: string key, 1-based and
    negative member index (objects AND arrays), miss markers, the
    UInt64 width split surviving through a path (get_json_object's raw
    text could not distinguish \"5\" from 5 — the walk classifies
    parsed values)."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    doc = (
        '{"a": {"b": [1, "x", {"c": true}]}, '
        '"n": 18446744073709551615, "s": "5"}'
    )
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one(f"JSONType('{doc}', 'a')") == "Object"
    assert one(f"JSONType('{doc}', 'a', 'b')") == "Array"
    assert one(f"JSONType('{doc}', 'a', 'b', 2)") == "String"
    assert one(f"JSONType('{doc}', 'a', 'b', -1)") == "Object"
    assert one(f"JSONType('{doc}', 'n')") == "UInt64"
    assert one(f"JSONType('{doc}', 's')") == "String"
    assert one(f"JSONType('{doc}', 2)") == "UInt64"  # 2nd member = n
    assert one(f"JSONType('{doc}', 'zz')") == "Null"
    assert one("JSONType('not json', 'a')") == "Null"
    assert one(f"arrayStringConcat(JSONAllPaths('{doc}'), ',')") == (
        "a.b,n,s"
    )
    assert one("arrayStringConcat(JSONAllPaths('[1,2]'), ',')") == ""
    kv = one(
        "arrayStringConcat(arrayMap(t -> concat(tupleElement(t, 'k'), "
        f"'=', tupleElement(t, 'v')), JSONExtractKeysAndValuesRaw("
        f"'{doc}', 'a')), ';')"
    )
    assert kv == 'b=[1,"x",{"c":true}]'
    with pytest.raises(DialectError, match="literal"):
        transpile("SELECT JSONType(j, k) FROM t")
    with pytest.raises(DialectError, match="storage layout"):
        transpile("SELECT JSONDynamicPaths(j) FROM t")


def test_r10_id_generators(spark):
    """generateUUIDv4/v7 + generateSnowflakeID: zero-arg forms are
    faithfully random/time-ordered (shape + clock checks), one-arg
    forms are the deterministic md5 tier (pure function of the
    argument — the seeded groupArraySample precedent)."""
    import re as _re
    import time as _time

    row = spark.sql(transpile(
        "SELECT generateUUIDv4() AS u4, generateUUIDv7() AS u7, "
        "generateSnowflakeID() AS sf, "
        "snowflakeIDToDateTime(generateSnowflakeID()) AS sf_ts, "
        "generateUUIDv7(42) AS d7a, generateUUIDv7(42) AS d7b, "
        "generateSnowflakeID(42) AS dsf"
    )).collect()[0]
    v4re = _re.compile(
        r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-"
        r"[0-9a-f]{12}$"
    )
    v7re = _re.compile(
        r"^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-"
        r"[0-9a-f]{12}$"
    )
    assert v4re.match(row.u4) and v7re.match(row.u7)
    # v7 timestamp field is the wall clock (48-bit ms)
    ms = int(row.u7[:8] + row.u7[9:13], 16)
    assert abs(ms / 1000 - _time.time()) < 300
    # snowflake ms field (bits 22+) round-trips through the decoder
    assert abs(row.sf_ts.timestamp() - _time.time()) < 300
    assert row.sf // 4194304 > 0
    # deterministic tier: equal argument → equal id, valid v7 shape
    assert row.d7a == row.d7b and v7re.match(row.d7a)
    assert 0 <= row.dsf < (1 << 60)
    # distinct arguments give distinct ids
    rows = spark.sql(transpile(
        "SELECT generateUUIDv7(number) AS u, "
        "generateSnowflakeID(number) AS s FROM numbers(64)"
    )).collect()
    assert len({r.u for r in rows}) == 64
    assert len({r.s for r in rows}) == 64


def test_r11_id_generator_warning():
    """ADVICE r10: the one-arg deterministic id tier is a silent
    runtime divergence (equal args → equal ids; CH stays random), so
    the transpiler surfaces it as a DialectWarning with the zero-arg
    pointer; the faithful zero-arg forms stay silent."""
    import warnings

    from clickhouse_vs_dbt_spark.dialect import DialectWarning

    for expr in (
        "generateUUIDv4(x)", "generateUUIDv7(x)",
        "generateSnowflakeID(x)",
    ):
        with pytest.warns(DialectWarning, match="EQUAL ids"):
            transpile(f"SELECT {expr} FROM t")
    with warnings.catch_warnings():
        warnings.simplefilter("error", DialectWarning)
        transpile(
            "SELECT generateUUIDv4(), generateUUIDv7(), "
            "generateSnowflakeID()"
        )


def test_r10_regexp_quote_meta(spark):
    """regexpQuoteMeta backslash-escapes CH's documented metacharacter
    set (was a refusal through r9); the escaped text matches itself
    literally through regexp_like."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("regexpQuoteMeta('a.b*c[d]-e{f:g|h')") == (
        "a\\.b\\*c\\[d\\]\\-e\\{f\\:g\\|h"
    )
    assert one("regexpQuoteMeta('plain')") == "plain"
    raw = "x.y[z]*+?{:-|^$()"
    got = spark.sql(transpile(
        f"SELECT regexp_like('{raw}', "
        f"concat('^', regexpQuoteMeta('{raw}'), '$')) AS v"
    )).collect()[0].v
    assert got is True


def test_r10_review_fixes(spark):
    """Code-review regressions (r10): jaro short-string window clamp +
    Winkler 0.7 boost threshold; frame keywords vs columns NAMED
    rows/range; JSONPath integer subscripts index lists only; step
    literals with embedded quotes survive SQL-literal escaping."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    # window clamp: single-char equal strings are identical, not 0
    assert one("jaroSimilarity('a', 'a')") == 1.0
    assert one("jaroWinklerSimilarity('a', 'a')") == 1.0
    # Winkler boost only above the 0.7 threshold (DuckDB/CH gate):
    # jaro('abcd','abxx') = 2/3 and stays 2/3 despite the 2-char prefix
    assert abs(one("jaroWinklerSimilarity('abcd', 'abxx')") - 2 / 3) < 1e-12
    # a column merely NAMED range/rows is not a frame clause
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW fr_t AS SELECT id AS x, "
        "id % 2 AS range, id % 3 AS rows FROM range(6)"
    )
    q = transpile(
        "SELECT lagInFrame(x, 1) OVER (PARTITION BY range ORDER BY x) "
        "AS p FROM fr_t"
    )
    assert spark.sql(q).count() == 6
    # ...and a real frame AFTER a sort key named rows still strips
    # without deleting the key
    q = transpile(
        "SELECT leadInFrame(x, 1) OVER (ORDER BY rows, x ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n FROM fr_t"
    )
    assert "ORDER BY rows, x" in q and "BETWEEN" not in q.upper()
    spark.sql(q).collect()
    # JSON_QUERY integer subscripts are JSONPath: lists only
    assert one("JSON_QUERY('{\"a\":{\"x\":7}}', '$.a[0]')") is None
    assert one("JSON_QUERY('{\"a\":[7,8]}', '$.a[1]')") == "[8]"
    # a path key containing a double quote survives the literal
    assert one('JSONType(\'{"he\\\\"llo": 5}\', \'he"llo\')') == "Int64"


def test_r10_positional_tuple_on_kv_raw(spark):
    """CH's JSONExtractKeysAndValuesRaw returns an UNNAMED tuple, so
    verbatim queries use positional access: ``kv[n].1/.2`` maps to the
    fixed (k, v) fields; positional access on a lambda var / alias
    (where no type info exists) refuses with the field-name pointer
    instead of leaking an opaque Spark error."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    row = spark.sql(transpile(
        "SELECT JSONExtractKeysAndValuesRaw('{\"a\":5,\"b\":[1]}')[1].1"
        " AS k1, "
        "JSONExtractKeysAndValuesRaw('{\"a\":5,\"b\":[1]}')[2].2 AS v2"
    )).collect()[0]
    assert (row.k1, row.v2) == ("a", "[1]")
    with pytest.raises(DialectError, match="name-addressed"):
        transpile(
            "SELECT arrayMap(t -> t.1, "
            "JSONExtractKeysAndValuesRaw(j)) FROM d"
        )


def test_r10_scalar_batch5(spark):
    """r10 audit batch 5: gcd/lcm Euclid folds, width-declared
    byteSwap, bit Hamming distance, null/zero vocabulary, functional
    array element access, id/time conveniences."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("gcd(12, 18)") == 6
    assert one("lcm(4, 6)") == 12
    assert one("gcd(0, 5)") == 5
    assert one("gcd(-12, 18)") == 6  # CH gcd is on absolute values
    # worst-case Euclid depth: consecutive Fibonacci numbers
    assert one("gcd(7540113804746346429, 4660046610375530309)") == 1
    assert one("byteSwap(toUInt32(3351772109))") == 3455829959
    assert one("byteSwap(toUInt8(200))") == 200
    assert one("byteSwap(toUInt16(4135))") == 10000
    with pytest.raises(DialectError, match="declare it inline"):
        transpile("SELECT byteSwap(x) FROM t")
    assert one("bitHammingDistance(111, 109)") == 1
    assert one("isZeroOrNull(0)") == 1
    assert one("isZeroOrNull(CAST(NULL AS BIGINT))") == 1
    assert one("isZeroOrNull(3)") == 0
    assert one("arrayElement([10, 20, 30], -1)") == 30
    assert one("arrayElement([10, 20, 30], 9)") is None
    assert 0 <= one("randCanonical()") < 1
    assert one("now64(3) IS NOT NULL") is True
    with pytest.raises(DialectError, match="microsecond"):
        transpile("SELECT now64(9)")


def test_r10_scalar_batch6(spark):
    """r10 audit batch 6: base58 codecs, multi-needle positions, the
    2-arg INTERVAL timestamp arithmetic, multi-codepoint char, tuple
    vector-math refusals."""
    from clickhouse_vs_dbt_spark.compat import register_clickhouse_compat

    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    # Bitcoin-alphabet vectors (leading zero byte → leading '1')
    assert one("base58Encode('Hello')") == "9Ajdvzr"
    assert one("base58Decode(base58Encode('Hello World!'))") == (
        "Hello World!"
    )
    assert one("base58Encode('')") == ""
    with pytest.raises(Exception, match="invalid character|Python"):
        one("base58Decode('0OIl')")  # excluded alphabet chars
    assert one(
        "multiSearchAllPositions('Hello World', "
        "['Hello', 'zz', 'World'])"
    ) == [1, 0, 7]
    assert one("positionCaseInsensitiveUTF8('Hello', 'ELL')") == 2
    assert str(one(
        "timestampAdd(CAST('2024-03-15' AS TIMESTAMP), "
        "INTERVAL 1 DAY)"
    )).startswith("2024-03-16")
    assert str(one(
        "dateSub(CAST('2024-03-15' AS DATE), INTERVAL 1 MONTH)"
    )).startswith("2024-02-15")
    assert one("char(72, 105)") == "Hi"
    # literal tuples map since r11 (test_r11_tuple_arithmetic); the
    # column-tuple form keeps the spell-as-ARRAYS refusal
    with pytest.raises(DialectError, match="ARRAYS"):
        transpile("SELECT tuplePlus(t1, t2) FROM x")


def test_r10_scalar_batch7(spark):
    """r10 audit batch 7: deterministic median variant, seeded
    arrayShuffle tier, Date32/substringIndexUTF8 aliases, CRC64
    refusal."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert str(one("toDate32(CAST('2024-03-15' AS TIMESTAMP))")) == (
        "2024-03-15"
    )
    assert one("substringIndexUTF8('a.b.c', '.', 2)") == "a.b"
    # seeded shuffle: deterministic permutation of the same multiset
    p1 = one("arrayShuffle([1, 2, 3, 4, 5, 6], 42)")
    p2 = one("arrayShuffle([1, 2, 3, 4, 5, 6], 42)")
    p3 = one("arrayShuffle([1, 2, 3, 4, 5, 6], 7)")
    assert p1 == p2 and sorted(p1) == [1, 2, 3, 4, 5, 6]
    assert sorted(p3) == [1, 2, 3, 4, 5, 6] and p3 != p1
    assert sorted(one("arrayShuffle([1, 2, 3])")) == [1, 2, 3]
    assert one("medianDeterministic(5.0, 1)") == 5.0
    with pytest.raises(DialectError, match="crc32"):
        transpile("SELECT CRC64(s) FROM t")


def test_r10_scalar_batch8(spark):
    """r10 audit batch 8: IP codecs, Morton space-filling pair,
    defaultless transform, byte-tool refusals."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("isIPv6String('2001:db8::1')") is True
    assert one("isIPv6String('::ffff:1.2.3.4')") is True
    assert one("isIPv6String('1.2.3.4')") is False
    assert one("isIPv6String('2001:db8::zz')") is False
    r = one("IPv4CIDRToRange(toIPv4('192.168.5.2'), 16)")
    assert (r.lo, r.hi) == ("192.168.0.0", "192.168.255.255")
    # positional access rides the named_struct literal machinery
    assert one(
        "IPv4CIDRToRange(toIPv4('10.1.2.3'), 8).1"
    ) == "10.0.0.0"
    assert one("IPv4ToIPv6(toIPv4('1.2.3.4'))") == "::ffff:1.2.3.4"
    # Morton roundtrip at 32 bits/dim
    d = one("mortonDecode(2, mortonEncode(123456, 789))")
    assert (d.x, d.y) == (123456, 789)
    assert one("mortonEncode(0, 1)") == 2  # y takes odd bit positions
    assert one("transform(5, [1, 5], [10, 50])") == 50
    assert one("transform(7, [1, 5], [10, 50])") == 7  # pass-through
    assert one("toStringCutToZero(concat('ab', chr(0), 'cd'))") == "ab"
    assert one("simpleJSONHas('{\"a\":1}', 'a')") is True
    assert one("simpleJSONHas('{\"a\":1}', 'z')") is False
    # second-review regressions (r10b): signed byteSwap widths
    # sign-extend, nested byteSwap re-scans, char() assembles BYTES,
    # IPv6 embedded-v4 forms validate via the normalize-then-check
    # two-step, simpleJSONHas scans ANY depth like CH's raw-text
    # fast path, kv positions beyond .2 refuse
    assert one("byteSwap(toInt16(-2))") == -257
    assert one("byteSwap(toInt32(-1))") == -1
    assert one(
        "byteSwap(toUInt32(byteSwap(toUInt32(123456789))))"
    ) == 123456789
    assert one("char(208, 176)") == "\u0430"  # Cyrillic а from bytes
    assert one("isIPv6String('0:0:0:0:0:ffff:1.2.3.4')") is True
    assert one("isIPv6String('1:2:3:4:5::1.2.3.4')") is True
    assert one("isIPv6String('1:2:3:4:5:6:7:8:9')") is False
    assert one("simpleJSONHas('{\"a\":{\"b\":1}}', 'b')") is True
    for bad, msg in [
        # hilbertEncode(x, y) and fixed-width reinterpretAs* map
        # since r11 (test_r11_hilbert / test_r11_reinterpret_family);
        # the still-refused forms:
        ("hilbertEncode(1, 2, 3)", "2-dimension"),
        ("reinterpretAsUInt128(s)", "engine byte layout"),
        ("mortonEncode(1, 2, 3)", "pairwise"),
        ("mortonDecode(3, x)", "pairwise"),
        ("IPv4CIDRToRange(toIPv4('1.2.3.4'), 33)", "prefix"),
        ("simpleJSONHas(s, k)", "literal key"),
        ("arrayNormalizedGini(a, a)", "arrayAUC"),
        ("JSONExtractKeysAndValuesRaw(j)[1].3", "2-tuples"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM t")


def test_r10_scalar_batch9(spark):
    """r10 audit batch 9: arrayReduce common heads, readable
    quantities, decimal strings, digit counts."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("formatReadableQuantity(1234567)") == "1.23 million"
    assert one("formatReadableQuantity(123)") == "123.00"
    # quadrillion is ClickHouse's largest unit
    assert one("formatReadableQuantity(2000000000000000)") == (
        "2.00 quadrillion"
    )
    assert one("formatReadableQuantity(5e18)") == "5000.00 quadrillion"
    assert one("arrayReduce('sum', [1, 2, 3])") == 6.0
    assert one("arrayReduce('uniqExact', [1, 2, 2])") == 2
    assert one("arrayReduce('anyLast', [1, 2, 9])") == 9
    assert one("arrayReduce('groupUniqArray', [2, 1, 2])") in (
        [1, 2], [2, 1]
    )
    assert one("toDecimalString(2.5678, 2)") == "2.57"
    assert one("countDigits(-12045)") == 5
    for bad, msg in [
        ("arrayReduce('quantile(0.5)', [1.0])", "directly"),
        # sumResample(…)(…) and extractAllGroups* map since r11 —
        # their tests live in test_r11_* below
        ("multiFuzzyMatchAny(s, 2, ['x'])", "Hyperscan"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM t")


def test_r11_resample_combinator(spark):
    """-Resample (VERDICT r10 item 2): literal (start, stop, step)
    expands to one -If aggregate per bucket, returned as the bucket
    array; the tail bucket clips at stop; non-literal params, unknown
    heads, and bucket blowups refuse."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW rs_t AS "
        "SELECT id AS x, id % 7 AS key FROM range(100)"
    )
    r = spark.sql(transpile(
        "SELECT countResample(0, 7, 3)(key) AS c, "
        "sumResample(0, 7, 3)(x, key) AS s, "
        "minResample(0, 7, 3)(x, key) AS mn, "
        "uniqExactResample(0, 7, 3)(x % 10, key) AS u FROM rs_t"
    )).collect()[0]
    rows = [(x, x % 7) for x in range(100)]
    exp_c = [
        sum(1 for _, k in rows if lo <= k < hi)
        for lo, hi in ((0, 3), (3, 6), (6, 7))
    ]
    exp_s = [
        sum(x for x, k in rows if lo <= k < hi)
        for lo, hi in ((0, 3), (3, 6), (6, 7))
    ]
    exp_u = [
        len({x % 10 for x, k in rows if lo <= k < hi})
        for lo, hi in ((0, 3), (3, 6), (6, 7))
    ]
    assert r.c == exp_c and r.s == exp_s and r.u == exp_u
    assert r.mn[2] == 6  # tail bucket is key ∈ [6, 7)
    for bad, msg in [
        ("sumResample(0, 10, 2)", "parametric"),  # one-list form
        ("sumResample(a, 10, 2)(x, g)", "literal"),
        ("sumResample(0, 10)(x, g)", "triple"),
        ("quantileResample(0, 10, 2)(x, g)", "If-capable"),
        ("sumResample(0, 1000000, 1)(x, g)", "GROUP BY"),
        ("sumResample(10, 0, 2)(x, g)", "stop > start"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM t")


def test_r11_extract_all_groups(spark):
    """extractAllGroupsHorizontal/Vertical (VERDICT r10 item 3):
    per-group arrays across matches / per-match group rows, with CH's
    documented no-match asymmetry (N empty arrays vs [])."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    h = one(
        r"extractAllGroupsHorizontal('k1=v1, k2=v2', '(\\w+)=(\\w+)')"
    )
    v = one(
        r"extractAllGroupsVertical('k1=v1, k2=v2', '(\\w+)=(\\w+)')"
    )
    assert h == [["k1", "k2"], ["v1", "v2"]]
    assert v == [["k1", "v1"], ["k2", "v2"]]
    assert one(
        r"extractAllGroupsHorizontal('no', '(\\d+)-(\\d+)')"
    ) == [[], []]
    assert one(r"extractAllGroupsVertical('no', '(\\d+)-(\\d+)')") == []
    with pytest.raises(DialectError, match="literal pattern"):
        transpile("SELECT extractAllGroupsHorizontal(s, p) FROM t")
    with pytest.raises(DialectError, match="capture groups"):
        transpile(r"SELECT extractAllGroupsVertical(s, 'ab+') FROM t")
    # group counting (code-review r11): Java named captures ARE
    # numbered; '(' inside a character class is a literal
    assert one(
        r"extractAllGroupsVertical('k=1 j=2', '(\\w+)=(?<v>\\d)')"
    ) == [["k", "1"], ["j", "2"]]
    assert one(
        r"extractAllGroupsHorizontal('a(b', '([(])')"
    ) == [["("]]
    # lookbehind groups are NOT numbered
    assert one(
        r"extractGroups('xa1', '(?<=x)(\\w)(\\d)')"
    ) == ["a", "1"]


def test_r11_tuple_arithmetic(spark):
    """Literal-arity tuple arithmetic (VERDICT r10 item 5): per-field
    struct expansion for (a, b) / tuple(a, b) spellings; column
    tuples and arity mismatches refuse."""
    r = spark.sql(transpile(
        "SELECT tuplePlus((1, 2.5), (10, 20)) AS p, "
        "tupleMinus(tuple(5, 7), (1, 2)) AS m, "
        "tupleMultiply((2, 3), (4, 5)) AS x, "
        "tupleNegate((1, -2, 3)) AS n, "
        "tupleMultiplyByNumber((1, 2), 3) AS mn, "
        "tupleHammingDistance((1, 2, 3), (1, 9, 3)) AS hd"
    )).collect()[0]
    assert tuple(r.p) == (11, 22.5) and tuple(r.m) == (4, 5)
    assert tuple(r.x) == (8, 15) and tuple(r.n) == (-1, 2, -3)
    assert tuple(r.mn) == (3, 6) and r.hd == 1
    # NULL components propagate NULL through the hamming sum —
    # ClickHouse's Nullable equality, not a fabricated 0/1 count
    # (ADVICE r11)
    rn = spark.sql(transpile(
        "SELECT tupleHammingDistance((1, NULL), (1, 2)) AS a, "
        "tupleHammingDistance((NULL, 2), (NULL, 2)) AS b, "
        "tupleHammingDistance((1, 2), (1, 3)) AS c"
    )).collect()[0]
    assert rn.a is None and rn.b is None and rn.c == 1
    with pytest.raises(DialectError, match="LITERAL"):
        transpile("SELECT tuplePlus(t, (1, 2)) FROM x")
    with pytest.raises(DialectError, match="arities"):
        transpile("SELECT tupleMinus((1, 2), (1, 2, 3))")


def test_r11_reinterpret_family(spark):
    """Fixed-width reinterpretAs* (VERDICT r10 item 4): string inputs
    take the little-endian byte image (struct.pack is the ground
    truth), integral inputs width-truncate, everything else refuses
    loudly at runtime; engine-layout targets refuse at transpile."""
    import struct

    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("reinterpretAsUInt8('a')") == 97
    assert one("reinterpretAsUInt16('ab')") == struct.unpack(
        "<H", b"ab"
    )[0]
    assert one("reinterpretAsUInt32('abcd')") == struct.unpack(
        "<I", b"abcd"
    )[0]
    # short string zero-pads
    assert one("reinterpretAsUInt32('ab')") == struct.unpack(
        "<I", b"ab\x00\x00"
    )[0]
    assert one("toString(reinterpretAsUInt64('abcdefgh'))") == str(
        struct.unpack("<Q", b"abcdefgh")[0]
    )
    assert one("reinterpretAsInt64('abcdefgh')") == struct.unpack(
        "<q", b"abcdefgh"
    )[0]
    # integral inputs: width truncation + two's-complement re-sign
    assert one("reinterpretAsInt8(255)") == -1
    assert one("reinterpretAsUInt8(300)") == 44
    # number → LE bytes, trailing nulls dropped
    assert one("reinterpretAsString(97)") == "a"
    assert one("reinterpretAsString(25185)") == "ab"
    assert one("reinterpretAsString(0)") == ""
    # float bit images are exact
    assert one("reinterpretAsFloat64('somebytes')") == struct.unpack(
        "<d", b"somebyte"
    )[0]
    assert one("reinterpretAsFloat32('abcd')") == struct.unpack(
        "<f", b"abcd"
    )[0]
    assert one("reinterpretAsFloat64('')") == 0.0
    import datetime

    assert one("reinterpretAsDate(17000)") == datetime.date(
        1970, 1, 1
    ) + datetime.timedelta(days=17000)
    # runtime refusals: erased-width inputs, negative-to-string
    for bad in (
        "reinterpretAsUInt32(1.5)", "reinterpretAsString(-1)",
        "reinterpretAsFloat64(7)",
    ):
        with pytest.raises(Exception, match="byte image"):
            spark.sql(transpile(f"SELECT {bad} AS v")).collect()
    # a byte >= 0x80 in the image is not single-byte UTF-8: loud,
    # named refusal — not an opaque charset crash (code-review r11)
    with pytest.raises(Exception, match="non-ASCII bytes"):
        spark.sql(
            transpile("SELECT reinterpretAsString(200) AS v")
        ).collect()
    with pytest.raises(DialectError, match="engine byte layout"):
        transpile("SELECT reinterpretAsUUID(s) FROM t")


def test_r11_hilbert(spark):
    """hilbertEncode/Decode (VERDICT r10 item 6): the CH doc example
    pair (hilbertEncode(3,4)=31 / hilbertDecode(2,31)=(3,4)), the
    1-arg identity, and in-engine bijectivity over a grid."""
    r = spark.sql(transpile(
        "SELECT hilbertEncode(3, 4) AS e, hilbertEncode(7) AS i, "
        "hilbertDecode(2, 31) AS d"
    )).collect()[0]
    assert r.e == 31 and r.i == 7 and (r.d.x, r.d.y) == (3, 4)
    bad = spark.sql(transpile(
        "SELECT count() AS n FROM ("
        "  SELECT number % 37 AS x, intDiv(number, 37) % 29 AS y "
        "  FROM numbers(1073)) "
        "WHERE tupleElement(hilbertDecode(2, hilbertEncode(x, y)), "
        "'x') != x OR tupleElement(hilbertDecode(2, "
        "hilbertEncode(x, y)), 'y') != y"
    )).collect()[0].n
    assert bad == 0
    with pytest.raises(DialectError, match="2-dimension"):
        transpile("SELECT hilbertEncode(x, y, z) FROM t")
    with pytest.raises(DialectError, match="2-dimension"):
        transpile("SELECT hilbertDecode(3, d) FROM t")


def test_r11_scalar_batch10(spark):
    """r11 audit batch 10: width_bucket parity, the integer/concat
    tuple-vector forms, and the consistent-hash / Sqids / formatQuery
    / getSetting / arrayLevenshtein refusal walls."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("widthBucket(5.5, 0, 10, 4)") == 3
    assert one("widthBucket(-1, 0, 10, 4)") == 0  # below → 0
    assert one("widthBucket(11, 0, 10, 4)") == 5  # above → count+1
    assert tuple(one("tupleConcat((1, 2), (3, 4), tuple(5))")) == (
        1, 2, 3, 4, 5,
    )
    assert tuple(one("tupleIntDiv((10, 9), (3, 2))")) == (3, 4)
    # C-style modulo: sign follows the dividend (CH parity)
    assert tuple(one("tupleModulo((10, -9), (3, 2))")) == (1, -1)
    assert tuple(one("tupleIntDivByNumber((10, 9), 3)")) == (3, 3)
    assert tuple(one("tupleModuloByNumber((10, 9), 3)")) == (1, 0)
    for bad, msg in [
        ("jumpConsistentHash(x, 8)", "bucketing"),
        ("kostikConsistentHash(x, 8)", "bucketing"),
        ("sqidEncode(x)", "Sqids"),
        ("formatQuery(s)", "parser"),
        ("getSetting('max_threads')", "settings"),
        ("arrayLevenshtein(a, b)", "arrayJaccardIndex"),
        ("tupleConcat(t, (1, 2))", "LITERAL"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM t")


def test_r11_scalar_batch11(spark):
    """r11 audit batch 11: weekday modes, window-view functions, URL
    parameter surgery, byte-true hamming, wide date constructors, the
    tz family, and exact weighted quantiles."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b11_t AS SELECT id AS x, "
        "CAST(id % 5 AS DOUBLE) AS v, CAST(id % 3 + 1 AS BIGINT) AS w, "
        "timestamp_seconds(1700000000 + id * 600) AS ts FROM range(100)"
    )
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v FROM b11_t LIMIT 1")
    ).collect()[0].v
    import datetime

    wd = datetime.datetime.utcfromtimestamp(1700000000).weekday()
    assert one("toDayOfWeek(ts)") == wd + 1  # Mon-first 1-7
    assert one("toDayOfWeek(ts, 1)") == wd
    assert one("toDayOfWeek(ts, 2)") == (wd + 1) % 7
    assert one("toDayOfWeek(ts, 3)") == (wd + 1) % 7 + 1
    assert one("byteHammingDistance('abc', 'abd')") == 1
    assert one("byteHammingDistance('abc', 'a')") == 2
    assert one("byteHammingDistance('', '')") == 0
    assert one(
        "cutURLParameter('http://x.com/a?q=1&r=2#f', 'q')"
    ) == "http://x.com/a?r=2#f"
    assert one(
        "cutURLParameter('http://x.com/a?q=1', 'q')"
    ) == "http://x.com/a"
    assert str(one("makeDate32(2024, 3, 15)")) == "2024-03-15"
    assert one("timeZone()") == "UTC" and one("timeZoneOf(ts)") == "UTC"
    assert dict(one("mapSubtract(map('k', 5), map('k', 2))")) == {
        "k": 3
    }
    assert dict(
        one("mapExtractKeyLike(map('ka', 1, 'xb', 2), 'k%')")
    ) == {"ka": 1}
    # tumble/hop: one TimeWindow per query; start/end are arithmetic
    s, e = spark.sql(transpile(
        "SELECT tumbleStart(ts, INTERVAL 1 HOUR) AS s, "
        "tumbleEnd(ts, INTERVAL 1 HOUR) AS e FROM b11_t LIMIT 1"
    )).collect()[0]
    assert (e - s).total_seconds() == 3600
    n = spark.sql(transpile(
        "SELECT hop(ts, INTERVAL 30 MINUTE, INTERVAL 1 HOUR) AS w, "
        "count() AS n FROM b11_t "
        "GROUP BY hop(ts, INTERVAL 30 MINUTE, INTERVAL 1 HOUR)"
    )).agg({"n": "sum"}).collect()[0][0]
    assert n == 200  # every row belongs to two hopping windows
    # exact weighted quantiles vs a Python reference
    rows = [(float(i % 5), i % 3 + 1) for i in range(100)]

    def wq(p):
        pairs = sorted(rows)
        tot = sum(w for _, w in pairs)
        acc = 0
        for v_, w_ in pairs:
            acc += w_
            if acc >= p * tot:
                return v_

    got = spark.sql(transpile(
        "SELECT quantileExactWeighted(0.3)(v, w) AS q3, "
        "medianExactWeighted(v, w) AS md, "
        "quantilesExactWeighted(0.25, 0.75)(v, w) AS qs, "
        "quantileExactWeighted(v, w) AS qd FROM b11_t"
    )).collect()[0]
    assert got.q3 == wq(0.3) and got.md == wq(0.5)
    assert got.qd == wq(0.5) and got.qs == [wq(0.25), wq(0.75)]
    for bad, msg in [
        ("minSampleSizeContinous(1, 2, 3, 4, 5)", "inverse-CDF"),
        ("toTimeZone(ts, 'UTC')", "instant"),
        ("toDayOfWeek(ts, 9)", "mode"),
        ("hopStart(ts, INTERVAL 1 MINUTE, INTERVAL 1 HOUR)",
         "ambiguous"),
        ("tumble(ts, INTERVAL 1 MONTH)", "fixed-width"),
        ("cutURLParameter(u, p)", "literal"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM t")


def test_r11_scalar_batch12(spark):
    """r11 audit batch 12: base32/base64url codecs, set-bit
    positions, the one-sample t-test, and the bin/HTML walls."""
    import base64 as _b64
    import math
    import statistics

    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("base32Encode('Hello')") == _b64.b32encode(
        b"Hello"
    ).decode()
    assert one("base32Decode('JBSWY3DP')") == "Hello"
    assert one("base64URLEncode('https://clickhouse.com')") == (
        _b64.urlsafe_b64encode(b"https://clickhouse.com")
        .decode().rstrip("=")
    )
    assert one(
        "base64URLDecode(base64UrlEncode('hi there?&x=1'))"
    ) == "hi there?&x=1"
    assert one("bitPositionsToArray(11)") == [0, 1, 3]
    # negative values: the bit image is width-dependent (erased here)
    # — loud runtime refusal, the bin/unbin contract (review r11b)
    with pytest.raises(Exception, match="source width"):
        one("bitPositionsToArray(-1)")
    assert one("bitPositionsToArray(bitAnd(-1, 255))") == list(range(8))
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW tt1_t AS "
        "SELECT CAST(id % 7 AS DOUBLE) AS v FROM range(200)"
    )
    row = spark.sql(transpile(
        "SELECT studentTTestOneSample(v, 2.5) AS r FROM tt1_t"
    )).collect()[0].r
    vals = [float(i % 7) for i in range(200)]
    t_ref = (statistics.mean(vals) - 2.5) / (
        statistics.stdev(vals) / math.sqrt(len(vals))
    )
    assert abs(row.t_stat - t_ref) < 1e-9
    assert 0 <= row.p_value <= 1
    for bad, msg in [
        ("bin(x)", "FIXED-WIDTH"),
        ("unbin(s)", "FIXED-WIDTH"),
        ("extractTextFromHTML(s)", "parser"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM t")


def test_r11_scalar_batch13(spark):
    """r11 audit batch 13: the to*OrZero/OrNull/OrDefault defensive-
    cast family (with CH width-range guards), field-change date
    surgery with saturation, string byte statistics, readable-size
    parsing, and the guarded IPv4 forms."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    # defensive casts: fallback on parse failure AND on CH-width
    # overflow (300 does not fit UInt8 even though SMALLINT holds it)
    assert one("toUInt8OrZero('300')") == 0
    assert one("toUInt8OrZero('25')") == 25
    assert one("toUInt32OrNull('abc')") is None
    assert one("toUInt32OrNull('-1')") is None
    assert one("toInt64OrDefault('x', 9)") == 9
    assert one("toFloat64OrZero('1.5')") == 1.5
    assert str(one("toDateOrZero('nope')")) == "1970-01-01"
    assert str(one("toDate32OrZero('nope')")) == "1900-01-01"
    assert one("toDecimal64OrNull('2.345', 2)") == __import__(
        "decimal"
    ).Decimal("2.35")
    # field changes saturate like CH (Feb 29 → Feb 28, day 31 → 29)
    assert str(one(
        "changeYear(toDateTime('2020-02-29 10:11:12'), 2021)"
    )).startswith("2021-02-28")
    assert str(one(
        "changeDay(toDateTime('2024-02-10 05:00:00'), 31)"
    )).startswith("2024-02-29")
    assert str(one(
        "changeMonth(toDateTime('2024-01-31 00:00:00'), 2)"
    )).startswith("2024-02-29")
    assert one("mid('Hello', 2, 3)") == "ell"
    assert one(r"firstLine('a\nb\nc')") == "a"
    assert one("stringBytesUniq('Hello')") == 4
    assert one("stringBytesEntropy('aabb')") == 1.0
    assert one("stringBytesUniq('')") == 0
    assert one("parseReadableSize('1 KiB')") == 1024
    assert one("parseReadableSize('1.5 MB')") == 1_500_000
    assert one("parseReadableSizeOrZero('zz')") == 0
    assert one("parseReadableSizeOrNull('3 GiB')") == 3 * 1024 ** 3
    assert one("decodeURLFormComponent('a+b%20c')") == "a b c"
    assert one("toIPv4OrNull('1.2.3.4')") == 16909060
    assert one("toIPv4OrNull('999.2.3.4')") is None
    assert one("IPv4StringToNumOrDefault('bad', 7)") == 7
    for bad, msg in [
        ("toIPv6(s)", "binaries"),
        ("IPv6StringToNumOrNull(s)", "binaries"),
        ("toUInt256OrZero(s)", "tier"),
        ("structureToProtobufSchema(s)", "serializer"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM t")


def test_r11b_review_fixes(spark):
    """Second code-review pass (r11b): CH argument semantics and edge
    contracts in the batch 11-13 additions."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    # groupConcat: delimiter AND limit are PARAMETERS (CH spelling)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW gc_t AS "
        "SELECT concat('v', id) AS s FROM range(4)"
    )
    got = spark.sql(transpile(
        "SELECT groupConcat(', ', 2)(s) AS a, groupConcat(', ')(s) "
        "AS b FROM gc_t"
    )).collect()[0]
    assert got.a == "v0, v1" and got.b == "v0, v1, v2, v3"
    # toDateTime Or* second arg is a TIMEZONE, never the default
    assert one("toDateTimeOrDefault('bad', 'UTC')") == __import__(
        "datetime"
    ).datetime(1970, 1, 1)
    with pytest.raises(DialectError, match="UTC"):
        transpile("SELECT toDateTimeOrNull(s, 'Asia/Tokyo') FROM t")
    # toDateTime64 Or*: (expr, scale[, tz[, default]])
    assert one("toDateTime64OrZero('bad', 3)") == __import__(
        "datetime"
    ).datetime(1970, 1, 1)
    # tumble WEEK refuses (Monday-vs-epoch alignment)
    with pytest.raises(DialectError, match="Monday"):
        transpile("SELECT tumble(ts, INTERVAL 1 WEEK) FROM t")
    # tumbleStart floors (never truncates toward zero) pre-epoch
    pre = one(
        "tumbleStart(toDateTime('1969-12-31 23:30:00'), "
        "INTERVAL 1 HOUR)"
    )
    assert str(pre).startswith("1969-12-31 23:00")
    # firstLine: lone \r terminates too
    assert one(r"firstLine('a\rb')") == "a"
    # entropy of NULL stays NULL (uniq/entropy agree)
    assert one("stringBytesEntropy(CAST(NULL AS STRING))") is None
    assert one("stringBytesUniq(CAST(NULL AS STRING))") is None
    # cutURLParameter: no-op inputs come back byte-identical
    assert one(
        "cutURLParameter('http://x/a?', 'q')"
    ) == "http://x/a?"
    assert one(
        "cutURLParameter('http://x/a?b=1&#f', 'q')"
    ) == "http://x/a?b=1&#f"
    # tryBase32Decode: NULL on invalid, value on valid
    assert one("tryBase32Decode('JBSWY3DP')") == "Hello"
    assert one("tryBase32Decode('!!bad!!')") is None
    # weighted quantiles skip NULL values/weights like CH aggregates
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW wqn_t AS SELECT * FROM VALUES "
        "(CAST(NULL AS DOUBLE), 1.0), (1.0, 1.0), (2.0, 1.0), "
        "(3.0, 1.0) AS t(v, w)"
    )
    assert spark.sql(transpile(
        "SELECT medianExactWeighted(v, w) AS m FROM wqn_t"
    )).collect()[0].m == 2.0
    # OrZero/OrNull reject a stray second argument instead of
    # silently ignoring it
    with pytest.raises(DialectError, match="one-argument"):
        transpile("SELECT toUInt32OrZero(s, 7) FROM t")


def test_r11_scalar_batch14(spark):
    """r11 audit batch 14: numeric datestamps, case-insensitive
    search variants, MJD guards, geohash folds, the hash role-parity
    widening, and the random-string / geometry walls."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one(
        "toYYYYMMDD(toDateTime('2024-03-15 10:30:45'))"
    ) == 20240315
    assert one(
        "toYYYYMMDDhhmmss(toDateTime('2024-03-15 10:30:45'))"
    ) == 20240315103045
    assert one(
        "multiSearchAnyCaseInsensitive('Hello World', ['WORLD'])"
    ) is True
    assert one(
        "multiSearchFirstIndexCaseInsensitive('Hello World', "
        "['x', 'WORLD'])"
    ) == 2
    assert one(
        "hasTokenCaseInsensitive('Hello World', 'HELLO')"
    ) is True
    assert one("hasTokenOrNull('Hello World', 'bad token')") is None
    assert one("hasTokenOrNull('Hello World', 'World')") is True
    assert one("countMatchesCaseInsensitive('Hello', 'L+')") == 1
    assert str(one("fromModifiedJulianDayOrNull(50000)")) == (
        "1995-10-10"
    )
    assert one("fromModifiedJulianDayOrNull(99999999)") is None
    assert one("toModifiedJulianDayOrNull('2024-03-15')") == 60384
    assert one("toModifiedJulianDayOrNull('zz')") is None
    assert abs(one("greatCircleAngle(0, 0, 0, 1)") - 1.0) < 0.01
    assert len(one("randomPrintableASCII(7)")) == 7
    assert 0 <= one("intHash32(7)") < 2 ** 32
    # geohash: the classic (lon -5.6, lat 42.6) → 'ezs42' pin plus an
    # in-engine decode∘encode roundtrip over a world grid
    assert one("geohashEncode(-5.6, 42.6, 5)") == "ezs42"
    d = one("geohashDecode('ezs42')")
    assert abs(d.longitude + 5.6) < 0.03 and abs(d.latitude - 42.6) < 0.03
    bad = spark.sql(transpile(
        "SELECT count() AS n FROM ("
        "  SELECT number % 36 * 10 - 175.0 AS lon, "
        "  intDiv(number, 36) % 18 * 10 - 85.0 AS lat "
        "  FROM numbers(648)) "
        "WHERE abs(tupleElement(geohashDecode(geohashEncode(lon, "
        "lat, 12)), 'longitude') - lon) > 1e-6 "
        "OR abs(tupleElement(geohashDecode(geohashEncode(lon, lat, "
        "12)), 'latitude') - lat) > 1e-6"
    )).collect()[0].n
    assert bad == 0
    with pytest.raises(Exception, match="invalid geohash"):
        one("geohashDecode('!!')")
    # r11c review fixes: NULL semantics, n<1 strings, the CH MJD
    # range end, dynamic CI patterns, tz forms, '_'-separator tokens
    assert one("geohashEncode(CAST(NULL AS DOUBLE), 42.6, 5)") is None
    assert one("geohashDecode(CAST(NULL AS STRING))") is None
    assert one("randomPrintableASCII(0)") == ""
    assert str(one("fromModifiedJulianDayOrNull(2973483)")) == (
        "9999-12-31"
    )
    assert one("fromModifiedJulianDayOrNull(2973484)") is None
    assert one(
        "countMatchesCaseInsensitive('Hello', concat('L', '+'))"
    ) == 1
    assert one(
        "toYYYYMMDD(toDateTime('2024-03-15 10:30:45'), 'UTC')"
    ) == 20240315
    with pytest.raises(DialectError, match="UTC"):
        transpile("SELECT toYYYYMMDD(ts, 'Asia/Tokyo') FROM t")
    assert one("hasTokenOrNull('a_b c', 'a_b')") is None
    with pytest.raises(DialectError, match="alphanumeric"):
        transpile("SELECT hasTokenOrNull('x', 'look\u00e9')")
    # r15: sipHash128 is bit-exact now, murmurHash3_128 stays md5
    # role-parity — the two must DIFFER
    assert one("murmurHash3_128('abc') = sipHash128('abc')") is False
    assert one("length(murmurHash3_128('abc'))") == 16
    for bad_e, msg in [
        ("geohashEncode(1.0, 2.0, p)", "literal"),
        ("randomString(5)", "randomPrintableASCII"),
        ("randConstant()", "per-BLOCK"),
        ("pointInPolygon((0,0), [(0,0)])", "geo library"),
        ("revision()", "introspection"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad_e} FROM t")


def test_r12_weighted_quantile_replan(spark):
    """VERDICT r11 item 1: when the statement is owned, the
    exact-weighted quantile family re-plans to the value-compressed
    two-pass form (pre-GROUP BY (keys, value) → Σweight, cumulative
    window, threshold MIN) — O(distinct values) state instead of the
    collect fold's O(rows); expression positions and mixed-aggregate
    selects keep the fold."""
    owned = transpile(
        "SELECT l_returnflag, "
        "quantileExactWeighted(0.25)(l_quantity, l_linenumber) AS q "
        "FROM lineitem GROUP BY l_returnflag"
    )
    assert "collect_list" not in owned and "__qw_cw" in owned
    # r15: whitelisted-scalar expression positions re-plan too
    assert "collect_list" not in transpile(
        "SELECT quantileExactWeighted(0.5)(v, w) + 1 AS q FROM t"
    )
    # extra aggregate → fold; two different (v, w) pairs → fold
    for sql in (
        "SELECT k, count() AS n, "
        "quantileExactWeighted(0.5)(v, w) AS q FROM t GROUP BY k",
        "SELECT quantileExactWeighted(0.5)(v, w) AS a, "
        "quantileExactWeighted(0.5)(v2, w) AS b FROM t",
    ):
        assert "collect_list" in transpile(sql), sql
    # semantics incl. NULL pairs (skipped without consuming weight)
    # and a group with NO valid pairs (NULL result) — the two plans
    # must agree exactly
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW qw_t AS "
        "SELECT CASE WHEN id % 11 = 0 THEN NULL "
        "ELSE CAST(id % 7 AS DOUBLE) END AS v, "
        "CASE WHEN id % 13 = 0 THEN NULL ELSE id % 3 + 1 END AS w, "
        "CASE WHEN id < 20 THEN 'dead' ELSE concat('g', id % 2) END "
        "AS k FROM range(200) "
        "WHERE id >= 20 OR id % 11 = 0 OR id % 13 = 0"
    )
    two_pass = spark.sql(transpile(
        "SELECT k, quantileExactWeighted(0.25)(v, w) AS q25, "
        "quantilesExactWeighted(0.5, 0.9)(v, w) AS qs "
        "FROM qw_t GROUP BY k ORDER BY k"
    ))
    # HAVING keeps the statement off the re-plan (r15: a bare `+ 0`
    # no longer forces the fold — expression positions re-plan)
    fold_sql = transpile(
        "SELECT k, quantileExactWeighted(0.25)(v, w) AS q25, "
        "quantilesExactWeighted(0.5, 0.9)(v, w) AS qs "
        "FROM qw_t GROUP BY k HAVING count(*) >= 0 ORDER BY k"
    )
    assert "collect_list" in fold_sql
    fold = spark.sql(fold_sql)
    a, b = two_pass.collect(), fold.collect()
    assert [r.k for r in a] == [r.k for r in b]
    for ra, rb in zip(a, b):
        assert ra.q25 == rb.q25 and ra.qs == rb.qs
    dead = [r for r in a if r.k == "dead"][0]
    assert dead.q25 is None and dead.qs == [None, None]
    # GROUP BY ordinal and alias spellings are owned too — and must
    # EXECUTE: the alias doesn't exist in the pre-aggregate's scope,
    # so the inner key list must carry the expression
    # (code-review r12a)
    for g in ("GROUP BY 1", "GROUP BY kk"):
        out = transpile(
            "SELECT k AS kk, "
            f"quantileExactWeighted(0.5)(v, w) AS q FROM qw_t {g} "
            "ORDER BY kk"
        )
        assert "collect_list" not in out, g
        rows = spark.sql(out).collect()
        assert [r.kk for r in rows] == ["dead", "g0", "g1"], g
        assert rows[1].q is not None
    # a multi-word aliased key expression keeps its token spacing in
    # the inner scope (code-review r12b: CAST(kASINT) fused)
    rows = spark.sql(transpile(
        "SELECT upper(CAST(k AS String)) AS kk, "
        "quantileExactWeighted(0.5)(v, w) AS q "
        "FROM qw_t GROUP BY kk ORDER BY kk"
    )).collect()
    assert [r.kk for r in rows] == ["DEAD", "G0", "G1"]


def test_r12_group_concat_bounded(spark):
    """VERDICT r11 item 7: statement-owned groupConcat(sep, limit)
    masks rows past the limit BEFORE collection (state O(limit));
    NULL values don't consume the limit; unowned shapes keep the
    slice form."""
    owned = transpile(
        "SELECT k, groupConcat(',', 2)(s) AS g FROM t GROUP BY k"
    )
    assert "__gc_rn0" in owned and "slice(" not in owned
    # a joined FROM re-plans through the same projecting form (r13)
    j = transpile(
        "SELECT a.k, groupConcat(',', 2)(b.s) AS g "
        "FROM a JOIN b ON a.k = b.k GROUP BY a.k"
    )
    assert "__gc_rn0" in j and "slice(" not in j
    for sql in (
        # dynamic limit
        "SELECT k, groupConcat(',', n)(s) AS g FROM t GROUP BY k",
        # mixed aggregate over a JOIN: the re-plan can't
        # carry count(*) through, so the slice form stays
        "SELECT a.k, count() AS n, groupConcat(',', 2)(b.s) AS g "
        "FROM a JOIN b ON a.k = b.k GROUP BY a.k",
        # ASOF stays un-owned (its own rewrite owns the statement)
        "SELECT a.k, groupConcat(',', 2)(b.s) AS g "
        "FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t GROUP BY a.k",
        # SELECT * projects no group key
        "SELECT *, groupConcat(',', 2)(s) AS g FROM t GROUP BY k",
        # a source column sharing the __gc_ helper prefix would
        # collide with the re-plan's helper columns (ADVICE r12)
        "SELECT k, groupConcat(',', 2)(__gc_ord) AS g "
        "FROM t GROUP BY k",
        # a second kind of aggregate on one relation
        "SELECT k, count() AS n, groupConcat(',', 2)(s) AS g "
        "FROM t GROUP BY k",
        # an unaliased call: CH's auto-name is the call text
        "SELECT k, groupConcat(',', 2)(s) FROM t GROUP BY k",
    ):
        assert "slice(collect_list" in transpile(sql), sql
    # owned on one relation: a call nested in a scalar residual, a
    # bare alias, and a GROUP BY ordinal
    for sql in (
        "SELECT k, concat(k, ':', groupConcat(',', 2)(s)) AS g "
        "FROM t GROUP BY k",
        "SELECT k, groupConcat(',', 2)(s) g FROM t GROUP BY k",
        "SELECT k, groupConcat(',', 2)(s) AS g FROM t GROUP BY 1",
    ):
        assert "__gc_rn0" in transpile(sql), sql
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW gcb_t AS "
        "SELECT id % 4 AS k, "
        "CASE WHEN id % 3 = 0 THEN NULL "
        "ELSE concat('v', id) END AS s FROM range(12)"
    )
    rows = {
        r.k: r.g for r in spark.sql(transpile(
            "SELECT k, groupConcat(',', 2)(s) AS g "
            "FROM gcb_t GROUP BY k ORDER BY k"
        )).collect()
    }
    # group k=0: ids 0,4,8 → s NULL,v4,v8 → NULLs skipped, 2 kept
    assert rows[0] == "v4,v8"
    # group k=1: ids 1,5,9 → v1,v5,NULL → exactly 2 non-null
    assert rows[1] == "v1,v5"
    # group k=2: ids 2,6,10 → v2,NULL,v10
    assert rows[2] == "v2,v10"
    # group k=3: ids 3,7,11 → NULL,v7,v11
    assert rows[3] == "v7,v11"
    # GROUP BY the select ALIAS still executes: the inner select
    # projects the aliased expression, not the alias (code-review r12a)
    rows2 = {
        r.kk: r.g for r in spark.sql(transpile(
            "SELECT k AS kk, groupConcat(',', 2)(s) AS g "
            "FROM gcb_t GROUP BY kk ORDER BY kk"
        )).collect()
    }
    assert rows2 == rows
    # multi-word aliased key + the bare `expr alias` form both
    # substitute the EXPRESSION into the window's partition keys
    # (code-review r12b)
    for sql in (
        "SELECT CAST(k AS String) AS kk, groupConcat(',', 2)(s) AS g "
        "FROM gcb_t GROUP BY kk ORDER BY kk",
        "SELECT CAST(k AS String) kk, groupConcat(',', 2)(s) AS g "
        "FROM gcb_t GROUP BY kk ORDER BY kk",
    ):
        rows3 = {
            int(r.kk): r.g for r in spark.sql(transpile(sql)).collect()
        }
        assert rows3 == rows, sql
    # the nested and ordinal spellings agree with their fold spelling
    # (each group holds two non-NULL values, so both keep all of them)
    for sql in (
        "SELECT k, concat(CAST(k AS String), ',', "
        "groupConcat(',', 2)(s)) AS g FROM gcb_t GROUP BY k",
        "SELECT k, groupConcat(',', 2)(s) AS g FROM gcb_t GROUP BY 1",
    ):
        replan = transpile(sql)
        fold = transpile(sql + " HAVING count(*) >= 0")
        assert "__gc_rn0" in replan and "__gc_rn0" not in fold, sql
        got, want = (
            sorted((r.k, sorted(r.g.split(","))) for r in spark.sql(q).collect())
            for q in (replan, fold)
        )
        assert got == want and len(got) == 4, sql
    # a CASE item's closing END is not a bare alias: the unaliased
    # call and the unaliased CASE key both keep the slice form, and
    # the statements run
    for sql in (
        "SELECT k, CASE WHEN k > 0 THEN groupConcat(',', 2)(s) "
        "ELSE concat(k) END FROM gcb_t GROUP BY k",
        "SELECT CASE WHEN k > 0 THEN abs(k) ELSE 0 - abs(k) END, "
        "groupConcat(',', 2)(s) AS g FROM gcb_t GROUP BY 1",
    ):
        fold = transpile(sql)
        assert "slice(collect_list" in fold and "__gc_" not in fold, sql
        assert len(spark.sql(fold).collect()) == 4, sql


def test_r13_group_concat_bounded_join(spark):
    """VERDICT r12 item 3: the bounded groupConcat re-plan owns
    joined FROMs via the projecting form — qualified refs resolve in
    the inner scope, the rank window masks rows past the limit
    BEFORE collection, and NULLs don't consume the limit."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW gcj_d AS "
        "SELECT id AS k, concat('n', id) AS nm FROM range(4)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW gcj_f AS "
        "SELECT id % 4 AS fk, "
        "CASE WHEN id % 3 = 0 THEN NULL "
        "ELSE concat('v', id) END AS s FROM range(12)"
    )
    sql = (
        "SELECT d.nm AS nm, groupConcat(',', 2)(f.s) AS g "
        "FROM gcj_f f JOIN gcj_d d ON f.fk = d.k "
        "GROUP BY d.nm ORDER BY nm"
    )
    out = transpile(sql)
    assert "__gc_rn0" in out and "slice(" not in out
    rows = {r.nm: r.g for r in spark.sql(out).collect()}
    assert rows == {
        "n0": "v4,v8", "n1": "v1,v5", "n2": "v2,v10", "n3": "v7,v11",
    }
    # two concat operands over the join share the projection; a
    # grouped-but-unprojected second key and a WHERE both survive
    sql2 = (
        "SELECT d.nm AS nm, groupConcat(',', 1)(f.s) AS g1, "
        "groupConcat('|', 2)(upper(f.s)) AS g2 "
        "FROM gcj_f f JOIN gcj_d d ON f.fk = d.k "
        "WHERE f.fk < 2 GROUP BY d.nm, d.k ORDER BY nm"
    )
    out2 = transpile(sql2)
    assert "__gc_rn1" in out2 and "slice(" not in out2
    rows2 = {r.nm: (r.g1, r.g2) for r in spark.sql(out2).collect()}
    assert rows2 == {
        "n0": ("v4", "V4|V8"), "n1": ("v1", "V1|V5"),
    }


def test_r12_any_join_inequality_on(spark):
    """VERDICT r11 item 3: ANY [LEFT] JOIN with mixed equality +
    inequality ON conjuncts.  Preferred emission is the
    derived-relation form (distinct left operand tuples hash-joined
    on the equality keys, rank window, equi-join back — no nested
    loop, no LATERAL); shapes it can't own fall back to the
    correlated LATERAL top-1; a conjunct list with NO both-side
    equality keeps the backstop refusal."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ai_l AS SELECT id % 5 AS k, "
        "CAST(id AS DOUBLE) AS lv FROM range(20)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ai_r AS SELECT id % 5 AS k, "
        "CAST(id AS DOUBLE) AS rv, concat('t', id) AS tag "
        "FROM range(40)"
    )
    res = lambda rel: {  # noqa: E731
        "ai_l": ["k", "lv"], "ai_r": ["k", "rv", "tag"],
    }.get(rel.strip())
    q = transpile(
        "SELECT l.k AS k, l.lv AS lv, r.rv AS rv, r.tag AS tag "
        "FROM ai_l l ANY LEFT JOIN ai_r r "
        "ON r.k = l.k AND r.rv > l.lv ORDER BY k, lv",
        resolve_columns=res,
    )
    assert "__any_lk" in q and "LATERAL" not in q
    rows = spark.sql(q).collect()
    assert len(rows) == 20  # |left| preserved, never fanned out
    rts = [(i % 5, float(i), "t%d" % i) for i in range(40)]
    for r in rows:
        cand = sorted(
            c for c in rts if c[0] == r.k and c[1] > r.lv
        )
        want = cand[0] if cand else None
        got = (r.k, r.rv, r.tag) if r.rv is not None else None
        assert got == want, (tuple(r), want)
    # inner form drops unmatched left rows
    qi = transpile(
        "SELECT l.k AS k FROM ai_l l ANY JOIN ai_r r "
        "ON r.k = l.k AND r.rv > l.lv",
        resolve_columns=res,
    )
    n_match = sum(
        1 for i in range(20)
        if any(c[0] == i % 5 and c[1] > float(i) for c in rts)
    )
    assert spark.sql(qi).count() == n_match
    # expression left operand still derives (the 86s lateral shape)
    qe = transpile(
        "SELECT l.k AS k, r.rv AS rv FROM ai_l l ANY LEFT JOIN ai_r "
        "r ON r.k = l.k AND r.rv > l.lv + 1 ORDER BY k",
        resolve_columns=res,
    )
    assert "__any_lk" in qe and "LATERAL" not in qe
    # an OR group has no depth-0 comparison → LATERAL fallback,
    # still correct
    ql = transpile(
        "SELECT l.k AS k, r.rv AS rv FROM ai_l l ANY LEFT JOIN ai_r "
        "r ON r.k = l.k AND (r.rv > l.lv OR r.rv < 1) ORDER BY k",
        resolve_columns=res,
    )
    assert "LATERAL" in ql
    assert spark.sql(ql).count() == 20
    # no both-side equality conjunct: maps since r13 (running-min
    # form — test_r13_any_join_no_equality covers semantics)
    q0 = transpile(
        "SELECT l.k FROM ai_l l ANY LEFT JOIN ai_r r "
        "ON r.rv > l.lv",
        resolve_columns=res,
    )
    assert "__any_lk0" in q0 and "LATERAL" not in q0
    # star projection routes to the LATERAL form: the derived form
    # would leak its __any_lk* helper columns into SELECT *
    # (code-review r12a)
    qs_ = transpile(
        "SELECT * FROM ai_l l ANY LEFT JOIN ai_r r "
        "ON r.k = l.k AND r.rv > l.lv",
        resolve_columns=res,
    )
    assert "LATERAL" in qs_ and "__any_lk" not in qs_
    cols = spark.sql(qs_).columns
    assert cols == ["k", "lv", "k", "rv", "tag"]
    # multiplication is NOT a star: the derived form must serve it
    # (code-review r12b: a '*' after an identifier demoted the plan
    # to the 43x LATERAL path)
    qm = transpile(
        "SELECT l.lv * 2 AS dbl, r.rv AS rv FROM ai_l l "
        "ANY LEFT JOIN ai_r r ON r.k = l.k AND r.rv > l.lv",
        resolve_columns=res,
    )
    assert "__any_lk" in qm and "LATERAL" not in qm
    # a star in a LATER select (second UNION branch) still routes
    # ITS join to the LATERAL form — the scan anchors at the SELECT
    # owning the join, not the segment start (code-review r12b)
    qu = transpile(
        "SELECT l.k AS k, r.rv AS rv FROM ai_l l ANY LEFT JOIN ai_r "
        "r ON r.k = l.k AND r.rv > l.lv "
        "UNION ALL "
        "SELECT * FROM ai_l l2 "
        "ANY LEFT JOIN ai_r r2 ON r2.k = l2.k AND r2.rv > l2.lv",
        resolve_columns=res,
    )
    # first branch derived, star branch lateral
    assert "__any_lk" in qu and "LATERAL" in qu


def test_r13_any_join_no_equality(spark):
    """VERDICT r12 final missing item: ANY JOIN with NO equality
    conjunct.  A single order-comparison conjunct takes the
    running-min form (per-value min(struct) group + one window over
    distinct values + equi-join back — no theta join, no LATERAL);
    all four operators and both strictness kinds agree with the
    brute-force pick (lexicographic-min right row over the eligible
    set); NULL comparison values match nothing; shapes the
    running-min form can't own (multi-conjunct, !=, compound) fall
    back to LATERAL and stay correct."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nq_l AS SELECT CAST(id AS "
        "DOUBLE) AS lv, id AS lid FROM range(12) UNION ALL "
        "SELECT NULL, 99"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nq_r AS SELECT "
        "CAST(id % 7 AS DOUBLE) AS rv, concat('t', id) AS tag "
        "FROM range(14) UNION ALL SELECT NULL, 'tnull'"
    )
    res = lambda rel: {  # noqa: E731
        "nq_l": ["lv", "lid"], "nq_r": ["rv", "tag"],
    }.get(rel.strip())
    rts = [(float(i % 7), "t%d" % i) for i in range(14)]
    lvs = [float(i) for i in range(12)] + [None]
    ops = {
        ">": lambda x, y: y < x, ">=": lambda x, y: y <= x,
        "<": lambda x, y: y > x, "<=": lambda x, y: y >= x,
    }
    for op, pred in ops.items():
        q = transpile(
            f"SELECT l.lid AS lid, r.rv AS rv, r.tag AS tag "
            f"FROM nq_l l ANY LEFT JOIN nq_r r ON l.lv {op} r.rv "
            f"ORDER BY lid",
            resolve_columns=res,
        )
        assert "__any_lk0" in q and "LATERAL" not in q, op
        rows = spark.sql(q).collect()
        assert len(rows) == 13, op  # |left| preserved, no fan-out
        for r in rows:
            lv = None if r.lid == 99 else float(r.lid)
            cand = sorted(c for c in rts if lv is not None
                          and pred(lv, c[0]))
            want = cand[0] if cand else None
            got = (r.rv, r.tag) if r.tag is not None else None
            assert got == want, (op, tuple(r), want)
        # inner strictness drops unmatched left rows
        qi = transpile(
            f"SELECT l.lid AS lid FROM nq_l l ANY JOIN nq_r r "
            f"ON l.lv {op} r.rv",
            resolve_columns=res,
        )
        n = sum(1 for lv in lvs if lv is not None
                and any(pred(lv, c[0]) for c in rts))
        assert spark.sql(qi).count() == n, op
    # right operand spelled first: the operator flips with the swap
    qsw = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r r ON r.rv < l.lv ORDER BY lid",
        resolve_columns=res,
    )
    assert "__any_lk0" in qsw
    r3 = [r for r in spark.sql(qsw).collect() if r.lid == 3][0]
    cand = sorted(c for c in rts if c[0] < 3.0)
    assert r3.tag == cand[0][1]
    # multi-conjunct pure-inequality → LATERAL fallback, correct
    qm = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r r ON l.lv > r.rv AND l.lv < r.rv + 3 "
        "ORDER BY lid",
        resolve_columns=res,
    )
    assert "LATERAL" in qm
    for r in spark.sql(qm).collect():
        lv = None if r.lid == 99 else float(r.lid)
        cand = sorted(c for c in rts
                      if lv is not None and c[0] < lv < c[0] + 3)
        want = cand[0][1] if cand else None
        assert r.tag == want, (tuple(r), want)
    # != has no prefix ordering → LATERAL
    qne = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r r ON l.lv != r.rv",
        resolve_columns=res,
    )
    assert "LATERAL" in qne
    # un-parenthesized compound rhs must NOT be operand-spliced
    qor = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r r ON l.lv > r.rv OR r.rv IS NULL",
        resolve_columns=res,
    )
    assert "LATERAL" in qor and "__any_lk" not in qor
    # whole-conjunct parens classify like the bare spelling
    # (code-review r13d: the wrapped form fell to the 40x LATERAL)
    qp = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r r ON ((l.lv > r.rv)) ORDER BY lid",
        resolve_columns=res,
    )
    assert "__any_lk0" in qp and "LATERAL" not in qp
    # ...but (a) > (b) keeps its operand parens
    qpp = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r r ON (l.lv) > (r.rv) ORDER BY lid",
        resolve_columns=res,
    )
    assert "__any_lk0" in qpp
    assert (spark.sql(qp).collect() == spark.sql(qpp).collect())
    # a left-alias reference inside the RIGHT operand cannot resolve
    # in the right-only derived subquery → LATERAL, still correct
    # (code-review r13d)
    qlr = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r r ON l.lv > r.rv + l.lid ORDER BY lid",
        resolve_columns=res,
    )
    assert "LATERAL" in qlr and "__any_lk" not in qlr
    for r in spark.sql(qlr).collect():
        lv = None if r.lid == 99 else float(r.lid)
        cand = sorted(c for c in rts
                      if lv is not None and lv > c[0] + r.lid)
        want = cand[0][1] if cand else None
        assert r.tag == want, (tuple(r), want)
    # same hole in the mixed eq+ineq derived form (code-review r13d)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nq_r2 AS SELECT "
        "CAST(id % 3 AS DOUBLE) AS k2, CAST(id % 7 AS DOUBLE) AS rv,"
        " concat('t', id) AS tag FROM range(14)"
    )
    res2 = lambda rel: {  # noqa: E731
        "nq_l": ["lv", "lid"], "nq_r2": ["k2", "rv", "tag"],
    }.get(rel.strip())
    qlr2 = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r2 r ON r.k2 = l.lid % 3 "
        "AND l.lv > r.rv + l.lid",
        resolve_columns=res2,
    )
    assert "LATERAL" in qlr2 and "__any_lk" not in qlr2
    spark.sql(qlr2).collect()  # must resolve and run
    # empty ON span keeps the backstop refusal, never spliced SQL
    with pytest.raises(DialectError, match="any_left_join"):
        transpile(
            "SELECT l.lid FROM nq_l l ANY LEFT JOIN nq_r r ON "
            "WHERE l.lid > 0",
            resolve_columns=res,
        )
    # NULL payload columns sort FIRST in the min-struct pick — the
    # documented refinement both the engine and the DuckDB oracle
    # spell (code-review r13d pinned the oracle to NULLS FIRST)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nq_r3 AS SELECT "
        "CAST(1.0 AS DOUBLE) AS rv, CASE WHEN id = 0 THEN NULL "
        "ELSE concat('t', id) END AS tag FROM range(3)"
    )
    res3 = lambda rel: {  # noqa: E731
        "nq_l": ["lv", "lid"], "nq_r3": ["rv", "tag"],
    }.get(rel.strip())
    qn = transpile(
        "SELECT l.lid AS lid, r.tag AS tag FROM nq_l l "
        "ANY LEFT JOIN nq_r3 r ON l.lv > r.rv",
        resolve_columns=res3,
    )
    picks = {r.tag for r in spark.sql(qn).collect() if r.lid not in (0, 1, 99)}
    assert picks == {None}  # (1.0, NULL) beats (1.0, 't1'/'t2')


def test_r12_scalar_batch15(spark):
    """r12 audit batch 15: constants register, IPv4 class-C/CIDR,
    defensive cast defaults, mapped-array aggregate synonyms, the
    array-Levenshtein DP fold, form encoding, and the refusal walls
    (server state, ellipsoid geoDistance, ranked enumeration,
    KeepNames normalization)."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("ignore(42, 'x')") == 0
    assert one("ignore()") == 0  # zero-arg form is valid CH (ADVICE r12)
    assert one("indexHint(1 > 2)") == 1
    assert one("isConstant(1 + 2 * 3)") == 1
    assert one("isConstant(NULL)") == 1
    assert transpile("SELECT isConstant(x) FROM t").find(" 0 ") > 0
    assert one("timezoneOf(now())") == "UTC"
    assert one("timezoneOf(CAST(NULL AS TIMESTAMP))") is None
    assert one("IPv4NumToStringClassC(3232235777)") == "192.168.1.xxx"
    # pre-div parenthesization (the probe20 catch): an additive arg
    assert one("IPv4NumToString(3232235520 + 257)") == "192.168.1.1"
    assert one(
        "isIPAddressInRange('192.168.1.77', '192.168.1.0/24')"
    ) is True
    assert one(
        "isIPAddressInRange('192.168.2.0', '192.168.1.0/24')"
    ) is False
    assert one("isIPAddressInRange('8.8.8.8', '0.0.0.0/0')") is True
    assert one(
        "isIPAddressInRange('10.0.0.1', '10.0.0.1/32')"
    ) is True
    # invalid prefix > 32: CH throws; we answer false rather than the
    # Java-masked-shift wrong membership (ADVICE r12)
    assert one(
        "isIPAddressInRange('10.0.0.1', '10.0.0.0/33')"
    ) is False
    with pytest.raises(DialectError, match="IPv6"):
        transpile("SELECT isIPAddressInRange(s, '::1/128') FROM t")
    assert one("encodeURLFormComponent('a b+c')") == "a+b%2Bc"
    assert one("accurateCastOrDefault('zz', 'UInt8', 7)") == 7
    assert one("accurateCastOrDefault('200', 'UInt8', 7)") == 200
    # CH WIDTH range, not the wider Spark type's (code-review r12a)
    assert one("accurateCastOrDefault('300', 'UInt8', 7)") == 7
    assert one("accurateCastOrDefault('-5', 'UInt8', 7)") == 7
    assert one("accurateCastOrDefault('300', 'UInt16')") == 300
    # DateTime targets keep the plain TRY_CAST path — their Or*
    # twins take timezone/scale as arg 2, so delegating would drop
    # the default (code-review r12b)
    assert one(
        "accurateCastOrDefault('zz', 'DateTime', "
        "toDateTime('2024-01-02 03:04:05'))"
    ) == __import__("datetime").datetime(2024, 1, 2, 3, 4, 5)
    assert one(
        "accurateCastOrDefault('zz', 'DateTime64', "
        "toDateTime('2024-01-02 03:04:05'))"
    ) == __import__("datetime").datetime(2024, 1, 2, 3, 4, 5)
    # NULL address stays NULL — concat_ws would fabricate a string
    assert one(
        "IPv4NumToStringClassC(CAST(NULL AS BIGINT))"
    ) is None
    assert one("IPv4NumToString(CAST(NULL AS BIGINT))") is None
    assert " 0 " in transpile(
        "SELECT isConstant(`quoted col`) FROM t"
    )
    assert one("accurateCastOrDefault('zz', 'Int64')") == 0
    assert one("accurateCastOrDefault('zz', 'String')") == "zz"
    assert one("accurateCastOrDefault('zz', 'Date')") == __import__(
        "datetime"
    ).date(1970, 1, 1)
    # the *MappedArrays synonyms return the two-array sumMap shape
    sm = one("sumMappedArrays([1, 1, 2], [10, 5, 7])")
    assert list(sm.keys) == [1, 2] and list(sm.values) == [15, 7]
    mm = one("maxMappedArrays([1, 1], [3, 9])")
    assert list(mm.keys) == [1] and list(mm.values) == [9]
    # array Levenshtein vs a Python reference on assorted shapes
    import functools

    def alev(a, b):
        @functools.lru_cache(None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                d(i - 1, j) + 1, d(i, j - 1) + 1,
                d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )
        return d(len(a), len(b))

    cases = [
        ([1, 2, 3], [1, 2, 3]), ([1, 2, 3, 4], [1, 3, 4, 5]),
        ([], [1, 2]), ([5], []), ([1, 1, 1], [1]),
        ([3, 1, 4, 1, 5], [1, 4, 1]), ([2], [9]),
    ]
    for a, b in cases:
        aa = f"CAST(array({', '.join(map(str, a))}) AS ARRAY<INT>)"
        bb = f"CAST(array({', '.join(map(str, b))}) AS ARRAY<INT>)"
        got = one(f"arrayLevenshteinDistance({aa}, {bb})")
        assert got == alev(tuple(a), tuple(b)), (a, b, got)
    # soundex resolves through Spark's native (classic algorithm)
    assert one("soundex('Robert')") == "R163"
    for bad, msg in [
        ("displayName()", "server"),
        ("getMacro('replica')", "server"),
        ("blockSerializedSize(x)", "server"),
        ("arrayEnumerateUniqRanked(a)", "ranked"),
        ("normalizeQueryKeepNames(s)", "masking"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM t")


def test_r13_scalar_batch17(spark):
    """Value gate for the audit batch-17 mappings (the batch-15/16
    precedent): MAC codecs round-trip, ULID/snowflake read-write,
    bitmap subset family, Minkowski norms, AES round-trip, OrZero
    parse forms, interval constructors (collectable AND
    date-typed), two-array arraySplit, the finalizeAggregation
    compose, and distribution sanity for the rand* folds."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    # MAC codecs
    assert one("MACNumToString(1108152157446)") == "01:02:03:04:05:06"
    assert one("MACStringToNum('01:02:03:04:05:06')") == 1108152157446
    assert one("MACStringToOUI('01:02:03:04:05:06')") == 66051
    assert one(
        "MACNumToString(MACStringToNum('AB:CD:EF:00:11:22'))"
    ) == "AB:CD:EF:00:11:22"
    # ULID read-side: pinned against an independent Python
    # Crockford-base32 decode of the same ULID (1672188037616 ms)
    ts = one("ULIDStringToDateTime('01GNB2S2FGN2P93QPXDNB4EN2R')")
    assert str(ts) == "2022-12-28 00:40:37.616000"
    # snowflake write/read round-trip
    assert str(one(
        "snowflakeIDToDateTime(dateTimeToSnowflakeID("
        "toDateTime('2024-03-15 10:30:45')))"
    )).startswith("2024-03-15 10:30:45")
    # bitmap subsets over the sorted-distinct-array canonical form
    assert one(
        "bitmapToArray(bitmapSubsetInRange([5, 1, 3, 9], 2, 9))"
    ) == [3, 5]
    assert one(
        "bitmapToArray(bitmapSubsetLimit([5, 1, 3, 9], 2, 2))"
    ) == [3, 5]
    assert one("bitmapToArray(subBitmap([5, 1, 3, 9], 1, 2))") \
        == [3, 5]
    assert one(
        "bitmapToArray(bitmapTransform([5, 1, 3], [3], [7]))"
    ) == [1, 5, 7]
    # Minkowski general-p family
    assert abs(one("LpNorm([3.0, 4.0], 2)") - 5.0) < 1e-12
    assert abs(one("LpNorm([1.0, 2.0, 3.0], 1)") - 6.0) < 1e-12
    assert abs(one("LpDistance([1.0, 2.0], [4.0, 6.0], 2)") - 5.0) \
        < 1e-12
    nv = one("L2Normalize([3.0, 4.0])")
    assert abs(nv[0] - 0.6) < 1e-12 and abs(nv[1] - 0.8) < 1e-12
    assert one("L1Normalize([0.0, 0.0])") == [None, None]
    # AES round-trip (ECB exact; Spark native aes_* )
    assert one(
        "CAST(decrypt('aes-128-ecb', encrypt('aes-128-ecb', 'msg', "
        "'0123456789abcdef'), '0123456789abcdef') AS STRING)"
    ) == "msg"
    with pytest.raises(DialectError, match="key"):
        transpile("SELECT encrypt('aes-256-cbc', s, 'short') FROM t")
    with pytest.raises(DialectError, match="cipher"):
        transpile("SELECT encrypt('aes-128-ofb', s, k) FROM t")
    # OrZero parse forms: epoch on failure
    assert str(one("parseDateTimeBestEffortOrZero('garbage')")) \
        == "1970-01-01 00:00:00"
    assert str(one(
        "parseDateTimeInJodaSyntax('2024-03-15', 'yyyy-MM-dd')"
    )).startswith("2024-03-15")
    # interval constructors collect AND keep DATE typing for days
    assert str(one(
        "CAST('2024-01-01' AS DATE) + toIntervalDay(3)"
    )) == "2024-01-04"
    assert str(one(
        "toDateTime('2024-01-01 00:00:00') + toIntervalSecond(90)"
    )) == "2024-01-01 00:01:30"
    assert str(one(
        "CAST('2024-01-31' AS DATE) + toIntervalMonth(1)"
    )) == "2024-02-29"
    # two-array arraySplit: split [1,2,3,4] where flag array is 1
    assert one(
        "arraySplit((x, f) -> f = 1, [1, 2, 3, 4], [0, 1, 0, 1])"
    ) == [[1], [2, 3], [4]]
    assert one(
        "arrayReverseSplit((x, f) -> f = 1, [1, 2, 3, 4], "
        "[0, 1, 0, 1])"
    ) == [[1, 2], [3, 4]]
    # finalizeAggregation compose
    assert one(
        "finalizeAggregation(initializeAggregation('sumState', 7))"
    ) == 7
    assert abs(one(
        "finalizeAggregation(initializeAggregation('avgState', 3.5))"
    ) - 3.5) < 1e-12
    with pytest.raises(DialectError, match="Merge"):
        transpile("SELECT finalizeAggregation(st) FROM t")
    # timeZoneOffset: session pinned UTC
    assert one("timeZoneOffset(now())") == 0
    assert one("timeZoneOffset(CAST(NULL AS TIMESTAMP))") is None
    # YYYYMMDDToDate32 = the one DATE type
    assert str(one("YYYYMMDDToDate32(20240315)")) == "2024-03-15"
    # rand* distribution sanity: bounds + law-of-large-numbers means
    # (4096 draws; 6σ tolerances — deterministic-failure-free)
    # (drawn in a per-row subquery: Spark bans nondeterministic
    # expressions INSIDE aggregate arguments)
    row = spark.sql(transpile(
        "SELECT avg(b) AS b, avg(p) AS p, avg(c) AS c, avg(l) AS l, "
        "max(b) AS bmax, min(b) AS bmin FROM ("
        "SELECT randBinomial(10, 0.5) AS b, randPoisson(4) AS p, "
        "randChiSquared(5) AS c, randLogNormal(0.0, 0.25) AS l "
        "FROM numbers(4096))"
    )).collect()[0]
    assert abs(row.b - 5.0) < 6 * 1.58 / 64      # σ=√2.5/√n
    assert abs(row.p - 4.0) < 6 * 2.0 / 64
    assert abs(row.c - 5.0) < 6 * 3.16 / 64
    assert abs(row.l - 1.0317) < 0.1             # e^{σ²/2}
    assert 0 <= row.bmin and row.bmax <= 10
    # URLHash strips one trailing /, # or ? (code-review r13a)
    assert one(
        "URLHash('http://e.com/a/') = URLHash('http://e.com/a')"
    ) is True
    assert one(
        "URLHash('http://e.com/a?') = URLHash('http://e.com/a')"
    ) is True
    # n/k < 1: sequence(1, 0) would descend — guarded to 0
    assert one("randBinomial(0, 0.5)") == 0
    assert one("randChiSquared(0)") == 0.0
    # Joda Y is YEAR-OF-ERA, not java.time's week-based-year
    assert str(one(
        "parseDateTimeInJodaSyntax('2021-01-01', 'YYYY-MM-dd')"
    )).startswith("2021-01-01")
    with pytest.raises(DialectError, match="weekyear|day-of-week"):
        transpile(
            "SELECT parseDateTimeInJodaSyntax(s, 'xxxx-MM-dd') FROM t"
        )
    # decrypt with an explicit IV: Spark's layout has no iv slot
    with pytest.raises(DialectError, match="IV"):
        transpile(
            "SELECT decrypt('aes-256-cbc', s, k, iv) FROM t"
        )
    # Poisson underflow guard (exp(-λ) = 0.0 would be a constant)
    with pytest.raises(DialectError, match="underflow"):
        transpile("SELECT randPoisson(800) FROM t")
    # wave 3: the position ARG-ORDER catch — CH position(haystack,
    # needle); Spark's native position(substr, str) is reversed, so
    # the old pass-through answered 0-for-found
    assert one("position('Hello World', 'l')") == 3
    assert one("position('Hello World', 'l', 4)") == 4
    assert one("positionUTF8('Hello World', 'World')") == 7
    assert one("position('Hello World', 'zz')") == 0
    # first-match replace tier
    assert one("replaceOne('aXbXc', 'X', '_')") == "a_bXc"
    assert one("replaceOne('abc', 'z', '_')") == "abc"
    assert one("replaceRegexpOne('a1b2', '[0-9]', '#')") == "a#b2"
    # CH \\N replacement backrefs (Java's regexp_replace reads $N)
    assert one(
        "replaceRegexpAll('ab12cd', '([0-9])', '<\\\\1>')"
    ) == "ab<1><2>cd"
    assert one(
        "replaceRegexpOne('ab12cd', '([0-9])', '<\\\\1>')"
    ) == "ab<1>2cd"
    assert one("replaceRegexpAll('a1b', '[0-9]', '$')") == "a$b"
    # CH \\0 = the whole match (Python re would read NUL) — r13b;
    # adjacent backrefs convert independently (r13c)
    assert one(
        r"replaceRegexpAll('hello', 'l+', '[\\0]')"
    ) == "he[ll]o"
    assert one(
        r"replaceRegexpAll('hello', 'l+', '\\0\\0')"
    ) == "hellllo"
    # a ||-concatenated (dynamic) replacement routes to the seam:
    # literal $ stays literal (r13c)
    assert one(
        "replaceRegexpAll('a1b', '([0-9])', 'p' || '$' || 'q')"
    ) == "ap$qb"
    # standalone Joda '' is an EMPTY literal (no-op), not a
    # mandatory quote char (r13c)
    assert str(one(
        "parseDateTimeInJodaSyntax('1030', 'HH''''mm')"
    )).endswith("10:30:00")
    # Joda-quoted literal text: Y inside quotes survives, e inside
    # quotes doesn't trip the weekyear refusal (r13b)
    assert str(one(
        "parseDateTimeInJodaSyntax('2021 Year 03', "
        "'yyyy ''Year'' MM')"
    )).startswith("2021-03-01")
    # empty pattern set matches nothing; NULL-propagating replaceOne
    assert one("multiMatchAnyIndex('x', [])") == 0
    assert one("replaceOne('abc', 'z', CAST(NULL AS STRING))") is None
    assert one("replaceOne('abc', CAST(NULL AS STRING), 'x')") is None
    # toLowCardinality keeps compound-argument precedence (r13b)
    assert one(
        "toLowCardinality(1 = 1 OR 1 = 2) AND 1 = 2"
    ) is False
    # greatest/least NULL-propagate like CH regular functions
    # (Spark's natives skip NULLs — wave-4 semantic sweep, r13c)
    assert one("greatest(1, CAST(NULL AS INT), 3)") is None
    assert one("least(1, CAST(NULL AS INT))") is None
    assert one("greatest(1, 5, 3)") == 5
    assert one("least(2.5, 1.5)") == 1.5
    # ragged avgForEach: short rows pad, not truncate (r13b)
    rows_rg = spark.sql(transpile(
        "SELECT avgForEach(a) AS m FROM (SELECT "
        "IF(number = 0, [1.0], [3.0, 4.0]) AS a FROM numbers(2))"
    )).collect()
    assert rows_rg[0].m == [2.0, 4.0]
    # multiMatchAnyIndex over a literal pattern array
    assert one(
        "multiMatchAnyIndex('Hello', ['z+', 'l+', 'H'])"
    ) == 2
    assert one("multiMatchAnyIndex('Hello', ['z+'])") == 0
    # avgForEach: element-wise mean, NULL-skipping per position
    rows_fe = spark.sql(transpile(
        "SELECT avgForEach(a) AS m FROM (SELECT "
        "IF(number = 0, [1.0, 4.0], [3.0, NULL]) AS a "
        "FROM numbers(2))"
    )).collect()
    assert rows_fe[0].m == [2.0, 4.0]
    # decimal ceiling + low-cardinality hint
    assert float(one("toDecimal128('2.5', 3)")) == 2.5
    with pytest.raises(DialectError, match="38"):
        transpile("SELECT toDecimal256(v, 3) FROM t")
    assert one("toLowCardinality('x')") == "x"


def test_r13_geo_distance_ellipsoid(spark):
    """geoDistance (VERDICT r12 item 4, refusal flipped): WGS-84
    Andoyer–Lambert arithmetic pinned against an in-test Vincenty
    inverse (the public exact-geodesic algorithm, ~0.5 mm) to 1e-4
    relative — Andoyer's own error is O(f²) ≈ 1e-5 — plus the
    coincident / NULL guards."""
    import math

    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v

    def vincenty(lon1, lat1, lon2, lat2):
        a, f = 6378137.0, 1 / 298.257223563
        b = a * (1 - f)
        L = math.radians(lon2 - lon1)
        U1 = math.atan((1 - f) * math.tan(math.radians(lat1)))
        U2 = math.atan((1 - f) * math.tan(math.radians(lat2)))
        sU1, cU1 = math.sin(U1), math.cos(U1)
        sU2, cU2 = math.sin(U2), math.cos(U2)
        lam = L
        for _ in range(200):
            sl, cl = math.sin(lam), math.cos(lam)
            s_sig = math.hypot(cU2 * sl, cU1 * sU2 - sU1 * cU2 * cl)
            if s_sig == 0:
                return 0.0
            c_sig = sU1 * sU2 + cU1 * cU2 * cl
            sig = math.atan2(s_sig, c_sig)
            sin_a = cU1 * cU2 * sl / s_sig
            cos2a = 1 - sin_a * sin_a
            c2sm = (
                c_sig - 2 * sU1 * sU2 / cos2a if cos2a else 0.0
            )
            C = f / 16 * cos2a * (4 + f * (4 - 3 * cos2a))
            prev = lam
            lam = L + (1 - C) * f * sin_a * (
                sig + C * s_sig
                * (c2sm + C * c_sig * (-1 + 2 * c2sm * c2sm))
            )
            if abs(lam - prev) < 1e-12:
                break
        u2 = cos2a * (a * a - b * b) / (b * b)
        A = 1 + u2 / 16384 * (
            4096 + u2 * (-768 + u2 * (320 - 175 * u2))
        )
        B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
        dsig = B * s_sig * (c2sm + B / 4 * (
            c_sig * (-1 + 2 * c2sm * c2sm)
            - B / 6 * c2sm * (-3 + 4 * s_sig * s_sig)
            * (-3 + 4 * c2sm * c2sm)
        ))
        return b * A * (sig - dsig)

    pairs = [
        (13.405, 52.52, 2.3522, 48.8566),        # Berlin–Paris
        (-74.0060, 40.7128, 13.405, 52.52),      # NYC–Berlin
        (151.2093, -33.8688, -0.1278, 51.5074),  # Sydney–London
        (0.0, 0.0, 90.0, 0.0),                   # equatorial quarter
        (10.0, 60.0, 20.0, -60.0),               # long meridional haul
        (5.0, 45.0, 5.001, 45.001),              # ~135 m short hop
    ]
    for lon1, lat1, lon2, lat2 in pairs:
        ref = vincenty(lon1, lat1, lon2, lat2)
        got = one(f"geoDistance({lon1}, {lat1}, {lon2}, {lat2})")
        assert abs(got - ref) / ref < 1e-4, (
            lon1, lat1, lon2, lat2, got, ref,
        )
    assert one("geoDistance(13.405, 52.52, 13.405, 52.52)") == 0.0
    assert one(
        "geoDistance(CAST(NULL AS DOUBLE), 1.0, 2.0, 3.0)"
    ) is None
    # stays spherical-distinct: geoDistance ≠ greatCircleDistance
    e = one("geoDistance(2.3522, 48.8566, -74.0060, 40.7128)")
    s = one(
        "greatCircleDistance(2.3522, 48.8566, -74.0060, 40.7128)"
    )
    assert abs(e - s) / s > 1e-4  # the ellipsoid correction is real


def test_r12_anova_and_sql_betainc(spark):
    """analysisOfVariance: the group-contiguous fold F statistic and
    the PURE-SQL incomplete-beta p-value, pinned against the Python
    reference (compat.f_pvalue / compat._betainc) — including a
    large-df case that stresses the fixed-iteration Lentz fold."""
    from clickhouse_vs_dbt_spark.compat import (
        _betainc,
        f_pvalue,
        register_clickhouse_compat,
    )
    from clickhouse_vs_dbt_spark.dialect import _betainc_sql

    register_clickhouse_compat(spark)
    # direct SQL-ibeta pin over a parameter grid
    grid = [
        (0.3, 0.5, 0.5), (0.7, 2.5, 17.0), (0.01, 1.0, 150.0),
        (0.9999, 3.0, 2.0), (0.4, 1500.0, 0.5), (0.55, 750.0, 2.0),
    ]
    cells = ", ".join(
        _betainc_sql(f"{x!r}d", f"{a!r}d", f"{b!r}d") + f" AS c{i}"
        for i, (x, a, b) in enumerate(grid)
    )
    row = spark.sql(f"SELECT {cells}").collect()[0]
    for i, (x, a, b) in enumerate(grid):
        assert abs(row[i] - _betainc(x, a, b)) < 1e-9, (x, a, b)
    # end-to-end ANOVA vs a NumPy-free Python reference, with NULLs
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW anv_t AS SELECT "
        "CASE WHEN id % 17 = 0 THEN NULL ELSE id % 4 END AS g, "
        "CASE WHEN id % 19 = 0 THEN NULL "
        "ELSE CAST(id % 23 AS DOUBLE) + (id % 4) * 3 END AS v "
        "FROM range(2000)"
    )
    got = spark.sql(transpile(
        "SELECT analysisOfVariance(v, g) AS a FROM anv_t"
    )).collect()[0].a
    rows = [
        (i % 4, float(i % 23) + (i % 4) * 3)
        for i in range(2000)
        if i % 17 != 0 and i % 19 != 0
    ]
    groups: dict = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    n, k = len(rows), len(groups)
    gm = sum(v for _, v in rows) / n
    ssb = sum(
        len(vs) * (sum(vs) / len(vs) - gm) ** 2
        for vs in groups.values()
    )
    ssw = sum(
        sum((x - sum(vs) / len(vs)) ** 2 for x in vs)
        for vs in groups.values()
    )
    F = (ssb / (k - 1)) / (ssw / (n - k))
    assert abs(got.f_statistic - F) < 1e-8 * max(1.0, F)
    assert abs(got.p_value - f_pvalue(F, k - 1, n - k)) < 1e-9
    # tuple access prunes to the F half; degenerate inputs are NULL
    f1 = spark.sql(transpile(
        "SELECT analysisOfVariance(v, g).1 AS f FROM anv_t"
    )).collect()[0].f
    assert abs(f1 - F) < 1e-8 * max(1.0, F)
    deg = spark.sql(transpile(
        "SELECT analysisOfVariance(v, 1) AS a FROM anv_t"
    )).collect()[0].a
    assert deg.f_statistic is None and deg.p_value is None


def test_r12_any_right_join(spark):
    """ANY RIGHT JOIN (r12): the LEFT side collapses to one row per
    key before the join — |right| output rows, deterministic
    min-struct pick; both keyword orders parse; resolver-less calls
    keep the backstop refusal."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW arj_l AS SELECT id % 3 AS k, "
        "CAST(id AS DOUBLE) AS lv FROM range(9)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW arj_r AS SELECT id % 5 AS k, "
        "concat('r', id) AS tag FROM range(10)"
    )
    res = lambda rel: {  # noqa: E731
        "arj_l": ["k", "lv"], "arj_r": ["k", "tag"],
    }.get(rel.strip())
    lmin = {
        k: min(float(i) for i in range(9) if i % 3 == k)
        for k in range(3)
    }
    for sql in (
        "SELECT k, lv, tag FROM arj_l ANY RIGHT JOIN arj_r USING (k)",
        "SELECT k, lv, tag FROM arj_l RIGHT ANY JOIN arj_r USING (k)",
    ):
        rows = spark.sql(transpile(sql, resolve_columns=res)).collect()
        assert len(rows) == 10, sql  # |right| preserved
        for r in rows:
            want = lmin.get(r.k)
            assert r.lv == want, (sql, tuple(r))
    # ON form with differently-qualified keys
    q = transpile(
        "SELECT r.tag AS tag, l.lv AS lv FROM arj_l l "
        "ANY RIGHT JOIN arj_r r ON l.k = r.k",
        resolve_columns=res,
    )
    rows = spark.sql(q).collect()
    assert len(rows) == 10
    with pytest.raises(DialectError, match="strictness"):
        transpile("SELECT * FROM arj_l ANY RIGHT JOIN arj_r USING (k)")


def test_r12_scalar_batch16(spark):
    """r12 audit batch 16: tuple-of-intervals unrolling, literal
    tupleNames/tupleElement-with-default, throwIf via assert_true,
    NULL-safe base58, the type-Nothing aggregate, fixed-date time
    alias, and the server-state/model/charset walls."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("nothing(1)") is None
    assert str(one(
        "toTimeWithFixedDate(toDateTime('2024-03-15 10:30:45'))"
    )).startswith("1970-01-02 10:30:45")
    assert one("tryBase58Decode(base58Encode('hello'))") == "hello"
    assert one("tryBase58Decode('0OIl')") is None  # invalid alphabet
    assert str(one(
        "addTupleOfIntervals(toDate('2024-01-31'), "
        "(INTERVAL 1 DAY, INTERVAL 1 MONTH))"
    )) == "2024-03-01"
    assert one("tupleNames((7, 'x', 3.0))") == ["1", "2", "3"]
    assert one("tupleElement((10, 20), 2, 0)") == 20
    assert one("tupleElement((10, 20), 9, -1)") == -1
    assert one("throwIf(1 > 2)") == 0
    with pytest.raises(Exception, match="boom"):
        spark.sql(transpile(
            "SELECT throwIf(2 > 1, 'boom') AS v"
        )).collect()
    with pytest.raises(DialectError, match="LITERAL"):
        transpile("SELECT addTupleOfIntervals(ts, t) FROM x")
    for bad, m in [
        ("transactionID()", "server"),
        ("hasColumnInTable('d', 't', 'c')", "catalog"),
        ("catboostEvaluate('m', v)", "CatBoost"),
        ("partitionID(x)", "layout"), ("shardNum()", "shard"),
        ("convertCharset(s, 'a', 'b')", "ICU"),
        ("arrayReduceInRanges('sum', [(1, 2)], a)", "arraySlice"),
    ]:
        with pytest.raises(DialectError, match=m):
            transpile(f"SELECT {bad} FROM t")


def test_r12c_review_fixes(spark):
    """Third-review fixes: nothing() keeps aggregate shape, throwIf
    handles NULL/numeric/3-arg, infix keywords and brackets in the
    bare-alias heuristic, multiplication is not a star in either
    re-plan, scalar-subquery stars don't demote the ANY join."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    spark.sql("CREATE OR REPLACE TEMP VIEW rc5 AS "
              "SELECT id AS x FROM range(5)")
    rows = spark.sql(transpile(
        "SELECT nothing(x) AS v FROM rc5"
    )).collect()
    assert len(rows) == 1 and rows[0].v is None  # aggregate collapse
    assert one("throwIf(CAST(NULL AS BOOLEAN))") is None  # no throw
    assert one("throwIf(0)") == 0  # numeric zero passes
    with pytest.raises(Exception, match="num"):
        spark.sql(transpile(
            "SELECT throwIf(3, 'num', 42) AS v"  # 3-arg, code dropped
        )).collect()
    # MOD is an infix keyword, not an expression end; bracket-ended
    # expressions DO take bare aliases
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW rc_t AS SELECT id % 3 AS k, "
        "array(id, 9) AS arr, concat('v', id) AS s FROM range(9)"
    )
    o = transpile(
        "SELECT k MOD 2 AS m, groupConcat(',', 2)(s) AS g "
        "FROM rc_t GROUP BY k MOD 2"
    )
    assert "k MOD 2 AS __gc_k0" in o.replace("  ", " ")
    rows2 = spark.sql(transpile(
        "SELECT arr[1] kk, groupConcat(',', 9)(s) AS g "
        "FROM rc_t GROUP BY kk ORDER BY kk"
    )).collect()
    assert [r.kk for r in rows2] == [0, 1, 2, 3, 4, 5, 6, 7, 8]
    # depth-0 multiplication doesn't kill the bounded re-plan: an
    # ungrouped expression of the group key projects over its slot
    sql = (
        "SELECT k AS kk, k * 2 AS d, groupConcat(',', 2)(s) AS g "
        "FROM rc_t GROUP BY k"
    )
    o2 = transpile(sql)
    assert "__gc_rn" in o2 and "__gc_k0 * 2 AS d" in o2
    assert sorted(
        (r.kk, r.d) for r in spark.sql(o2).collect()
    ) == [(0, 0), (1, 2), (2, 4)]
    # a grouped multiplication key keeps it too
    o3 = transpile(
        "SELECT k * 2 AS d, groupConcat(',', 2)(s) AS g "
        "FROM rc_t GROUP BY d"
    )
    assert "k * 2 AS __gc_k0" in o3 and "__gc_rn" in o3


def test_r13_batch22_value_pins(spark):
    """Batch 22 value pins (code-review r13h: the audit only proves
    map-or-refuse, not values): any-type toJSONString incl. the
    U+2028 line terminator a regex strip silently dropped,
    addDate/subDate arithmetic, ngram tokenizer output and its
    defaults, and the parse-side day-name ban."""
    import pytest as _pytest

    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("toJSONString('hi')") == '"hi"'
    assert one("toJSONString(42)") == "42"
    assert one("toJSONString([1, 2])") == "[1,2]"
    assert one("toJSONString(map('a', 1))") == '{"a":1}'
    assert one("toJSONString(CAST(NULL AS INT))") == "null"
    got = one("toJSONString(concat('a', char(8232), 'b'))")
    assert got.startswith('"a') and got.endswith('b"')  # not ''
    assert str(one(
        "addDate(CAST('2024-03-15' AS DATE), INTERVAL 3 DAY)"
    )) == "2024-03-18"
    assert str(one(
        "subDate(CAST('2024-03-15' AS DATE), INTERVAL 1 MONTH)"
    )) == "2024-02-15"
    assert one("tokens('abcde', 'ngram', 3)") == ["abc", "bcd", "cde"]
    assert one("tokens('abcd', 'ngram')") == ["abc", "bcd"]  # N=3
    assert one("tokens('ab', 'ngram', 3)") == []
    assert one("tokens('Hi there, world')") == ["Hi", "there", "world"]
    # %c zero-pads (CH dialect), %W/%a are format-only
    assert one(
        "formatDateTime(CAST('2024-03-15' AS TIMESTAMP), '%c')"
    ) == "03"
    with _pytest.raises(DialectError, match="format-only"):
        transpile("SELECT parseDateTimeOrNull('Friday', '%W')")
    with _pytest.raises(DialectError, match="unsupported"):
        transpile("SELECT formatDateTime(ts, '%V') FROM t")


def test_r14_advice_fixes(spark):
    """ADVICE r13 items: (1) the %W/%a parse-side day-name ban now
    covers parseDateTimeOrZero and the parseDateTime64OrZero
    dispatch into it (the OrZero never-throw contract); (2) bare
    type/unit tokens (month, year, date...) read as COLUMN references
    in isConstant/isNullable while type contexts stay constant;
    (3) extractKeyValuePairs survives duplicate keys (first-win)
    instead of throwing under mapKeyDedupPolicy=EXCEPTION."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    # (1) day-name ban covers every strftime parse entry point
    with pytest.raises(DialectError, match="format-only"):
        transpile("SELECT parseDateTimeOrZero('Friday', '%W')")
    with pytest.raises(DialectError, match="format-only"):
        transpile("SELECT parseDateTime64OrZero('Fri', '%a')")
    assert str(one(
        "parseDateTimeOrZero('zz', '%Y-%m-%d')"
    )) == "1970-01-01 00:00:00"  # OrZero contract intact
    # (2) bare month/year are columns...
    assert " 0 " in transpile("SELECT isConstant(month) FROM t")
    assert " 0 " in transpile("SELECT isConstant(year + 1) FROM t")
    assert " 1 " in transpile("SELECT isNullable(year) FROM t")
    # ...while type/typed-literal/interval contexts stay constant
    assert one("isConstant(CAST(1 AS INT))") == 1
    assert one("isConstant(CAST(1 AS DECIMAL(10, 2)))") == 1
    assert one(
        "isConstant(CAST('2024-03-15' AS DATE) + INTERVAL 3 DAY)"
    ) == 1
    assert one("isConstant(CAST(map() AS MAP<STRING, INT>))") == 1
    # (3) duplicate keys: first pair wins, no runtime throw
    kv = one("extractKeyValuePairs('a:1,a:2,b:3')")
    assert kv == {"a": "1", "b": "3"}
    assert one("extractKeyValuePairs('a:1,b:2')['b']") == "2"
    assert one("extractKeyValuePairs('x=1&x=2', '=', '&')") == {
        "x": "1"
    }


def test_r14_wkt_geometry(spark):
    """WKT serialization flip (VERDICT r13 item 3): readWKT* parse
    POINT/LINESTRING/POLYGON/MULTIPOLYGON text into plain
    struct/array columns with pure string ops; wkt() serializes any
    point/ring/polygon/multipolygon nesting back through to_json
    with CH's byte format (no space after tag, no space after
    commas, integral doubles print bare).  length() dispatches to
    size() for wholly-array-headed rendered arguments."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    p = one("readWKTPoint('POINT (30 10)')")
    assert (p.x, p.y) == (30.0, 10.0)
    assert one("readWKTPoint('POINT(1.5 -2.25)').1") == 1.5
    assert one("readWKTPoint('POINT (30 10)').2") == 10.0
    ls = one("readWKTLineString('LINESTRING (1 1, 2 2, 3 3)')")
    assert [(q.x, q.y) for q in ls] == [(1, 1), (2, 2), (3, 3)]
    rg = one("readWKTRing('POLYGON ((0 0, 10 0, 10 10, 0 10))')")
    assert len(rg) == 4 and (rg[2].x, rg[2].y) == (10.0, 10.0)
    pg = one(
        "readWKTPolygon('POLYGON ((0 0, 10 0, 10 10, 0 10), "
        "(4 4, 5 4, 5 5, 4 5))')"
    )
    assert [len(r) for r in pg] == [4, 4]
    assert (pg[1][0].x, pg[1][0].y) == (4.0, 4.0)
    mp = one(
        "readWKTMultiPolygon('MULTIPOLYGON (((0 0, 5 0, 5 5)), "
        "((10 10, 11 10, 11 11)))')"
    )
    assert len(mp) == 2 and len(mp[1][0]) == 3
    ml = one(
        "readWKTMultiLineString('MULTILINESTRING ((1 1, 2 2), "
        "(3 3, 4 4))')"
    )
    assert len(ml) == 2
    # serialize side: CH byte format, docs-pinned shapes
    assert one("wkt((0.5, 10.0))") == "POINT(0.5 10)"
    assert one(
        "wkt([(0., 0.), (10., 0.), (10., 10.), (0., 10.)])"
    ) == "POLYGON((0 0,10 0,10 10,0 10))"
    assert one(
        "wkt(readWKTPolygon('POLYGON ((0 0, 10 0, 10 10, 0 10), "
        "(4 4, 5 4, 5 5, 4 5))'))"
    ) == "POLYGON((0 0,10 0,10 10,0 10),(4 4,5 4,5 5,4 5))"
    assert one(
        "wkt(readWKTMultiPolygon('MULTIPOLYGON (((0 0, 5 0, 5 5)), "
        "((10 10, 11 10, 11 11)))'))"
    ) == "MULTIPOLYGON(((0 0,5 0,5 5)),((10 10,11 10,11 11)))"
    assert one("wkt(readWKTPoint('POINT (30 10)'))") == "POINT(30 10)"
    # malformed WKT throws (the CH contract): bad tag reaches an
    # ANSI CAST('' AS DOUBLE)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|cast"):
        one("readWKTPoint('LINESTRING (1 1, 2 2)')")
    # wkt of a non-geometry nesting raises
    with pytest.raises(Exception, match="not a point"):
        one("wkt(((1.0, 2.0, 3.0)))")
    # length() array/string dispatch
    assert one("length(splitByChar(',', 'a,b,c'))") == 3
    assert one("length('abc')") == 3
    assert one("length(arrayFlatten([[1],[2,3]]))") == 3
    # a subscripted array re-scalars: string length of 'bb'
    assert one("length(splitByChar(',', 'a,bb,c')[2])") == 2


def test_r14_series_tukey(spark):
    """seriesOutliersDetectTukey flip (VERDICT r13 item 4) — both
    ClickHouse docs examples pin the quantile method (pos = n*p with
    integral-pos averaging, NOT (n-1)p interpolation), argument
    validation keeps CH's contract, and the <4-element throw
    survives at runtime."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    # docs example 1: default params, integral-pos branch (n=16)
    assert one(
        "seriesOutliersDetectTukey([-3, 2, 15, 3, 5, 6, 4, 5, 12, "
        "45, 12, 3, 3, 4, 5, 6])"
    ) == [0, 0, 0, 0, 0, 0, 0, 0, 0, 27.0, 0, 0, 0, 0, 0, 0]
    # docs example 2: explicit percentiles + K
    assert one(
        "seriesOutliersDetectTukey([-3, 2, 15, 3, 5, 6, 4.50, 5, "
        "12, 45, 12, 3.40, 3, 4, 5, 6], 0.2, 0.8, 1.5)"
    ) == [0, 0, 0, 0, 0, 0, 0, 0, 0, 19.5, 0, 0, 0, 0, 0, 0]
    # low outliers score on the lower fence
    got = one("seriesOutliersDetectTukey([5, 6, 5, 6, 5, 6, -100])")
    assert got[-1] > 0 and all(x == 0 for x in got[:-1])
    # CH's argument contract: <4 elements throws at RUNTIME
    with pytest.raises(Exception, match="at least 4"):
        one("seriesOutliersDetectTukey([1.0, 2.0, 9.0])")
    with pytest.raises(DialectError, match="0.02"):
        transpile("SELECT seriesOutliersDetectTukey([1,2,3,4], "
                  "0.01, 0.75, 1.5)")
    with pytest.raises(DialectError, match="literal"):
        transpile("SELECT seriesOutliersDetectTukey(a, v, 0.75, "
                  "1.5) FROM t")
    with pytest.raises(DialectError, match=">= 0"):
        transpile("SELECT seriesOutliersDetectTukey([1,2,3,4], "
                  "0.25, 0.75, -1)")


def test_r14_siphash_keyed_and_ulid(spark):
    """Batch-24 depth flips (VERDICT r13 item 6): sipHash64Keyed is
    BIT-EXACT SipHash-2-4 — the paper's reference vectors (key
    0x0706050403020100/0x0f0e0d0c0b0a0908 over 0..n-byte inputs)
    pin the Arrow register; generateULID round-trips through
    ULIDStringToDateTime and the deterministic tier is a pure
    function of its argument."""
    import datetime
    import warnings

    from clickhouse_vs_dbt_spark.dialect import DialectWarning

    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    k = "(506097522914230528, 1084818905618843912)"
    u64 = lambda v: v & ((1 << 64) - 1)  # noqa: E731
    # SipHash-2-4 paper test vectors (Aumasson & Bernstein 2012,
    # appendix A): inputs '', 00, 00..07
    assert u64(one(f"sipHash64Keyed({k}, '')")) == 0x726FDB47DD0E0E31
    assert u64(one(
        f"sipHash64Keyed({k}, char(0))"
    )) == 0x74F839C593DC67FD
    eight = "concat(" + ", ".join(
        f"char({i})" for i in range(8)
    ) + ")"
    assert u64(one(
        f"sipHash64Keyed({k}, {eight})"
    )) == 0x93F5F5799A932462
    # NULL propagation + key-tuple validation
    assert one(f"sipHash64Keyed({k}, CAST(NULL AS STRING))") is None
    with pytest.raises(DialectError, match="key tuple"):
        transpile("SELECT sipHash64Keyed(1, 'x')")
    with pytest.raises(DialectError, match="concat"):
        transpile("SELECT sipHash64Keyed((0, 0), 'x', 'y')")
    # r15: the 128-bit family maps now (test_r15_siphash128_family)
    assert "ch_siphash128_keyed" in transpile(
        "SELECT sipHash128Keyed((0, 0), 'x')"
    )
    # ULID: shape, alphabet, time round-trip
    import re as _re

    u0 = one("generateULID()")
    assert len(u0) == 26 and _re.fullmatch(
        "[0-9A-HJKMNP-TV-Z]{26}", u0
    )
    rt = one("ULIDStringToDateTime(generateULID())")
    assert abs(
        (rt - datetime.datetime.utcnow()).total_seconds()
    ) < 600
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DialectWarning)
        a = one("generateULID('seed')")
        b = one("generateULID('seed')")
        c = one("generateULID('other')")
    assert a == b == "7Y9G7K1AHNKH0XKYD5YTE8RGCJ" and a != c
    with pytest.warns(DialectWarning, match="DETERMINISTIC"):
        transpile("SELECT generateULID('x')")


def test_r14_review_fixes(spark):
    """Code-review r14a findings: numeric SipHash data hashes its
    decimal text (the documented divergence) instead of crashing the
    Arrow register; '<' next to a unit-named column is a COMPARISON,
    not a generic type (and INTERVAL ... DAY TO HOUR stays
    constant); negative exponents parse in POINT coordinates; wkt of
    a plain-number nesting raises; wrong arities refuse instead of
    leaking CH names into unresolved-function errors."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("sipHash64Keyed((0, 0), 42)") == -7234506614731780355
    assert " 0 " in transpile(
        "SELECT isConstant(month < year) FROM t"
    )
    assert one(
        "isConstant(CAST('2 01:02' AS INTERVAL DAY TO HOUR))"
    ) == 1
    p = one("readWKTPoint('POINT (1.5e-3 2)')")
    assert (p.x, p.y) == (0.0015, 2.0)
    with pytest.raises(Exception, match="not a point"):
        one("wkt([[1.0, 2.0]])")
    for bad in (
        "seriesOutliersDetectTukey([1,2,3,4], 0.2)",
        "sipHash64Keyed(1)",
        "generateULID(1, 2)",
        "wkt((1., 2.), 'x')",
        "readWKTPoint('a', 'b')",
    ):
        with pytest.raises(DialectError):
            transpile(f"SELECT {bad}")


def test_r14_batch25_subsequence_uuidv7(spark):
    """Audit batch 25: hasSubsequence greedy fold (CH docs example
    pinned), case-insensitive and *UTF8 twins, the UUIDv7 read-side
    48-bit ms prefix (RFC 9562's own example uuid), and the
    sparseGrams wall."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("hasSubsequence('garbage', 'arg')") is True
    assert one("hasSubsequence('garbage', 'arbw')") is False
    assert one("hasSubsequence('abc', '')") is True
    assert one("hasSubsequence('', 'a')") is False
    assert one(
        "hasSubsequenceCaseInsensitive('Hello World', 'hw')"
    ) is True
    assert one("hasSubsequenceUTF8('héllo', 'él')") is True
    assert one(
        "hasSubsequence(CAST(NULL AS STRING), 'a')"
    ) is None
    # RFC 9562 example UUIDv7: 2022-02-22T14:22:22-05:00
    assert str(one(
        "UUIDv7ToDateTime('017f22e2-79b0-7cc3-98c4-dc0c0c07398f')"
    )) == "2022-02-22 19:22:22"
    # non-v7 uuid answers the DateTime64 zero, not a bogus decode
    # of random bits (code-review r14b)
    assert str(one(
        "UUIDv7ToDateTime('123e4567-e89b-42d3-a456-426614174000')"
    )) == "1970-01-01 00:00:00"
    with pytest.raises(DialectError, match="UTC"):
        transpile("SELECT UUIDv7ToDateTime(u, 'Asia/Tokyo') FROM t")
    with pytest.raises(DialectError, match="tokens"):
        transpile("SELECT sparseGrams(s) FROM t")


def test_r14_batch26_weighted_sketch_quantiles(spark):
    """Audit batch 26: weighted sketch-quantile twins take the
    exact-weighted register (cumulative-weight threshold — pinned:
    the weighted median of v=0..100 with weight v is 71, the first
    value whose cumulative weight 2556 reaches half of 5050);
    deterministic quantiles drop the determinator; plural
    quantilesBFloat16; kql/evalMLMethod wall."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b26 AS SELECT CAST(id AS "
        "DOUBLE) AS v, id AS x FROM range(101)"
    )
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM b26")
    ).collect()[0].r
    assert one("quantileTimingWeighted(0.5)(v, x)") == 71.0
    assert one("quantileTDigestWeighted(0.5)(v, x)") == 71.0
    # median spellings and the plain default-level 0.5 form route
    # through the same token normalization (code-review r14c)
    assert one("medianTimingWeighted(v, x)") == 71.0
    assert one("medianBFloat16Weighted(v, x)") == 71.0
    assert one("quantileTDigestWeighted(v, x)") == 71.0
    # statement position takes the value-compressed re-plan, not
    # the collect fold (code-review r14c)
    q = transpile(
        "SELECT quantileTimingWeighted(0.5)(v, x) AS q FROM b26"
    )
    assert "collect_list" not in q
    # -If combinator forms (code-review r14d: the bare-spelling map
    # left median*WeightedIf leaking): condition masks the value,
    # the NULL-skipping fold drops the pair — weighted median over
    # the EVEN values of 0..100 (weight v) is 72
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b26c AS SELECT v, x, "
        "CAST(x % 2 = 0 AS BOOLEAN) AS c FROM b26"
    )
    onec = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM b26c")
    ).collect()[0].r
    assert onec("quantileExactWeightedIf(0.5)(v, x, c)") == 72.0
    assert onec("quantileTimingWeightedIf(0.5)(v, x, c)") == 72.0
    assert onec("medianTimingWeightedIf(v, x, c)") == 72.0
    assert onec("medianExactWeightedIf(v, x, c)") == 72.0
    assert onec(
        "quantilesTDigestWeightedIf(0.25, 0.75)(v, x, c)"
    ) == [50.0, 88.0]
    # INTERVAL unit-position fixes (code-review r14d)
    assert transpile(
        "SELECT isConstant(INTERVAL -1 DAY) AS r"
    ) == "SELECT 1 AS r"
    assert transpile(
        "SELECT isConstant(INTERVAL (1) DAY) AS r"
    ) == "SELECT 1 AS r"
    assert one("quantilesTimingWeighted(0.25, 0.75)(v, x)") == [
        50.0, 87.0,
    ]
    assert one("quantileDeterministic(0.5)(v, x)") == 50.0
    assert one("quantilesDeterministic(0.25, 0.75)(v, x)") == [
        25.0, 75.0,
    ]
    assert one("quantilesBFloat16(0.25, 0.75)(v)") == [25.0, 75.0]
    with pytest.raises(DialectError, match="Kusto"):
        transpile("SELECT kql()")
    with pytest.raises(DialectError, match="mlinfer"):
        transpile("SELECT evalMLMethod(x) FROM t")


def test_r14_batch27_notilike(spark):
    """Audit batch 27's one leak: the functional NOT ILIKE (and its
    ilike twin) — NULL-propagating booleans like the notLike
    precedent."""
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("notILike('Hello', '%ELL%')") is False
    assert one("notILike('Hello', '%bye%')") is True
    assert one("ilike('Hello', 'hell%')") is True
    assert one("notILike(CAST(NULL AS STRING), '%x%')") is None


def test_r14_batch28_if_combinators(spark):
    """Audit batch 28: the generic composed -If tier — every head in
    _IF_COMPOSED must agree with its base over a WHERE-filtered
    reference (the definition of -If); plus the -OrNull delegate
    tier, -ArrayDistinct/anyArray/medianArray, the parametric -If
    forms, and retentionIf's AND-composition."""
    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b28 AS SELECT id AS x, "
        "CAST(id AS DOUBLE) AS v, id % 3 AS g, "
        "array(CAST(id % 4 AS INT), CAST(id % 5 AS INT)) AS a, "
        "id % 2 = 0 AS c FROM range(24)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b28f AS SELECT * FROM b28 "
        "WHERE c"
    )
    pairs = [
        ("skewPopIf(v, c)", "skewPop(v)"),
        ("kurtSampIf(v, c)", "kurtSamp(v)"),
        ("sumKahanIf(v, c)", "sumKahan(v)"),
        ("uniqThetaIf(x, c)", "uniqTheta(x)"),
        ("groupBitOrIf(x, c)", "groupBitOr(x)"),
        ("maxIntersectionsIf(g, g + 2, c)",
         "maxIntersections(g, g + 2)"),
        ("intervalLengthSumIf(g, g + 2, c)",
         "intervalLengthSum(g, g + 2)"),
        ("boundingRatioIf(v, v * 2, c)", "boundingRatio(v, v * 2)"),
        ("avgWeightedIf(v, x + 1, c)", "avgWeighted(v, x + 1)"),
        ("stddevPopStableIf(v, c)", "stddevPopStable(v)"),
        ("sumMapIf([g], [x], c)", "sumMap([g], [x])"),
        ("sumArrayIf(a, c)", "sumArray(a)"),
        ("uniqArrayIf(a, c)", "uniqArray(a)"),
        ("groupArrayArrayIf(a, c)", "groupArrayArray(a)"),
        ("sumForEachIf([v], c)", "sumForEach([v])"),
        ("retentionIf(g = 0, g = 1, c)", "retention(g = 0, g = 1)"),
        ("quantilesIf(0.25, 0.75)(v, c)",
         "quantiles(0.25, 0.75)(v)"),
        ("topKIf(2)(g, c)", "topK(2)(g)"),
        ("topKIf(2, 0.5)(g, c)", "topK(2, 0.5)(g)"),
    ]
    for iff, base in pairs:
        got = spark.sql(
            transpile(f"SELECT {iff} AS r FROM b28")
        ).collect()[0].r
        want = spark.sql(
            transpile(f"SELECT {base} AS r FROM b28f")
        ).collect()[0].r
        assert str(got) == str(want), (iff, got, want)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM b28")
    ).collect()[0].r
    # -OrNull delegates; empty-set NULL via the filtered-empty view
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b28e AS SELECT * FROM b28 "
        "WHERE x < 0"
    )
    onee = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM b28e")
    ).collect()[0].r
    assert onee("anyOrNull(v)") is None
    assert onee("uniqOrNull(x)") is None
    assert one("uniqOrNull(x)") == 24
    assert one("medianIfOrNull(v, c)") is not None
    # -ArrayDistinct / anyArray / medianArray — exact pins
    # (code-review r14e: 'is not None' let three value bugs pass)
    assert one("countArrayDistinct(a)") == 5  # elements 0..4
    assert one("sumArrayDistinct(a)") == 10.0
    assert one("avgArrayDistinct(a)") == 2.0
    assert one("anyArray(a)") in (0, 1, 2, 3, 4)
    # 48 elements: counts 11/11/11/11/4 for 0..4 — the exact-median
    # rule picks sorted position floor(47*0.5)+1 = 24 -> value 2
    assert one("medianArray(a)") == 2.0
    # NULL elements are SKIPPED (CH aggregate contract) and empty
    # sets answer NULL, never throw (code-review r14e)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b28n AS SELECT CASE WHEN "
        "id = 0 THEN array(CAST(NULL AS INT), CAST(5 AS INT)) "
        "WHEN id = 1 THEN array(CAST(1 AS INT), CAST(NULL AS INT)) "
        "ELSE CAST(array() AS ARRAY<INT>) END AS a FROM range(3)"
    )
    onen = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM b28n")
    ).collect()[0].r
    assert onen("sumArrayDistinct(a)") == 6.0
    assert onen("countArrayDistinct(a)") == 2
    assert onen("uniqExactArray(a)") == 2
    assert onen("anyArray(a)") in (1, 5)
    assert onen("medianArray(a)") == 1.0  # sorted [1, 5] -> idx 1
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b28z AS SELECT "
        "CAST(array() AS ARRAY<INT>) AS a FROM range(2)"
    )
    onez = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM b28z")
    ).collect()[0].r
    assert onez("medianArray(a)") is None  # empty set: NULL, no throw
    assert onez("anyArray(a)") is None
    # strict_order windowFunnelIf refuses (excluded rows would still
    # break chains as no-match events — code-review r14e)
    with pytest.raises(DialectError, match="strict_order"):
        transpile(
            "SELECT windowFunnelIf(10, 'strict_order')"
            "(v, x = 1, x = 2, c) FROM b28"
        )
    # the two-level statistics heads refuse THROUGH the -If tier
    # with their pointer, never an unresolved-function leak
    with pytest.raises(DialectError, match="two-level"):
        transpile("SELECT entropyIf(g, c) FROM b28")


def test_r15_advice_fixes(spark):
    """ADVICE r14 regressions: (1) sipHash64Keyed keys travel as
    STRINGS so a NULL in the batch can no longer float64-widen the
    key Series and round a >53-bit key — the paper vector must hold
    in the SAME batch as a NULL row; (2) `array < month` is a
    COMPARISON between columns (non-constant) while named-struct /
    nested-generic casts stay constant; (3) the two-level heads
    refuse through the -If tier (split into _IF_REFUSE_THROUGH)."""
    register_clickhouse_compat(spark)
    # (1) one batch, three rows: NULL data + the paper key.  Before
    # the fix, the NULL widened k0/k1 to float64 and
    # int(5.060975229142305e17) != 506097522914230528.
    spark.sql(
        "SELECT explode(array('', CAST(NULL AS STRING), 'abc')) AS d"
    ).createOrReplaceTempView("sip15")
    rows = spark.sql(transpile(
        "SELECT d, sipHash64Keyed("
        "(506097522914230528, 1084818905618843912), d) AS h "
        "FROM sip15 ORDER BY d NULLS FIRST"
    )).collect()
    u64 = lambda v: v & ((1 << 64) - 1)  # noqa: E731
    assert rows[0].h is None
    assert u64(rows[1].h) == 0x726FDB47DD0E0E31  # paper vector ''
    # (2) generic-type context anchored to AS-rooted chains
    const = lambda q: transpile(  # noqa: E731
        f"SELECT isConstant({q})" + (" FROM t" if "x" in q or
                                     "month" in q else "")
    ).split()[1]
    assert const("array < month") == "0"
    assert const("CAST(NULL, 'Tuple(a Int64)')") == "1"
    assert const("CAST(NULL, 'Map(String, Int64)')") == "1"
    # a real column next to the cast still reads as a column
    assert const("CAST(x, 'Array(Int64)')") == "0"
    # (3) refuse-through heads: actionable message, no name leak
    for head in ("entropyIf", "cramersVIf", "theilsUIf"):
        with pytest.raises(DialectError, match="two-level"):
            transpile(f"SELECT {head}(a, b, c) FROM t")


def test_r15_siphash128_family(spark):
    """VERDICT r14 item 2: the 128-bit SipHash family is bit-exact.
    sipHash128Reference[Keyed] pins the reference repo's public
    vectors_sip128 (key 000102..0f); sipHash128[Keyed] is
    ClickHouse's legacy construction (src/Common/SipHash.h get128:
    64-bit finalization, emit v0^v1 || v2^v3 LE), pinned via the
    derived invariant XOR(half0, half1) == sipHash64 of the same
    input.  All return BINARY(16) — FixedString(16)'s bytes — so
    hex() composes exactly as in ClickHouse."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    k = "(506097522914230528, 1084818905618843912)"
    # reference vectors (veorq/SipHash vectors.h, sip128)
    assert one(
        f"hex(sipHash128ReferenceKeyed({k}, ''))"
    ) == "A3817F04BA25A8E66DF67214C7550293"
    assert one(
        f"hex(sipHash128ReferenceKeyed({k}, char(0)))"
    ) == "DA87C1D86B99AF44347659119B22FC45"
    eight = "concat(" + ", ".join(
        f"char({i})" for i in range(8)
    ) + ")"
    assert one(
        f"hex(sipHash128ReferenceKeyed({k}, {eight}))"
    ) == "3B62A9BA6258F5610F83E264F31497B4"
    # legacy invariant: XOR of the halves == sipHash64 (same key)
    h = one(f"sipHash128Keyed({k}, 'abc')")
    h64 = one(f"sipHash64Keyed({k}, 'abc')")
    lo = int.from_bytes(bytes(h[:8]), "little")
    hi = int.from_bytes(bytes(h[8:]), "little")
    assert (lo ^ hi) == (h64 & ((1 << 64) - 1))
    # unkeyed forms are the zero-key forms
    assert one(
        "sipHash128('x') = sipHash128Keyed((0, 0), 'x')"
    ) is True
    assert one(
        "sipHash128Reference('x') = "
        "sipHash128ReferenceKeyed((0, 0), 'x')"
    ) is True
    assert one("sipHash128('x') = sipHash128Reference('x')") is False
    # NULL propagation and arity refusals
    assert one("sipHash128(CAST(NULL AS STRING))") is None
    for bad, msg in [
        ("sipHash128('a', 'b')", "concat"),
        ("sipHash128Keyed((0, 0), 'a', 'b')", "concat"),
        ("sipHash128Keyed(1, 'x')", "key tuple"),
        ("sipHash128Reference()", "one argument"),
        ("sipHash128ReferenceKeyed((0, 0))", "two"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad}")


def test_r15_series_period_fft(spark):
    """VERDICT r14 item 3: seriesPeriodDetectFFT as a mean-centered
    pure-SQL DFT periodogram argmax.  Both ClickHouse docs examples
    pinned (the 21-point period-3 series and the length-1000
    triangle wave), the degenerate constant series hits the exact
    NaN tier (centering zeroes the spectrum in fp exactly), mean
    offset is irrelevant off bin 0, < 4 points throws at runtime,
    wrong arity refuses at transpile time."""
    import math

    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one(
        "seriesPeriodDetectFFT([1, 4, 6, 1, 4, 6, 1, 4, 6, 1, 4, 6, "
        "1, 4, 6, 1, 4, 6, 1, 4, 6])"
    ) == 3.0
    assert one(
        "seriesPeriodDetectFFT(arrayMap(x -> abs((x % 6) - 3), "
        "range(1000)))"
    ) == 6.0
    assert math.isnan(one("seriesPeriodDetectFFT([5, 5, 5, 5, 5])"))
    assert one(
        "seriesPeriodDetectFFT([101, 104, 106, 101, 104, 106, 101, "
        "104, 106, 101, 104, 106])"
    ) == 3.0
    assert one(
        "seriesPeriodDetectFFT(CAST(NULL AS ARRAY<DOUBLE>))"
    ) is None
    with pytest.raises(Exception, match="at least 4"):
        one("seriesPeriodDetectFFT([1, 2, 3])")
    with pytest.raises(DialectError, match="one series"):
        transpile("SELECT seriesPeriodDetectFFT([1,2,3,4], 2)")
    with pytest.raises(DialectError, match="STL"):
        transpile("SELECT seriesDecomposeSTL([1,2,3,4], 3)")


def test_r15_qw_expression_replan(spark):
    """VERDICT r14 item 4: weighted-quantile calls nested in
    whitelisted scalar expressions re-plan to the value-compressed
    two-pass form; the residual evaluates on the OUTER projection
    (group keys substitute as __qw_kN); unownable shapes (aggregate
    heads, foreign idents, HAVING) fall to the collect fold, which
    is now CAPPED — the census assertion: every rendered collect in
    this family carries the runtime size guard."""
    register_clickhouse_compat(spark)
    # transpile-level ownership
    for sql in (
        "SELECT g, round(quantileExactWeighted(0.9)(v, w), 2) AS q "
        "FROM t GROUP BY g",
        "SELECT g, quantileExactWeighted(0.9)(v, w) - "
        "quantileExactWeighted(0.1)(v, w) AS iqr FROM t GROUP BY g",
        "SELECT g, round(quantileExactWeighted(0.5)(v, w) + g, 1) "
        "AS q FROM t GROUP BY g",
        "SELECT toInt64(quantileExactWeighted(0.5)(v, w)) AS q "
        "FROM t",
    ):
        out = transpile(sql)
        assert "collect_list" not in out and "__qw_cw" in out, sql
    # unownable residuals fall back — and EVERY fold is capped
    for sql in (
        "SELECT g, sum(v) + quantileExactWeighted(0.5)(v, w) AS q "
        "FROM t GROUP BY g",
        "SELECT g, quantileExactWeighted(0.5)(v, w) + z AS q "
        "FROM t GROUP BY g",
        "SELECT quantileExactWeighted(0.5)(v, w) AS q FROM t "
        "GROUP BY g HAVING count(*) > 0",
    ):
        out = transpile(sql)
        assert "collect_list" in out, sql
        assert str(1 << 20) in out and "raise_error" in out, sql
    # runtime agreement: re-planned expression position == fold
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW qw_e AS "
        "SELECT CAST(id % 7 AS DOUBLE) AS v, id % 3 + 1 AS w, "
        "concat('g', id % 2) AS k FROM range(100)"
    )
    rep = spark.sql(transpile(
        "SELECT k, round(quantileExactWeighted(0.9)(v, w) - "
        "quantileExactWeighted(0.1)(v, w), 3) AS iqr "
        "FROM qw_e GROUP BY k ORDER BY k"
    ))
    assert "__qw_cw" in transpile(
        "SELECT k, round(quantileExactWeighted(0.9)(v, w) - "
        "quantileExactWeighted(0.1)(v, w), 3) AS iqr "
        "FROM qw_e GROUP BY k ORDER BY k"
    )
    fold = spark.sql(transpile(
        "SELECT k, round(quantileExactWeighted(0.9)(v, w) - "
        "quantileExactWeighted(0.1)(v, w), 3) AS iqr "
        "FROM qw_e GROUP BY k HAVING count(*) > 0 ORDER BY k"
    ))
    assert [(r.k, r.iqr) for r in rep.collect()] == [
        (r.k, r.iqr) for r in fold.collect()
    ]
    # the cap actually fires: a tiny test-scoped cap via the module
    # constant is not patchable per-query, so exercise the guard
    # branch directly with the rendered SQL shape
    guarded = spark.sql(
        "SELECT element_at(transform(array(array_sort("
        "collect_list(named_struct('v', CAST(id AS DOUBLE), "
        "'w', 1.0d)))), __qw -> IF(size(__qw) > 5, "
        "raise_error('cap'), CAST(size(__qw) AS DOUBLE))), 1) AS r "
        "FROM range(4)"
    ).collect()[0].r
    assert guarded == 4.0


def test_r15_review_fixes(spark):
    """Code-review r15a findings: dot-leading decimals and split
    two-char operators survive the expression-position re-join;
    CAST(... AS DECIMAL(p, s)) residuals re-plan; a NaN in the FFT
    series yields NaN (Spark's NaN-is-largest would elect k=1);
    arity-1 -If forms refuse instead of leaking; a non-integral
    SipHash key raises instead of silently truncating."""
    import math

    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW qw_r AS SELECT "
        "CAST(id % 7 AS DOUBLE) v, id % 3 + 1 w2, "
        "concat('g', id % 2) g FROM range(100)"
    )
    r = spark.sql(transpile(
        "SELECT g, quantileExactWeighted(0.5)(v, w2) + .5 AS q "
        "FROM qw_r GROUP BY g ORDER BY g"
    )).collect()
    assert [x.q for x in r] == [3.5, 3.5]
    r2 = spark.sql(transpile(
        "SELECT g, if(quantileExactWeighted(0.5)(v, w2) >= 3, 1, 0) "
        "AS hi FROM qw_r GROUP BY g ORDER BY g"
    )).collect()
    assert [x.hi for x in r2] == [1, 1]
    dec = transpile(
        "SELECT g, CAST(quantileExactWeighted(0.5)(v, w2) "
        "AS DECIMAL(10, 2)) AS q FROM qw_r GROUP BY g"
    )
    assert "collect_list" not in dec and "__qw_cw" in dec
    assert math.isnan(one(
        "seriesPeriodDetectFFT([1.0, toFloat64('NaN'), 2.0, 3.0, "
        "4.0, 5.0])"
    ))
    with pytest.raises(DialectError, match="two-level"):
        transpile("SELECT entropyIf(g) FROM t")
    with pytest.raises(DialectError, match="condition"):
        transpile("SELECT skewPopIf(v) FROM t")
    with pytest.raises(Exception, match="integer"):
        one("sipHash64Keyed((0.5, 0), 'x')")


def test_r15_batch29(spark):
    """Audit batch 29: the -SimpleState ring delegates to the base
    register for every SimpleAggregateFunction-compatible head
    (state IS the value), groupUniqArrayArray is the sorted set
    union, the Map-typed -Map combinator gains avg/count (exact
    integer-valued-double division), sumMappedArrays delegates any
    arity, hasAnyTokens/hasAllTokens expand literal arrays over the
    hasToken regex, and the unownable heads refuse with pointers."""
    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b29 AS SELECT id AS x, "
        "CAST(id % 7 AS DOUBLE) AS v, array(id % 3, id % 5) AS a, "
        "map('a', CAST(id % 7 AS DOUBLE), 'b', CAST(id % 3 AS "
        "DOUBLE)) AS m FROM range(20)"
    )
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM b29")
    ).collect()[0].r
    assert one("minSimpleState(v)") == 0.0
    assert one("maxSimpleState(v)") == 6.0
    assert one("sumSimpleState(x)") == 190
    assert one("groupBitOrSimpleState(x)") == 31
    assert one("anyLastSimpleState(x)") == 19
    assert one("groupUniqArrayArray(a)") == [0, 1, 2, 3, 4]
    assert one("groupUniqArrayArraySimpleState(a)") == [0, 1, 2, 3, 4]
    # avg of id%7 over 0..19: sum = 21 + 21 + 15 = 57, n = 20
    assert one("avgMap(m)['a']") == 57.0 / 20
    assert one("countMap(m)['b']") == 20
    assert one("sumMappedArrays(m)['b']") == sum(
        i % 3 for i in range(20)
    )
    lit = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r")
    ).collect()[0].r
    assert lit("hasAnyTokens('tok0 word', ['tok0', 'zz'])") is True
    assert lit("hasAllTokens('tok0 word', ['tok0', 'zz'])") is False
    assert lit("hasAnyTokens('x', [])") is False
    assert lit("clamp(75.0, 10.0, 50.0)") == 50.0
    assert lit("punycodeEncode('str3')") == "str3-"
    assert lit("arrayRotateLeft([1, 2, 7], 1)") == [2, 7, 1]
    assert lit("arrayShiftLeft([1, 2, 7], 1, 99)") == [2, 7, 99]
    assert lit("countEqual([3, 5, 3], 3)") == 2
    assert lit("arrayJaccardIndex([1, 2], [1, 3])") == 1.0 / 3
    assert lit(
        "toDaysSinceYearZero(toDate('1970-01-01'))"
    ) == 719528
    assert str(lit(
        "fromDaysSinceYearZero(toDaysSinceYearZero("
        "toDate('1995-06-17')))"
    )) == "1995-06-17"
    for bad, msg in [
        ("uniqMap(m)", "ARRAY JOIN"),
        ("anyMap(m)", "ARRAY JOIN"),
        ("hasAnyTokens('x', a)", "literal array"),
        ("sumWithOverflowSimpleState(x)", "width"),
    ]:
        with pytest.raises(DialectError, match=msg):
            transpile(f"SELECT {bad} FROM b29")


def test_r15_batch29_review_fixes(spark):
    """Code-review r15b findings on batch 29: == survives the
    re-join; groupUniqArrayArray and the Map-typed folds skip NULL
    values (no key poisoning); clamp/min2/max2 NULL-propagate like
    CH; countEqual counts NULL needles (docs example); the new heads
    close the combinator ring (-If composes, -State/-Merge and wrong
    arities refuse)."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW b29n AS SELECT id AS x, "
        "map('a', CASE WHEN id = 1 THEN CAST(NULL AS DOUBLE) "
        "ELSE CAST(id AS DOUBLE) END) AS m, "
        "array(CAST(id AS INT), CASE WHEN id = 1 THEN "
        "CAST(NULL AS INT) END) AS a FROM range(3)"
    )
    agg = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM b29n")
    ).collect()[0].r
    assert agg("countMap(m)['a']") == 2
    assert agg("avgMap(m)['a']") == 1.0
    assert agg("sumMap(m)['a']") == 2.0
    assert agg("avgMapIf(m, x <> 0)['a']") == 2.0
    assert agg("countMap(map(x % 2, 1.0))[0]") == 2
    assert agg("groupUniqArrayArray(a)") == [0, 1, 2]
    assert one("clamp(toFloat64OrNull('x'), 1.0, 3.0)") is None
    assert one("min2(toFloat64OrNull('x'), 1.0)") is None
    assert one("max2(toFloat64OrNull('x'), 1.0)") is None
    assert one("countEqual([1, 2, NULL, NULL], NULL)") == 2
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW qw_eq AS SELECT "
        "CAST(id % 7 AS DOUBLE) v, id % 3 + 1 w2, "
        "concat('g', id % 2) g FROM range(100)"
    )
    r = spark.sql(transpile(
        "SELECT g, if(quantileExactWeighted(0.5)(v, w2) == 3, 1, 0) "
        "AS hi FROM qw_eq GROUP BY g ORDER BY g"
    )).collect()
    assert [x.hi for x in r] == [1, 1]
    assert "ch_" not in transpile(
        "SELECT groupUniqArrayArrayIf(a, x > 1) FROM b29n"
    )
    for bad in (
        "groupUniqArrayArrayState(a)", "avgMapState(m)",
        "countMapMerge(m)", "hasAnyTokens(s)",
    ):
        with pytest.raises(DialectError):
            transpile(f"SELECT {bad} FROM t")


def test_r15_quantile_dd(spark):
    """quantileDD/quantilesDD/medianDD (DDSketch) join the sketch-
    quantile family on the percentile_approx register — same
    approximate-quantile role, documented sketch difference; the
    relative-accuracy parameter is absorbed (the quantileTDigest
    precedent).  Exact on this integer fixture."""
    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ddq AS "
        "SELECT CAST(id AS DOUBLE) v FROM range(101)"
    )
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS r FROM ddq")
    ).collect()[0].r
    assert one("quantileDD(0.01, 0.5)(v)") == 50.0
    assert one("quantileDD(0.01)(v)") == 50.0
    assert one("medianDD(0.01)(v)") == 50.0
    # medianDD is CH's literal quantileDD alias — an explicit level
    # is honored (code-review r15c)
    assert one("medianDD(0.01, 0.9)(v)") == 90.0
    assert one("quantilesDD(0.01, 0.25, 0.75)(v)") == [25.0, 75.0]
    for bad in ("quantileDD(0.01, 0.5, 0.9)(v)",
                "medianDD(0.01, 0.5, 0.9)(v)"):
        with pytest.raises(DialectError, match="quantilesDD"):
            transpile(f"SELECT {bad} FROM ddq")


def test_r15_batch30(spark):
    """Audit batch 30: arrayLevenshteinDistanceWeighted implements
    ClickHouse's per-element cost model (docs example pinned: 14),
    subtractInterval is the addInterval twin, and the wave re-pins
    the number-theory/bit/date-shift scalars.  quantileDD family
    joins the sketch register (test_r15_quantile_dd)."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one(
        "arrayLevenshteinDistanceWeighted(['A', 'B', 'C'], "
        "['A', 'K', 'L'], [1.0, 2.0, 3.0], [3.0, 4.0, 5.0])"
    ) == 14.0
    assert one(
        "arrayLevenshteinDistanceWeighted([1], [1], [3.0], [4.0])"
    ) == 0.0
    assert one(
        "arrayLevenshteinDistanceWeighted([1, 2], [1], "
        "[1.0, 5.0], [1.0])"
    ) == 5.0
    assert one(
        "arrayLevenshteinDistanceWeighted(emptyArrayInt64(), "
        "[1, 2], emptyArrayFloat64(), [2.0, 3.0])"
    ) == 5.0
    with pytest.raises(Exception, match="one weight"):
        one("arrayLevenshteinDistanceWeighted([1], [2], "
            "[1.0, 2.0], [1.0])")
    with pytest.raises(DialectError, match="from_weights"):
        transpile(
            "SELECT arrayLevenshteinDistanceWeighted([1], [2], [1.0])"
        )
    assert str(one(
        "subtractInterval(toDateTime('2024-03-15 10:00:00'), "
        "INTERVAL 1 DAY)"
    )) == "2024-03-14 10:00:00"
    assert one("positiveModulo(0 - 5, 3)") == 1


def test_r15_statement_forms(spark):
    """Audit batch 31, statement tier: tuple [NOT] IN literal lists
    expand to equality disjunctions; DISTINCT ON / LIMIT BY rank by
    UNSELECTED keys via the resolver-blind textual inject; bare
    HAVING (no GROUP BY, no aggregates) wraps as a post-projection
    filter; ANSI OFFSET/FETCH maps to LIMIT/OFFSET (WITH TIES rides
    the ties machinery; ties+offset refuses)."""
    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sf31 AS SELECT id AS x, "
        "id % 3 AS g FROM range(20)"
    )
    run = lambda q: spark.sql(transpile(q)).collect()  # noqa: E731
    assert [r.x for r in run(
        "SELECT x FROM sf31 WHERE (x, g) IN ((1, 1), (2, 2)) "
        "ORDER BY x"
    )] == [1, 2]
    assert [r.x for r in run(
        "SELECT x FROM sf31 WHERE (x, g) NOT IN ((1, 1), (2, 2)) "
        "AND x < 4 ORDER BY x"
    )] == [0, 3]
    # call-vs-tuple disambiguation and native forms untouched
    assert [r.x for r in run(
        "SELECT x FROM sf31 WHERE greatest(x, g) IN (2, 3) "
        "ORDER BY x"
    )] == [2, 3]
    assert len(run(
        "SELECT x FROM sf31 WHERE x IN (SELECT g FROM sf31)"
    )) == 3
    with pytest.raises(DialectError, match="tuple IN"):
        transpile("SELECT x FROM sf31 WHERE (x, g) IN ((1, 1, 3))")
    assert [r.x for r in run(
        "SELECT DISTINCT ON (g) x FROM sf31 ORDER BY g, x"
    )] == [0, 1, 2]
    assert sorted(r.x for r in run(
        "SELECT x FROM sf31 ORDER BY x LIMIT 2 BY g"
    )) == [0, 1, 2, 3, 4, 5]
    assert [r.y for r in run(
        "SELECT x AS y FROM sf31 HAVING y > 16 ORDER BY y"
    )] == [17, 18, 19]
    assert [r.sx for r in run(
        "SELECT sum(x) AS sx FROM sf31 HAVING sx > 10"
    )] == [190]
    assert [r.x for r in run(
        "SELECT x FROM sf31 ORDER BY x OFFSET 2 ROWS "
        "FETCH FIRST 3 ROWS ONLY"
    )] == [2, 3, 4]
    assert [r.x for r in run(
        "SELECT x FROM sf31 ORDER BY x OFFSET 17 ROWS"
    )] == [17, 18, 19]
    assert sorted(r.g for r in run(
        "SELECT g FROM sf31 ORDER BY g FETCH FIRST 7 ROWS WITH TIES"
    )) == [0] * 7
    with pytest.raises(DialectError, match="offset"):
        transpile(
            "SELECT x FROM sf31 ORDER BY x OFFSET 2 ROWS "
            "FETCH FIRST 3 ROWS WITH TIES"
        )


def test_r15_statement_review_fixes(spark):
    """Code-review r15c on batch 31: AS-less implicit aliases,
    function heads in BY, and case-mismatched alias refs no longer
    force the lateral-alias inject path; a row-subquery LHS passes
    through verbatim; a bare `fetch` column survives; bare HAVING
    composes with OFFSET/FETCH; nested tuple elements expand
    recursively."""
    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW r15c AS SELECT id AS x, "
        "id % 3 AS g FROM range(12)"
    )
    run = lambda q: spark.sql(transpile(q)).collect()  # noqa: E731
    assert len(run("SELECT g y FROM r15c LIMIT 1 BY y")) == 3
    assert len(run("SELECT g AS y FROM r15c LIMIT 1 BY abs(y)")) == 3
    assert len(run("SELECT g AS Foo FROM r15c LIMIT 1 BY foo")) == 3
    spark.sql("CREATE OR REPLACE TEMP VIEW tf15 AS SELECT 1 AS fetch")
    assert run("SELECT fetch FROM tf15")[0][0] == 1
    assert [r.y for r in run(
        "SELECT x AS y FROM r15c HAVING y > 1 ORDER BY y "
        "OFFSET 1 ROW FETCH FIRST 2 ROWS ONLY"
    )] == [3, 4]
    assert [r.x for r in run(
        "SELECT x FROM r15c WHERE ((g, x), g) IN "
        "(((1, 1), 1), ((2, 2), 2)) ORDER BY x"
    )] == [1, 2]
    # row-subquery lhs: not shredded into element comparisons
    out = transpile(
        "SELECT 1 FROM r15c WHERE (SELECT x, g FROM r15c) IN ((1, 2))"
    )
    assert "= (2)" not in out


def test_r15_batch32(spark):
    """Audit batch 32 (re-pin wave + one mapping): replicate(x, arr)
    broadcasts x once per element; the 3-arg transform keeps x on
    no-match; block-scope functions wall with CH-block rationale."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("replicate(7, [1, 2, 3])") == [7, 7, 7]
    assert one("transform(7, [0, 1], [10, 20])") == 7
    assert one("transform(1, [0, 1], [10, 20])") == 20
    for bad in ("runningDifference(x)", "neighbor(x, 1)",
                "blockSize()", "rowNumberInBlock()"):
        with pytest.raises(DialectError):
            transpile(f"SELECT {bad} FROM t")


def test_r16_fuzzbits_deterministic_tier(spark):
    """fuzzBits flip (VERDICT r15 item 5, the last named flippable
    refusal): the md5-seeded deterministic tier.  Pins: prototype
    byte-exact values (independently rebuilt in DuckDB by the
    O_PROBE31 oracle), p=0 identity (valid-UTF-8 round trip), p>=1
    all-bits closed form (every byte XOR 0xFF), multi-byte UTF-8
    byte addressability, empty-string/NULL edges, determinism,
    wrong-arity refusal, and the DETERMINISTIC DialectWarning."""
    import warnings

    from clickhouse_vs_dbt_spark.dialect import DialectWarning

    register_clickhouse_compat(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DialectWarning)
        one = lambda e: spark.sql(  # noqa: E731
            transpile(f"SELECT {e} AS v")
        ).collect()[0].v
        assert one("hex(fuzzBits('café', 0.25))") == "6B4126DE88"
        assert (
            one("hex(fuzzBits('hello world', 0.1))")
            == "79456469EF21336F724CE4"
        )
        # p=0: identity, still valid UTF-8 after the byte round trip
        assert one(
            "toString(CAST(fuzzBits('café', 0.0) AS String))"
        ) == "café"
        # p>=1: every 16-bit draw is < 1.0, so every bit flips
        assert one("hex(fuzzBits('abc', 1.0))") == "9E9D9C"
        # edges: empty in, empty out; NULL propagates
        assert one("hex(fuzzBits('', 0.5))") == ""
        assert one(
            "fuzzBits(CAST(NULL AS String), 0.5)"
        ) is None
        # deterministic: equal inputs, equal bytes
        assert one(
            "hex(fuzzBits('seed', 0.3)) = hex(fuzzBits('seed', 0.3))"
        ) is True
    with pytest.raises(DialectError, match="two arguments"):
        transpile("SELECT fuzzBits(s)")
    with pytest.warns(DialectWarning, match="DETERMINISTIC"):
        transpile("SELECT fuzzBits('x', 0.1)")


def test_r16_batch33(spark):
    """Audit batch 33: stringCompare's three-way BYTE comparison,
    the widened toStartOfInterval register (month-class n>1 in exact
    epoch months; second-class ORIGIN arithmetic — the CH docs' 1-day
    origin example pinned; pre-origin values floor onto the same
    grid), GROUP BY ALL / ORDER BY ALL pass-through, and the walls
    for text-index / indexed-vector / codec-estimation functions."""
    register_clickhouse_compat(spark)
    one = lambda e: spark.sql(  # noqa: E731
        transpile(f"SELECT {e} AS v")
    ).collect()[0].v
    assert one("stringCompare('a', 'b')") == -1
    assert one("stringCompare('b', 'a')") == 1
    assert one("stringCompare('a', 'a')") == 0
    assert one("stringCompare('a', CAST(NULL AS String))") is None
    # UTF-8 BYTE order (not collation): 'é' = C3A9 sorts above 'z'
    assert one("stringCompare('é', 'z')") == 1
    ti = lambda e: one(f"toString({e})")  # noqa: E731
    assert ti(
        "toStartOfInterval(toDateTime('2024-05-15 10:00:00'), "
        "INTERVAL 2 MONTH)"
    ) == "2024-05-01"
    assert ti(
        "toStartOfInterval(toDateTime('2024-05-15 10:00:00'), "
        "INTERVAL 3 QUARTER)"
    ) == "2024-01-01"
    assert ti(
        "toStartOfInterval(toDateTime('2024-05-15 10:00:00'), "
        "INTERVAL 5 YEAR)"
    ) == "2020-01-01"
    assert ti(
        "toStartOfInterval(toDateTime('2023-01-02 14:42:50'), "
        "INTERVAL 1 DAY, toDateTime('2023-01-01 14:00:00'))"
    ) == "2023-01-02 14:00:00"
    assert ti(
        "toStartOfInterval(toDateTime('2022-12-31 23:00:00'), "
        "INTERVAL 1 DAY, toDateTime('2023-01-01 14:00:00'))"
    ) == "2022-12-31 14:00:00"
    for bad in (
        "toStartOfInterval(ts, INTERVAL 2 MONTH, ts)",
        "toStartOfInterval(ts)",
        "stringCompare(s, 'x', 0, 0, 3)",
        "searchAny(s, ['a'])",
        "searchAll(s, ['a'])",
        "numericIndexedVectorBuild(m)",
        "estimateCompressionRatio(s)",
    ):
        with pytest.raises(DialectError):
            transpile(f"SELECT {bad} FROM t")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW r16w AS SELECT id AS x, "
        "CAST(id AS DOUBLE) AS v, id % 2 AS g FROM range(6)"
    )
    rows = spark.sql(transpile(
        "SELECT g, sum(x) AS s FROM r16w GROUP BY ALL ORDER BY ALL"
    )).collect()
    assert [(r.g, r.s) for r in rows] == [(0, 6), (1, 9)]


def test_r16_compound_window_relocation(spark):
    """Compound-render aggregate heads as WINDOW functions (the
    batch-33 leak class): the OVER spec relocates onto every inner
    Spark aggregate, so the scalar fold applies per-row to
    frame-scoped aggregates — exact CH aggregate-as-window
    semantics.  Value pins over a two-group range."""
    register_clickhouse_compat(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW r16cw AS SELECT id AS x, "
        "CAST(id AS DOUBLE) AS v, id % 2 AS g FROM range(6)"
    )
    q = lambda e: spark.sql(transpile(  # noqa: E731
        f"SELECT g, {e} AS r FROM r16cw ORDER BY g, x"
    )).collect()
    aw = q("avgWeighted(v, x) OVER (PARTITION BY g)")
    assert abs(aw[0].r - 20.0 / 6.0) < 1e-12
    assert abs(aw[-1].r - 35.0 / 9.0) < 1e-12
    tk = q("topK(2)(x) OVER (PARTITION BY g)")
    assert tk[0].r == [0, 2] and tk[-1].r == [1, 3]
    sc = q("sumCount(x) OVER (PARTITION BY g)")
    assert (sc[0].r["sum"], sc[0].r["count"]) == (6, 3)
    gs = q("groupArraySorted(2)(x) OVER (PARTITION BY g)")
    assert gs[0].r == [0, 2] and gs[-1].r == [1, 3]
    # plain heads keep their single-call spelling (no relocation)
    out = transpile(
        "SELECT argMax(s, v) OVER (PARTITION BY g) FROM t"
    )
    assert "max_by(s, v) OVER" in out


def test_r17_interval_sweep_replan(spark):
    """VERDICT r16 item 1: an owned flat grouped SELECT whose
    aggregates are all interval sweeps re-plans to the
    (value, count)-compressed two-pass form — pre-GROUP BY
    (keys, start, end) → COUNT below the collect, batched ±count
    sweep deltas above it — O(distinct pairs) state instead of the
    expression-position folds' O(rows).  Mixed-aggregate selects
    keep the fold, and both plans agree exactly on duplicates,
    NULL endpoints, inverted intervals and single-row groups."""
    owned = transpile(
        "SELECT k, maxIntersections(s, e) AS mi FROM t GROUP BY k"
    )
    assert "__iv_pre" in owned and "count(*) AS __iv_c" in owned
    # mixed aggregates / two different (s, e) pairs stay on the fold
    for sql in (
        "SELECT k, count() AS n, maxIntersections(s, e) AS mi "
        "FROM t GROUP BY k",
        "SELECT maxIntersections(s, e) AS a, "
        "intervalLengthSum(s, e2) AS b FROM t",
    ):
        assert "__iv_pre" not in transpile(sql), sql
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW iv_t AS "
        "SELECT concat('g', id % 3) AS k, "
        "CASE WHEN id % 17 = 0 THEN NULL "
        "ELSE CAST(id % 5 AS DOUBLE) END AS s, "
        "CASE WHEN id % 19 = 0 THEN NULL "
        "ELSE CAST(id % 5 + id % 4 - 1 AS DOUBLE) END AS e "
        "FROM range(300) WHERE id < 290 OR id % 3 = 0"
    )
    body = (
        "SELECT k, maxIntersections(s, e) AS mi, "
        "maxIntersectionsPosition(s, e) AS mip, "
        "intervalLengthSum(s, e) AS ils "
        "FROM iv_t GROUP BY k {h}ORDER BY k"
    )
    two_pass = transpile(body.format(h=""))
    fold = transpile(body.format(h="HAVING count(*) >= 0 "))
    assert "__iv_pre" in two_pass and "__iv_pre" not in fold
    assert spark.sql(two_pass).collect() == spark.sql(fold).collect()


def test_r17_group_array_replan_null_and_residual_edges(spark):
    """Review r17a pins: (1) a group whose sample argument is
    all-NULL survives the re-plan with an empty array (an inner
    NULL filter would drop the whole row); (2) a top-level OR in
    the user WHERE keeps its semantics and NULL elements never
    enter the sample; (3) compound operators inside call arguments
    re-join as valid SQL; (4) group-key references inside a tier
    residual emit QUALIFIED names so a two-tier join stays
    unambiguous."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ga_rt AS "
        "SELECT concat('g', id % 3) AS k, "
        "CASE WHEN id % 3 = 0 OR id % 7 = 0 THEN NULL ELSE id END "
        "AS x, id AS o, id % 2 AS a, id % 5 AS b FROM range(60)"
    )
    body = (
        "SELECT k, groupArraySample(3, 9)(x) AS smp FROM ga_rt "
        "{w}GROUP BY k {h}ORDER BY k"
    )
    for w in ("", "WHERE a = 1 OR b = 2 "):
        two = transpile(body.format(w=w, h=""))
        fold = transpile(body.format(w=w, h="HAVING count(*) >= 0 "))
        assert "__ga_t0" in two and "__ga_t0" not in fold
        rows = spark.sql(two).collect()
        assert rows == spark.sql(fold).collect(), w
        assert rows[0].smp == []  # the all-NULL group, kept
    out = transpile(
        "SELECT k, maxIntersections(if(s >= 0.5, s, e), e) AS mi "
        "FROM t GROUP BY k"
    )
    assert "> =" not in out and "__iv_pre" in out
    out = transpile(
        "SELECT k, arrayMap(y -> y, groupArraySample(3)(x)) AS a, "
        "arrayStringConcat(arrayMap(q -> toString(q), "
        "groupArrayLast(2)(x, o)), k) AS b "
        "FROM ga_rt GROUP BY k ORDER BY k"
    )
    assert "__ga_t0.__ga_k0" in out
    assert len(spark.sql(out).collect()) == 3


def test_replan_alias_key_keeps_compound_operators(spark):
    """A GROUP BY that names a select alias swaps the aliased
    expression into the re-plan's inner select.  The swap re-joins
    the expression's tokens without splitting ``>=`` into ``> =``
    (a Spark parse error), in the weighted-quantile re-plan and the
    groupConcat re-plan over a join alike; both agree with their fold
    spelling."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ak_t AS SELECT id, "
        "CAST(id % 3 AS DOUBLE) AS x, CAST(id AS DOUBLE) AS v, "
        "id % 2 + 1 AS w, concat('s', id) AS s FROM range(6)"
    )
    spark.sql("CREATE OR REPLACE TEMP VIEW ak_u AS SELECT id FROM range(6)")
    qw = (
        "SELECT if(x >= 1, 'a', 'b') AS k, "
        "quantileExactWeighted(0.5)(v, w) AS q FROM ak_t GROUP BY k"
    )
    gc = (
        "SELECT if(x >= 1, 'a', 'b') AS k, groupConcat(',', 5)(s) AS g "
        "FROM ak_t JOIN ak_u ON ak_t.id = ak_u.id GROUP BY k"
    )
    for sql, marker in ((qw, "__qw_k0"), (gc, "__gc_k0")):
        replan = transpile(sql)
        fold = transpile(sql + " HAVING count(*) >= 0")
        assert marker in replan and marker not in fold, sql
        assert "> =" not in replan, sql

        def rows(q):
            return sorted(
                (r[0], sorted(r[1].split(",")) if isinstance(r[1], str)
                 else r[1])
                for r in spark.sql(q).collect()
            )

        assert rows(replan) == rows(fold), sql


def test_group_concat_replans_keep_compound_operators(spark):
    """The bounded groupConcat re-plan, over a join and over one
    relation, re-joins the call's parameters and argument without
    splitting ``>=`` into ``> =`` (a Spark parse error), and each
    agrees with its fold spelling."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW gco_t AS SELECT id AS k FROM range(3)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW gco_u AS SELECT id % 3 AS k, "
        "id % 2 AS x, concat('s', id) AS s FROM range(6)"
    )
    for sql in (
        "SELECT c.k, groupConcat(',', 2)(if(o.x >= 1, o.s, 'z')) AS g "
        "FROM gco_t AS c JOIN gco_u AS o ON c.k = o.k GROUP BY c.k",
        "SELECT k, groupConcat(',', 2)(if(x >= 1, s, 'z')) AS g "
        "FROM gco_u GROUP BY k",
    ):
        replan = transpile(sql)
        fold = transpile(sql + " HAVING count(*) >= 0")
        assert "__gc_rn0" in replan and "__gc_rn0" not in fold, sql
        assert "> =" not in replan, sql

        def rows(q):
            return sorted(
                (r.k, sorted(r.g.split(","))) for r in spark.sql(q).collect()
            )

        assert rows(replan) == rows(fold), sql


def test_ga_residual_heads_are_an_allow_list():
    """A group-array tier residual runs on the re-plan's un-grouped
    outer projection, so only allow-listed scalar heads may wrap the
    tier call.  An aggregate head — including the interval sweep
    ``maxIntersectionsPosition``, which no deny-list named — keeps
    the statement on the fold path, as does ``sum``."""
    for sql in (
        "SELECT arraySlice(groupArraySample(3)(x), 1, "
        "maxIntersectionsPosition(k, k)) AS m FROM t GROUP BY k",
        "SELECT arrayMap(y -> y + maxIntersectionsPosition(k, k), "
        "groupArraySample(3)(x)) AS m FROM t GROUP BY k",
        "SELECT arraySlice(groupArraySample(3)(x), 1, sum(k)) AS m "
        "FROM t GROUP BY k",
    ):
        out = transpile(sql)
        assert "__ga_t0" not in out and "__iv_pre" not in out, sql
    # allow-listed heads and lambdas still re-plan
    assert "__ga_t0" in transpile(
        "SELECT k, arrayMap(y -> y, groupArraySample(3)(x)) AS m "
        "FROM t GROUP BY k"
    )
    # a trailing identifier after an operator is an operand, not a
    # bare alias: the unaliased item keeps the fold (no '+ AS k')
    out = transpile(
        "SELECT k, length(groupArrayLast(2)(x, o)) + k FROM t GROUP BY k"
    )
    assert "__ga_t0" not in out and "+ AS" not in out


def test_ga_multi_tier_needs_a_plain_table_from():
    """Each tier of the group-array re-plan inlines FROM once, so two
    or more tiers re-plan only over a plain table reference — a LIMIT
    subquery could hand each tier different rows.  One tier over the
    same FROM still re-plans."""
    two = (
        "SELECT k, groupArraySample(3)(x) AS a, "
        "groupArrayLast(2)(x, o) AS b FROM {f} GROUP BY k"
    )
    one = "SELECT k, groupArraySample(3)(x) AS a FROM {f} GROUP BY k"
    sub = "(SELECT * FROM t LIMIT 10)"
    assert "__ga_t0" not in transpile(two.format(f=sub))
    assert "__ga_t0" not in transpile(two.format(f=sub + " AS q"))
    assert "__ga_t0" not in transpile(
        two.format(f="t JOIN u ON t.id = u.id")
    )
    assert "__ga_t0" in transpile(one.format(f=sub))
    for f in ("t", "t AS a", "db.t a", "`db`.`t`"):
        assert "__ga_t1" in transpile(two.format(f=f)), f


def test_replan_group_keys_resolve_aliases_first(spark):
    """GROUP BY resolves a select alias to its expression before the
    keys match, so naming both the alias and its expression groups by
    one key.  Weighted-quantile call arguments keep ``>=`` whole.  An
    alias two items share, an ORDER BY name two outputs share, and a
    literal that a GROUP BY ordinal does not name keep the fold."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW rk_t AS SELECT id % 3 AS k, "
        "CAST(id % 5 AS DOUBLE) AS s, CAST(id % 5 + id % 3 AS DOUBLE) "
        "AS e, CAST(id % 7 AS DOUBLE) AS v, id % 2 + 1 AS w "
        "FROM range(30)"
    )
    for sql, marker in (
        ("SELECT k AS kk, maxIntersections(s, e) AS mi FROM rk_t "
         "GROUP BY kk, k", "__iv_k0"),
        ("SELECT k, quantileExactWeighted(0.5)(if(v >= 3, v, 0), w) "
         "AS q FROM rk_t GROUP BY k", "__qw_k0"),
    ):
        replan = transpile(sql)
        fold = transpile(sql + " HAVING count(*) >= 0")
        assert marker in replan and marker not in fold, sql
        assert "__iv_k1" not in replan and "> =" not in replan, sql
        assert sorted(spark.sql(replan).collect()) == sorted(
            spark.sql(fold).collect()
        ), sql
    for sql in (
        "SELECT k AS kk, k + 1 AS kk, maxIntersections(s, e) AS mi "
        "FROM rk_t GROUP BY kk",
        "SELECT k, k, maxIntersections(s, e) AS mi FROM rk_t "
        "GROUP BY k ORDER BY k",
        "SELECT k, 1 AS one, maxIntersections(s, e) AS mi FROM rk_t "
        "GROUP BY 1",
    ):
        assert "__iv_pre" not in transpile(sql), sql
