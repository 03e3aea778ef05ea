"""Property-based checks (hypothesis) for load-bearing primitives.

Few examples, deterministic seeds — each example runs Spark jobs, so
these trade example count for breadth of structure (duplicates, ties,
boundary-adjacent timestamps, negative/zero values).
"""

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.operators.common import dsum
from clickhouse_vs_dbt_spark.operators.timeseries import range_self_join

WIDTH = 1000  # µs window for the property-scale range join

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # user_id (collisions likely)
        st.integers(min_value=0, max_value=5000),  # ts_us (boundary-dense)
    ),
    min_size=0,
    max_size=30,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=events_strategy)
def test_range_self_join_matches_bruteforce(spark, evs):
    rows = [(i, u, ts) for i, (u, ts) in enumerate(evs)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long"
    ) if rows else spark.createDataFrame([], "event_id long, user_id long, ts_us long")
    got = sorted((r.id_a, r.id_b) for r in range_self_join(df, WIDTH).collect())
    want = sorted(
        (a[0], b[0])
        for a in rows
        for b in rows
        if a[1] == b[1] and a[0] < b[0] and abs(a[2] - b[2]) <= WIDTH
    )
    assert got == want


money_strategy = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=money_strategy)
def test_dsum_is_exact_decimal_sum(spark, vals):
    """dsum must equal exact DECIMAL(18,6) accumulation (same quantize
    rule), independent of partitioning/order."""
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(7)
    got = df.agg(dsum(F.col("v")).alias("s")).first()["s"]
    q = Decimal("0.000001")
    want = float(
        sum(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP) for v in vals)
    )
    assert got == want


intervals_strategy = st.lists(
    st.integers(min_value=0, max_value=2000),  # start times, overlap-dense
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(starts=intervals_strategy)
def test_interval_union_matches_bruteforce(spark, starts):
    """The prev-max-end sweep must equal the brute-force union length of
    [st, st+W) intervals for any overlap structure."""
    import datetime

    from clickhouse_vs_dbt_spark.operators import aggfns

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(microseconds=s), 1, "a", 0.0)
        for i, s in enumerate(starts)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).createOrReplaceTempView("events")
    got = spark.sql(aggfns._interval_length_sql("spark")).collect()[0].covered_us

    # reference implementation: classic sorted interval merge
    ivs = sorted((s, s + aggfns.INTERVAL_US) for s in starts)
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in ivs:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    total += cur_hi - cur_lo
    assert got == total


@settings(max_examples=25, deadline=None)
@given(
    x=st.integers(min_value=0, max_value=(1 << 16) - 1),
    y=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
def test_morton_interleave_bijective(x, y):
    """zvalue/unzvalue expression algebra mirrored in Python: interleave
    then de-interleave is the identity for all 16-bit inputs."""
    from clickhouse_vs_dbt_spark.operators import zorder

    z = 0
    for i in range(zorder.ZBITS):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    xb = sum((((z >> (2 * i)) & 1) << i) for i in range(zorder.ZBITS))
    yb = sum((((z >> (2 * i + 1)) & 1) << i) for i in range(zorder.ZBITS))
    assert (xb, yb) == (x, y)


ties_strategy = st.tuples(
    st.lists(
        st.integers(min_value=0, max_value=6),  # dense duplicates
        min_size=0,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=10),
    st.booleans(),  # DESC?
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=ties_strategy)
def test_limit_with_ties_matches_bruteforce(spark, data):
    """r7: the two-pass boundary rewrite of LIMIT n WITH TIES must
    keep exactly the first n rows of the sort order PLUS all peers of
    the n-th row — ClickHouse semantics — for any duplicate pattern,
    n, and direction."""
    from clickhouse_vs_dbt_spark.dialect import transpile

    vals, n, desc = data
    rows = [(v,) for v in vals]
    df = (
        spark.createDataFrame(rows, "v long")
        if rows
        else spark.createDataFrame([], "v long")
    )
    df.createOrReplaceTempView("ties_prop_t")
    d = " DESC" if desc else ""
    got = sorted(
        r.v
        for r in spark.sql(
            transpile(
                f"SELECT v FROM ties_prop_t ORDER BY v{d} "
                f"LIMIT {n} WITH TIES"
            )
        ).collect()
    )
    s = sorted(vals, reverse=desc)
    want = sorted(
        s if len(s) <= n else [x for x in s if (x >= s[n - 1] if desc else x <= s[n - 1])]
    )
    assert got == want


yearweek_strategy = st.dates(
    min_value=__import__("datetime").date(1995, 1, 1),
    max_value=__import__("datetime").date(2030, 12, 31),
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ds=st.lists(yearweek_strategy, min_size=1, max_size=20))
def test_toyearweek_mode0_matches_ground_truth(spark, ds):
    """r7: toYearWeek mode 0 must equal the Sunday-start YEARWEEK
    definition computed independently in Python (the week belongs to
    the year of its starting Sunday, numbered by which Sunday of that
    year starts it)."""
    import datetime as dt

    from clickhouse_vs_dbt_spark.dialect import transpile

    def ground(d: dt.date) -> int:
        # back to the Sunday on/before d (Python: Monday=0 .. Sunday=6)
        s = d - dt.timedelta(days=(d.weekday() + 1) % 7)
        return s.year * 100 + (s.timetuple().tm_yday - 1) // 7 + 1

    df = spark.createDataFrame([(d,) for d in ds], "d date")
    df.createOrReplaceTempView("yw_prop_t")
    got = [
        r.yw
        for r in spark.sql(
            transpile("SELECT toYearWeek(d) AS yw FROM yw_prop_t")
        ).collect()
    ]
    want = [ground(d) for d in ds]
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    arr=st.lists(
        st.integers(min_value=-100, max_value=100), min_size=0, max_size=30
    )
)
def test_array_cumsum_fold_matches_prefix_sums(spark, arr):
    """r7: the linear arrayCumSum fold must equal Python prefix sums
    (and the NonNegative variant its clamped recurrence)."""
    from clickhouse_vs_dbt_spark.dialect import transpile

    lit = "array(" + ", ".join(map(str, arr)) + ")"
    row = spark.sql(
        transpile(
            f"SELECT arrayCumSum({lit}) AS cs, "
            f"arrayCumSumNonNegative({lit}) AS cn"
        )
    ).collect()[0]
    acc, want = 0, []
    for x in arr:
        acc += x
        want.append(float(acc))
    assert row.cs == want
    acc, wantn = 0, []
    for x in arr:
        acc = max(acc + x, 0)
        wantn.append(float(acc))
    assert row.cn == wantn


pj_side_strategy = st.lists(
    st.integers(min_value=-50, max_value=50),
    min_size=1,
    max_size=15,
    unique=True,  # the rewrite orders by the PROJECTED keys, so the
    # declared order must be total over them (the unprojected-
    # tiebreaker form is the documented refusal-by-Spark-error)
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=pj_side_strategy, right=pj_side_strategy)
def test_paste_join_zips_by_declared_order(spark, left, right):
    """PASTE JOIN (r9) must equal the Python zip of the two sides
    sorted by their declared keys, trimmed to min length — for any
    sizes and negative values."""
    from clickhouse_vs_dbt_spark.dialect import transpile

    spark.createDataFrame(
        [(v,) for v in left], "v long"
    ).createOrReplaceTempView("pj_l")
    spark.createDataFrame(
        [(v,) for v in right], "v long"
    ).createOrReplaceTempView("pj_r")
    q = transpile(
        "SELECT * FROM (SELECT v AS a FROM pj_l ORDER BY a) "
        "PASTE JOIN (SELECT v AS b FROM pj_r ORDER BY b DESC)"
    )
    got = sorted(tuple(r) for r in spark.sql(q).collect())
    want = sorted(zip(sorted(left), sorted(right, reverse=True)))
    assert got == want


argmax_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # group
        st.integers(min_value=0, max_value=4),  # sub-group (merge split)
        st.one_of(st.none(), st.integers(min_value=-9, max_value=9)),  # v
        st.integers(min_value=0, max_value=99),  # arg
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=argmax_strategy)
def test_argmax_state_merge_matches_bruteforce(spark, rows):
    """argMaxState/argMaxMerge (r9) through an arbitrary sub-group
    split must equal the direct fold: max value, ties broken by max
    arg, NULL values skipped, all-NULL groups yield NULL."""
    from clickhouse_vs_dbt_spark.dialect import transpile

    spark.createDataFrame(
        rows, "g long, sg long, v long, a long"
    ).createOrReplaceTempView("amp_t")
    q = transpile(
        "SELECT g, argMaxMerge(st) AS am FROM (SELECT g, sg, "
        "argMaxState(a, v) AS st FROM amp_t GROUP BY g, sg) "
        "GROUP BY g"
    )
    got = {r.g: r.am for r in spark.sql(q).collect()}
    want = {}
    for g in {r[0] for r in rows}:
        pairs = [(v, a) for gg, _, v, a in rows if gg == g and v is not None]
        want[g] = max(pairs)[1] if pairs else None
    assert got == want


# (k, j, v) rows: a composite key with NULL-able parts, dense enough
# that batches hit existing keys and repeat their own
merge_rows_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=1)),
        st.integers(min_value=0, max_value=9),
    ),
    max_size=12,
)
MERGE_SCHEMA = "k int, j int, v int"
MERGE_KEYS = ["k", "j"]


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(old=merge_rows_strategy, new=merge_rows_strategy)
@example(old=[(1, 0, 0), (2, 0, 0)], new=[(1, 0, 1), (1, 0, 2)])  # duplicate batch keys
@example(old=[(None, 0, 0), (1, None, 0), (1, 1, 0)],
         new=[(None, 0, 1), (1, None, 1), (1, 1, 1)])  # NULL keys on both sides
@example(old=[(1, 0, 0), (None, None, 0)], new=[])  # empty batch
@example(old=[(1, 0, 0), (2, 1, 0)], new=[(2, 1, 1), (1, 0, 1)])  # replaces every row
def test_merge_without_distinct_matches_distinct_form(spark, tmp_path, old, new):
    """The merge strategy's left-anti join over the raw batch keys gives
    the same merged relation as the ``distinct()``-keyed form it
    replaced, and both match the dbt merge rule: a prior row survives
    unless the batch holds its exact (non-NULL) key; every batch row
    is added."""
    import tempfile
    from collections import Counter

    from clickhouse_vs_dbt_spark.plans.models import (
        Materialization,
        Model,
        ModelRunner,
    )

    existing = spark.createDataFrame(old, MERGE_SCHEMA)
    batch = spark.createDataFrame(new, MERGE_SCHEMA)
    runner = ModelRunner(spark, warehouse_dir=tempfile.mkdtemp(dir=tmp_path))
    runner.add(Model(
        "merge_prop", lambda s, prior: existing if prior is None else batch,
        materialization=Materialization.INCREMENTAL, unique_key=MERGE_KEYS,
    ))
    runner.run()
    got = Counter(tuple(r) for r in runner.run()["merge_prop"].collect())

    distinct_form = existing.join(
        batch.select(*MERGE_KEYS).distinct(), on=MERGE_KEYS, how="left_anti"
    ).unionByName(batch)
    batch_keys = {(k, j) for k, j, _ in new}
    rule = Counter(
        [r for r in old if None in r[:2] or r[:2] not in batch_keys] + new
    )
    assert got == Counter(tuple(r) for r in distinct_form.collect()) == rule


# Statement re-plans vs their fold spelling.  Appending
# ``HAVING count(*) >= 0`` keeps every group but takes the statement
# off the re-plan, so both spellings of one query must agree.

#: GROUP BY variants: (key select item, GROUP BY text, key of a k)
GROUP_VARIANTS = {
    "column": ("k", "k", lambda k: k),
    "ordinal": ("k", "1", lambda k: k),
    "alias": ("k >= 1 AS kk", "kk", lambda k: None if k is None else k >= 1),
    "bare_alias": ("(k >= 1) kk", "kk", lambda k: None if k is None else k >= 1),
    "derived": ("k * 2 AS kk", "k", lambda k: None if k is None else k * 2),
}
KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=2))
KEEP = st.one_of(st.none(), st.booleans())  # WHERE keep may empty a group


def _replan_and_fold(spark, sql, marker):
    from clickhouse_vs_dbt_spark.dialect import transpile

    replan = transpile(sql)
    fold = transpile(sql + " HAVING count(*) >= 0")
    assert marker in replan and marker not in fold, sql
    return spark.sql(replan).collect(), spark.sql(fold).collect()


def _view(spark, name, rows, dup, ddl):
    """``rows`` plus a repeat of the first ``dup`` of them."""
    spark.createDataFrame(rows + rows[:dup], ddl).createOrReplaceTempView(name)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(st.tuples(
        KEYS,
        st.one_of(st.none(), st.integers(min_value=-3, max_value=6)),
        st.one_of(st.none(), st.integers(min_value=-3, max_value=6)),
        KEEP,
    ), max_size=25),
    dup=st.integers(min_value=0, max_value=4),
    big=st.booleans(),
    variant=st.sampled_from(sorted(GROUP_VARIANTS)),
)
@example(  # inverted intervals, an all-NULL group, a group WHERE empties
    rows=[(0, 5, 1, True), (0, 1, 4, True), (1, None, None, True),
          (2, 1, 3, False), (None, 2, 2, True)],
    dup=2, big=False, variant="column",
)
@example(  # endpoints above 2**53 collapse alike on both paths
    rows=[(0, 1, 2, True), (0, 2, 3, True), (1, 0, 5, True)],
    dup=1, big=True, variant="ordinal",
)
@example(  # a bare-alias key `(k >= 1) kk`
    rows=[(0, 1, 4, True), (1, 2, 3, True), (None, 0, 2, True), (2, 5, 1, True)],
    dup=1, big=False, variant="bare_alias",
)
@example(  # an ungrouped expression of the key `k * 2 AS kk`
    rows=[(0, 1, 4, True), (1, 2, 3, True), (None, 0, 2, True), (2, 5, 1, True)],
    dup=1, big=False, variant="derived",
)
def test_interval_replan_matches_fold(spark, rows, dup, big, variant):
    base = 1 << 53 if big else 0
    rows = [
        (k, None if s is None else base + s, None if e is None else base + e, keep)
        for k, s, e, keep in rows
    ]
    _view(spark, "pp_iv", rows, dup, "k bigint, s bigint, e bigint, keep boolean")
    key, gb, _ = GROUP_VARIANTS[variant]
    replan, fold = _replan_and_fold(
        spark,
        f"SELECT {key}, maxIntersections(s, e) AS mi, "
        "maxIntersectionsPosition(s, e) AS mip, intervalLengthSum(s, e) AS ils "
        f"FROM pp_iv WHERE keep GROUP BY {gb}",
        "__iv_pre",
    )
    assert sorted(replan, key=repr) == sorted(fold, key=repr)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(st.tuples(
        KEYS,
        st.one_of(st.none(), st.integers(min_value=-4, max_value=4)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        KEEP,
    ), max_size=25),
    dup=st.integers(min_value=0, max_value=4),
    variant=st.sampled_from(sorted(GROUP_VARIANTS)),
)
@example(  # all-NULL pairs, a zero-weight group, a group WHERE empties
    rows=[(0, None, 1, True), (0, 2, None, True), (1, 3, 0, True),
          (1, 1, 0, True), (2, 1, 1, False), (None, 1, 2, True)],
    dup=1, variant="alias",
)
@example(  # a bare-alias key `(k >= 1) kk`
    rows=[(0, 1, 1, True), (1, 3, 2, True), (2, 2, 1, True), (None, 4, 1, True)],
    dup=1, variant="bare_alias",
)
@example(  # an ungrouped expression of the key `k * 2 AS kk`
    rows=[(0, 1, 1, True), (1, 3, 2, True), (2, 2, 1, True), (None, 4, 1, True)],
    dup=1, variant="derived",
)
def test_weighted_quantile_replan_matches_fold(spark, rows, dup, variant):
    _view(spark, "pp_qw", rows, dup, "k bigint, v bigint, w bigint, keep boolean")
    key, gb, _ = GROUP_VARIANTS[variant]
    replan, fold = _replan_and_fold(
        spark,
        f"SELECT {key}, quantileExactWeighted(0.5)(v, w) AS q, "
        "quantilesExactWeighted(0.25, 0.75)(v, w) AS qs, "
        "medianExactWeighted(v, w) AS m, "
        "round(quantileExactWeighted(0.9)(v, w) - "
        "quantileExactWeighted(0.1)(v, w), 3) AS iqr "
        f"FROM pp_qw WHERE keep GROUP BY {gb}",
        "__qw_cw",
    )
    assert sorted(replan, key=repr) == sorted(fold, key=repr)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(st.tuples(
        KEYS,
        st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        KEEP,
    ), max_size=25),
    dup=st.integers(min_value=0, max_value=4),
    variant=st.sampled_from(sorted(GROUP_VARIANTS)),
)
@example(  # an all-NULL group, tied orders, a group WHERE empties
    rows=[(0, None, 1, True), (0, None, 2, True), (1, 3, 1, True),
          (1, 4, 1, True), (1, 5, None, True), (2, 1, 1, False)],
    dup=2, variant="column",
)
@example(  # a bare-alias key `(k >= 1) kk`
    rows=[(0, 1, 1, True), (1, 3, 2, True), (2, 2, 1, True), (None, 4, 1, True)],
    dup=1, variant="bare_alias",
)
@example(  # an ungrouped expression of the key `k * 2 AS kk`
    rows=[(0, 1, 1, True), (1, 3, 2, True), (2, 2, 1, True), (None, 4, 1, True)],
    dup=1, variant="derived",
)
def test_group_array_replan_matches_fold(spark, rows, dup, variant):
    _view(spark, "pp_ga", rows, dup, "k bigint, x bigint, o bigint, keep boolean")
    key, gb, _ = GROUP_VARIANTS[variant]
    replan, fold = _replan_and_fold(
        spark,
        f"SELECT {key}, groupArraySample(3, 7)(x) AS smp, "
        "groupArrayLast(2)(x, o) AS lst "
        f"FROM pp_ga WHERE keep GROUP BY {gb}",
        "__ga_t1",
    )
    assert sorted(replan, key=repr) == sorted(fold, key=repr)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(st.tuples(
        KEYS, st.one_of(st.none(), st.sampled_from("abc")), KEEP,
    ), max_size=25),
    dup=st.integers(min_value=0, max_value=4),
    variant=st.sampled_from(sorted(GROUP_VARIANTS)),
)
@example(  # an all-NULL group, a group past the limit, a group WHERE empties
    rows=[(0, None, True), (1, "a", True), (1, "b", True), (1, "a", True),
          (2, "c", False), (None, "b", True)],
    dup=1, variant="alias",
)
@example(  # a bare-alias key `(k >= 1) kk`
    rows=[(0, "a", True), (1, "b", True), (2, "c", True), (2, "a", True),
          (None, "c", True)],
    dup=1, variant="bare_alias",
)
@example(  # an ungrouped expression of the key `k * 2 AS kk`
    rows=[(0, "a", True), (1, "b", True), (2, "c", True), (2, "a", True),
          (None, "c", True)],
    dup=1, variant="derived",
)
def test_group_concat_replans_match_fold(spark, rows, dup, variant):
    """The groupConcat re-plan over both FROM shapes, one relation and
    a comma join.  Which values fill the limit is unspecified, so each
    group compares as a multiset when nothing is cut off, else as a
    size-2 sub-multiset of the group's non-NULL values."""
    from collections import Counter

    _view(spark, "pp_gc", rows, dup, "k bigint, s string, keep boolean")
    spark.sql("CREATE OR REPLACE TEMP VIEW pp_one AS SELECT 1 AS one")
    key, gb, key_of = GROUP_VARIANTS[variant]
    values: dict = {}
    for k, s, keep in rows + rows[:dup]:
        if keep:
            values.setdefault(key_of(k), Counter()).update([s] if s else [])
    for src in ("pp_gc, pp_one", "pp_gc"):
        replan, fold = _replan_and_fold(
            spark,
            f"SELECT {key}, groupConcat(',', 2)(s) AS g "
            f"FROM {src} WHERE keep GROUP BY {gb}",
            "__gc_k",
        )
        got = {r[0]: Counter(r.g.split(",") if r.g else []) for r in replan}
        want = {r[0]: Counter(r.g.split(",") if r.g else []) for r in fold}
        assert got.keys() == want.keys() == values.keys(), src
        for grp, have in values.items():
            if sum(have.values()) <= 2:
                assert got[grp] == want[grp] == have, (src, grp)
            else:
                for side in (got[grp], want[grp]):
                    assert sum(side.values()) == 2 and not side - have, (src, grp)
