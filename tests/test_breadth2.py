"""Tests for round-2 breadth operators: scalar suites, join breadth,
incremental dedup, unigram quality, and integer PageRank."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.operators import (
    corpus,
    dedup,
    pagerank,
    relational,
    scalarbreadth,
)


def test_string_search_counts_consistent(spark, sf_dir):
    rows = scalarbreadth.q_string_search(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # countSubstrings('the') > 0 iff like '%the%'
        assert (r.n_the > 0) == r.has_the
        # position of 'data' > 0 implies multiSearchAny over the terms
        if r.pos_data > 0:
            assert r.multi_any
        assert r.n_digit_runs >= 0


def test_datetime_trunc_calendar_invariants(spark, sf_dir):
    rows = scalarbreadth.q_datetime_trunc(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.month_start <= r.day
        assert r.week_start <= r.day
        assert r.quarter_start <= r.month_start
        assert 0 <= r.weekday <= 6
        assert 1 <= r.n_hours <= 24
        # a day's dates all share the day's calendar fields
        assert (r.day - r.week_start).days < 7


def test_conditional_null_partitions_orders(spark, sf_dir):
    rows = scalarbreadth.q_conditional_null(spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders
    assert {r.price_band for r in rows} <= {"high", "mid", "low"}
    assert {r.status_decoded for r in rows} <= {"open", "filled", "pending", "other"}


def test_full_outer_covers_both_sides(spark, sf_dir):
    rows = relational.q_full_outer_nation_balance(spark, sf_dir).collect()
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nk = {
        r.c_nationkey for r in c.select("c_nationkey").distinct().collect()
    } | {r.s_nationkey for r in s.select("s_nationkey").distinct().collect()}
    assert {r.nationkey for r in rows} == nk
    assert sum(r.n_cust for r in rows) == c.count()
    assert sum(r.n_supp for r in rows) == s.count()


def test_cross_join_grid_is_dense(spark, sf_dir):
    rows = relational.q_cross_join_grid(spark, sf_dir).collect()
    n_regions = load_table(spark, sf_dir, "region").count()
    n_status = (
        load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct().count()
    )
    assert len(rows) == n_regions * n_status
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders


def test_dedup_incremental_excludes_corpus_text(spark, sf_dir):
    kept = {r.keep_doc_id for r in dedup.q_dedup_incremental(spark, sf_dir).collect()}
    assert all(k % 2 == 1 for k in kept)
    d = load_table(spark, sf_dir, "documents").withColumn(
        "text_key", F.lower(F.trim(F.col("text")))
    )
    corpus_keys = {
        r.text_key
        for r in d.filter(F.col("doc_id") % 2 == 0).select("text_key").collect()
    }
    kept_keys = {
        r.text_key for r in d.filter(F.col("doc_id").isin(list(kept))).collect()
    }
    assert not (kept_keys & corpus_keys)


def test_unigram_quality_bounds(spark, sf_dir):
    rows = corpus.q_unigram_freq_quality(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        # every token occurs at least once in the corpus (itself)
        assert r.score >= 1.0
        assert r.freq_mass >= r.n_tokens > 0


def test_pagerank_conserves_mass_approximately(spark, sf_dir):
    rows = pagerank.q_pagerank_trade_graph(spark, sf_dir).collect()
    assert rows
    total = sum(r.rank_e12 for r in rows)
    # floor-division leaks at most ~1 unit per edge per iteration plus
    # the base-term remainder per node; at fixture scale that is far
    # under 0.1% of the total mass.
    assert 0.999 * pagerank.S_MASS <= total <= pagerank.S_MASS
    # suppliers (odd ids) aggregate many customers' mass: the max-rank
    # node should be a supplier in this bipartite trade graph
    top = max(rows, key=lambda r: r.rank_e12)
    assert top.node_id % 2 == 1


def test_schema_evolution_nulls_on_old_batch(spark, sf_dir):
    from clickhouse_vs_dbt_spark.sources import evolution

    back = spark.read.option("mergeSchema", "true").parquet(
        evolution.evolved_dir(spark, sf_dir)
    )
    assert "source" in back.columns
    old = back.filter(F.col("doc_id") % evolution.SPLIT_MOD == 0)
    new = back.filter(F.col("doc_id") % evolution.SPLIT_MOD == 1)
    assert old.filter(F.col("source").isNotNull()).count() == 0
    assert new.filter(F.col("source").isNull()).count() == 0
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert back.count() == n_docs


def test_binary_file_roundtrip_byte_exact(spark, sf_dir):
    from clickhouse_vs_dbt_spark.sources import binfile

    rows = binfile.q_binary_file_roundtrip(spark, sf_dir).collect()
    assert len(rows) == binfile.N_FILES
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(binfile.N_FILES)
        .collect()
    }
    import hashlib

    for r in rows:
        raw = docs[r.doc_id].encode("utf-8")
        assert r.byte_len == len(raw)
        assert r.payload_md5 == hashlib.md5(raw).hexdigest()


def test_incremental_agg_mv_equals_batch(spark, sf_dir):
    from clickhouse_vs_dbt_spark.operators import incremental

    mv = {
        r.event_type: (r.n_events, round(r.total_value, 6))
        for r in incremental.q_incremental_agg_mv(spark, sf_dir).collect()
    }
    direct = {
        r.event_type: (r.n, round(r.s, 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert mv == direct


def test_gap_interpolate_matches_observations(spark, sf_dir):
    from clickhouse_vs_dbt_spark.operators import timeseries

    rows = timeseries.q_events_gap_interpolate(spark, sf_dir).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.window_start)
        obs_vals = [r.value_interp for r in series if r.observed]
        lo, hi = min(obs_vals), max(obs_vals)
        for r in series:
            assert r.value_interp is not None
            # interpolation never leaves the observed envelope
            assert lo - 1e-6 <= r.value_interp <= hi + 1e-6


def test_array_hof_suite_bounds(spark, sf_dir):
    from clickhouse_vs_dbt_spark.operators import funcsuite

    dim = len(
        load_table(spark, sf_dir, "embeddings").first().embedding
    )
    rows = funcsuite.q_array_hof_functions(spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "embeddings").count()
    n_seen = 0
    for r in rows:
        assert r.sum_sq >= 0.0
        assert r.n_any_big >= 0 and r.n_all_small >= 0
        assert r.total_pos >= 0
        n_seen += 1
    assert n_seen > 0 and dim >= 8


def test_stream_mv_equals_batch_aggregate(spark, sf_dir):
    from clickhouse_vs_dbt_spark.operators import incremental
    from clickhouse_vs_dbt_spark.streaming import stream_mv

    got = {
        r.event_type: (r.n_events, round(r.total_value, 6))
        for r in stream_mv.q_events_stream_mv(spark, sf_dir).collect()
    }
    want = {
        r.event_type: (r.n_events, round(r.total_value, 6))
        for r in incremental.q_incremental_agg_mv(spark, sf_dir).collect()
    }
    assert got == want


def test_clickhouse_compat_functions(spark, sf_dir):
    from clickhouse_vs_dbt_spark.dialect import transpile

    row = spark.sql(transpile(
        """SELECT toYear(DATE'1994-02-07') AS y,
                  toYYYYMM(DATE'1994-01-15') AS ym,
                  toISOWeek(DATE'1994-02-07') AS w,
                  toDayOfWeek(DATE'1994-02-07') AS dow,
                  toMonday(DATE'1994-02-09') AS mon,
                  intDiv(7, 2) AS idv,
                  modulo(7, 3) AS md,
                  editDistance('kitten', 'sitting') AS ed,
                  empty('') AS e, notEmpty('x') AS ne,
                  splitByChar('|', 'a|b|c') AS parts"""
    )).first()
    assert row.y == 1994 and row.ym == 199401 and row.w == 6
    assert row.dow == 1  # 1994-02-07 is a Monday
    assert str(row.mon) == "1994-02-07"
    row2 = spark.sql(transpile(
        """SELECT toStartOfYear(DATE'1994-02-07') AS soy,
                  toDate(TIMESTAMP'1994-02-07 13:45:09') AS d,
                  toHour(TIMESTAMP'1994-02-07 13:45:09') AS h,
                  toMinute(TIMESTAMP'1994-02-07 13:45:09') AS mi,
                  toSecond(TIMESTAMP'1994-02-07 13:45:09') AS s,
                  bitCount(255) AS bc,
                  toStartOfDay(TIMESTAMP'1994-02-07 13:45:09') AS sod"""
    )).first()
    assert str(row2.soy) == "1994-01-01" and str(row2.d) == "1994-02-07"
    assert (row2.h, row2.mi, row2.s, row2.bc) == (13, 45, 9, 8)
    assert str(row2.sod) == "1994-02-07 00:00:00"
    assert row.idv == 3 and row.md == 1 and row.ed == 3
    assert row.e is True and row.ne is True
    assert row.parts == ["a", "b", "c"]


def test_clickhouse_dialect_inlines_to_builtin_plan(spark, sf_dir):
    from clickhouse_vs_dbt_spark import compat

    df = compat.q_clickhouse_dialect(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # transpile inlines each compat name as its built-in body: no
    # python/UDF nodes
    assert "BatchEvalPython" not in plan and "pythonUDF" not in plan


def test_bloom_semi_join_no_false_negatives(spark, sf_dir):
    from clickhouse_vs_dbt_spark.operators import bloomjoin

    rows = bloomjoin.q_bloom_semi_join(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # a Bloom filter never misses a true member
        assert r.n_true == r.n_semi
        assert r.n_false_pos >= 0
        assert r.n_bloom_pass == r.n_true + r.n_false_pos
