"""Physical-plan regression tests: the scale-critical plan properties
claimed in SCALING.md must actually hold in the executed plan."""

from __future__ import annotations

from clickhouse_vs_dbt_spark.operators.curation import (
    q_decontaminate_ngram,
    q_export_shards,
    q_mixture_weighted_sample,
    q_sequence_pack,
)
from clickhouse_vs_dbt_spark.operators.timeseries import q_events_argmax_state


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mixture_sample_has_no_keyed_shuffle(spark, sf_dir):
    """The sample is a scan-side predicate + projection; the only
    exchange allowed is the final presentation sort's range partition."""
    plan = _plan(q_mixture_weighted_sample(spark, sf_dir))
    assert "hashpartitioning" not in plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    plan = _plan(q_decontaminate_ngram(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_windows_are_keyed_not_global(spark, sf_dir):
    """sequence_pack and export_shards use partitioned windows — a
    SinglePartition window would serialize the corpus through one task."""
    for q in (q_sequence_pack, q_export_shards):
        plan = _plan(q(spark, sf_dir))
        assert "Window" in plan
        # the window's exchange must be hash-partitioned by its key
        assert "hashpartitioning" in plan


def test_argmax_state_avoids_window_sort(spark, sf_dir):
    """The aggregate form must plan as hash aggregate with partial
    max_by — no Window operator, no per-partition sort of all events."""
    plan = _plan(q_events_argmax_state(spark, sf_dir))
    assert "Window" not in plan
    assert "max_by" in plan


def test_unigram_quality_broadcasts_vocab(spark, sf_dir):
    """The Zipf vocab must ship to the token relation as a broadcast —
    a shuffled vocab join would re-exchange the fact side."""
    from clickhouse_vs_dbt_spark.operators.corpus import q_unigram_freq_quality

    plan = _plan(q_unigram_freq_quality(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_gap_interpolate_has_no_unbounded_following_frame(spark, sf_dir):
    """Forward scan must be the descending running frame (O(1)/row) —
    an unbounded-following frame re-scans the partition tail per row."""
    from clickhouse_vs_dbt_spark.operators.timeseries import (
        q_events_gap_interpolate,
    )

    plan = _plan(q_events_gap_interpolate(spark, sf_dir))
    assert "unboundedfollowing" not in plan.lower()


def test_q1_scan_prunes_star_partitions(spark, sf_dir):
    """The materialized star is hive-partitioned by order_year; the Q1
    flight's year predicates must reach the scan as PartitionFilters
    (directory pruning — skip whole years), not only as row-group
    PushedFilters inside touched files."""
    from clickhouse_vs_dbt_spark.operators.ssb_queries import q1_1, q1_2

    for q, year in ((q1_1, 1995), (q1_2, 1996)):
        plan = _plan(q(spark, sf_dir))
        i = plan.find("PartitionFilters")
        assert i >= 0
        assert f"order_year#" in plan[i : i + 200]
        assert f"= {year})" in plan[i : i + 200]


def test_top_terms_is_take_ordered(spark, sf_dir):
    """Global top-k over the unbounded vocab must plan as
    TakeOrderedAndProject (per-partition heaps); the only Window allowed
    is the rank pass over the k surviving rows, i.e. the heap sits
    BELOW the window in the plan tree."""
    from clickhouse_vs_dbt_spark.operators.corpus import q_corpus_top_terms

    plan = _plan(q_corpus_top_terms(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # deeper nodes print later: the heap must feed the window, not vice versa
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_max_intersections_sweep_is_day_partitioned(spark, sf_dir):
    """The sweep-line running sum must window within day buckets
    (hashpartitioning on day) — never a global sort of all 2x|sessions|
    boundary rows through one task.  The day-offsets carry window is the
    only SinglePartition stage and runs over |days| rows."""
    from clickhouse_vs_dbt_spark.operators.timeseries import (
        q_events_max_intersections,
    )

    plan = _plan(q_events_max_intersections(spark, sf_dir))
    assert "hashpartitioning(day" in plan


def test_ivf_exact_probes_broadcast(spark, sf_dir):
    """Probe set (|queries| x NPROBE rows) must broadcast onto the
    assigned corpus — the corpus never re-shuffles for a probe."""
    from clickhouse_vs_dbt_spark.operators.similarity import (
        q_ann_topk_ivf_exact,
    )

    plan = _plan(q_ann_topk_ivf_exact(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_ivf_pruned_scan_prunes_cells(spark, sf_dir):
    """The persisted IVF index is hive-partitioned by cluster; the
    probe path must reach the scan as PartitionFilters (only NPROBE
    cell directories opened), with the probe set broadcast."""
    from clickhouse_vs_dbt_spark.operators.similarity import (
        q_ann_topk_ivf_pruned,
    )

    plan = _plan(q_ann_topk_ivf_pruned(spark, sf_dir))
    i = plan.find("PartitionFilters")
    assert i >= 0
    assert "cluster" in plan[i : i + 200]
    assert "BroadcastHashJoin" in plan


def test_mergetree_reads_are_pure_aggregates(spark, sf_dir):
    """Replacing-FINAL and Collapsing reads must plan as single keyed
    aggregates with MAP-SIDE PARTIALS (partial_max_by / partial_sum
    before the exchange): no Window, no join.  max_by keeps a string in
    its aggregation buffer so Spark picks SortAggregate for the
    replacing read — still partial+final, the property that matters."""
    from clickhouse_vs_dbt_spark.operators.mergetree import (
        q_mergetree_aggregating,
        q_mergetree_collapsing,
        q_mergetree_replacing_final,
        q_mergetree_summing,
        q_mergetree_ttl_rollup,
        q_mergetree_versioned_collapsing,
    )

    for q in (
        q_mergetree_replacing_final,
        q_mergetree_collapsing,
        q_mergetree_summing,
        q_mergetree_versioned_collapsing,
        q_mergetree_aggregating,
        q_mergetree_ttl_rollup,
    ):
        plan = _plan(q(spark, sf_dir))
        assert "Window" not in plan
        assert "SortMergeJoin" not in plan
        assert "partial_" in plan
        # no presentation ORDER BY: a data-scale result never pays a
        # global range sort just to look sorted
        assert "rangepartitioning" not in plan
        # single-scan changelog derivation: the conditional entry
        # arrays explode map-side; a UNION ALL spelling would re-scan
        # the table once per changelog branch
        assert plan.count("Scan parquet") == 1, q.__name__


def test_rank_corr_delta_sum_never_window_on_bare_event_type(spark, sf_dir):
    """The two-pass range-partitioned scheme must be the EXECUTED plan:
    every data-scale window keys on (event_type, bucket) — a window
    partitioned solely by ~5-value event_type and ordered by a data
    column (x / y / ts) would sort the whole table through ~5 tasks.
    The only bare-event_type windows allowed are the bucket-offset /
    carry passes, which order by the bucket id over metadata rows."""
    import re

    from clickhouse_vs_dbt_spark.operators.aggfns import (
        q_events_delta_sum,
        q_events_rank_corr,
    )

    bad = re.compile(
        r"windowspecdefinition\(event_type#\d+, (x|y|ts|value)#\d+L?\s"
    )
    for q, bucket_key in (
        (q_events_rank_corr, r"hashpartitioning\(event_type#\d+, bx#"),
        (q_events_delta_sum, r"hashpartitioning\(event_type#\d+, day#"),
    ):
        plan = _plan(q(spark, sf_dir))
        assert not bad.search(plan), f"bare event_type window in {q.__name__}"
        assert re.search(bucket_key, plan), q.__name__
        # the base relation is parquet scratch, never a data-scale
        # memory cache (round-5: replaced cacheTable)
        assert "InMemoryRelation" not in plan, q.__name__


def test_q16_exclusion_is_broadcast(spark, sf_dir):
    """The NOT-IN supplier exclusion and the part join must both ship
    the small side broadcast — the partsupp relation never shuffles."""
    from clickhouse_vs_dbt_spark.operators.tpch_ps import (
        q_tpch_q16_supplier_counts,
    )

    plan = _plan(q_tpch_q16_supplier_counts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_with_totals_is_single_pass_expand(spark, sf_dir):
    """WITH TOTALS → GROUPING SETS must compute the totals row via
    grouping-set Expand in the SAME aggregate pass: exactly one scan,
    no union of a per-group and a global aggregate."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_with_totals"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan


def test_array_join_clause_generates_in_scan_stage(spark, sf_dir):
    """The ARRAY JOIN rewrite must plan as Generate explode directly
    over the scan — no exchange between scan and generator, filter
    still pushed to the scan."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_array_join_clause"](spark, sf_dir))
    assert "Generate explode" in plan
    gen = plan.index("Generate explode")
    scan = plan.index("Scan parquet")
    assert gen < scan  # generator sits directly above the scan
    assert "Exchange" not in plan[gen:scan]
    assert "PushedFilters: [IsNotNull(o_totalprice)" in plan


def test_transpiled_sample_is_map_side_filter(spark, sf_dir):
    """SAMPLE OFFSET: the hash-range predicate must evaluate in the
    scan stage's Filter with no data-scale exchange beyond the final
    keyed aggregate."""
    from clickhouse_vs_dbt_spark.operators.sampling import (
        q_clickhouse_sample_clause,
    )

    plan = _plan(q_clickhouse_sample_clause(spark, sf_dir))
    assert plan.count("Exchange") <= 1  # only the keyed agg exchange
    assert "Window" not in plan and "Join" not in plan


def test_asof_dialect_avoids_nested_loop_domain_join(spark, sf_dir):
    """The ASOF USING rewrite through the front door (resolver
    available) must emit the union + last_value-window plan — one
    keyed window shuffle, linear.  Catalyst's LATERAL decorrelation
    fallback builds a ts-domain BroadcastNestedLoopJoin (quadratic),
    which must never be the front-door plan."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_asof_join"](spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "last_value" in plan and "Union" in plan


def test_limit_by_dialect_is_single_keyed_window(spark, sf_dir):
    """LIMIT n BY must plan as one row_number window partitioned by
    the BY keys — no join, no extra aggregate."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_limit_by"](spark, sf_dir))
    assert "row_number" in plan and "Join" not in plan


def test_limit_by_analog_group_limit_is_partial_final(spark, sf_dir):
    """limit_by_analog (the r15 rerun-confirmed bench mover — SCALING.md
    r16 adjudication) must keep the two-stage WindowGroupLimit shape:
    the Partial stage caps every input partition at n rows per key
    BEFORE the keyed exchange, so the shuffle is metadata-sized at any
    scale.  Either degradation mode (Partial lost → full-table shuffle;
    WindowGroupLimit lost → full per-key sort) fails here."""
    from clickhouse_vs_dbt_spark.operators.relational import (
        q_limit_by_analog,
    )

    plan = _plan(q_limit_by_analog(spark, sf_dir))
    assert plan.count("WindowGroupLimit") == 2
    assert "Partial" in plan and "Final" in plan


def test_funnel_fold_prefilters_chain_types(spark, sf_dir):
    """The windowFunnel fold must collect only the three chain event
    types — the pushed scan filter keeps non-chain events out of the
    per-user arrays and the keyed shuffle."""
    from clickhouse_vs_dbt_spark.operators.chfuncs import (
        q_events_funnel_window,
    )

    plan = _plan(q_events_funnel_window(spark, sf_dir))
    assert "In(event_type, [click,purchase,view])" in plan or (
        "event_type" in plan and "purchase" in plan and "IN" in plan.upper()
    )


def test_r7_ties_boundary_plan_has_no_window(spark, sf_dir):
    """LIMIT n WITH TIES: two-pass boundary — TakeOrderedAndProject
    over a pruned key scan + broadcast boundary filter; no Window
    operator anywhere in the executed plan."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_modern_sql"](spark, sf_dir))
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


def test_r7_sample_clause_filter_reaches_scan(spark, sf_dir):
    """Transpiled SAMPLE k OFFSET m: the hash-range predicate is a
    DataFilter in the scan stage — no join, no extra exchange beyond
    the aggregate's."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_sample_clause"](spark, sf_dir))
    assert "2246822519" in plan.split("FileScan")[1].split("ReadSchema")[0] \
        or "2246822519" in plan  # mixer constant pushed to the scan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg only (AQE reuse)


def test_r7_star_modifier_expansion_prunes_columns(spark, sf_dir):
    """* EXCEPT/REPLACE/APPLY expands to a plain projection — the scan
    reads ONLY the surviving columns (ReadSchema pruning intact)."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_star_modifiers"](spark, sf_dir))
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "s_suppkey" in scan and "s_name" in scan
    assert "s_acctbal" not in scan  # EXCEPT'd column never read


def test_r7_state_merge_is_stacked_hash_aggregates(spark, sf_dir):
    """-State/-Merge two-level aggregation: two stacked HashAggregate
    pairs with map-side partials, no Window, no sort of the raw
    table."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_state_merge"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 levels
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_r7_token_budget_windows_are_bucket_keyed(spark, sf_dir):
    """mixture_token_budget: the data-scale window partitions by
    (source, bucket) — never by source alone (one-task-per-source) or
    globally; the offsets window runs on the tiny per-bucket
    relation."""
    from clickhouse_vs_dbt_spark.operators.curation import (
        q_mixture_token_budget,
    )

    plan = _plan(q_mixture_token_budget(spark, sf_dir))
    assert "Window" in plan
    # every window spec over the doc relation carries the bucket key
    for frag in plan.split("Window [")[1:]:
        spec = frag.split("]")[1] if "]" in frag else frag
        head = frag[:400]
        if "n_tokens" in head and "__b" not in head and "__bt" not in head:
            raise AssertionError(
                f"window without bucket key: {head[:200]}"
            )


def test_mwu_ks_single_fact_aggregation(spark, sf_dir):
    """stats_mann_whitney / stats_ks_test: the only operation touching
    fact rows is ONE hash aggregate (GROUP BY value — partial +
    final); the prefix window runs over the aggregated distinct-value
    set (domain-bounded metadata), so exactly one fact shuffle and no
    Sort before the aggregate."""
    from clickhouse_vs_dbt_spark.operators.stats import (
        q_stats_ks_test,
        q_stats_mann_whitney,
    )

    for q in (q_stats_mann_whitney, q_stats_ks_test):
        plan = _plan(q(spark, sf_dir))
        # partial+final aggregate pair over the scan
        assert plan.count("HashAggregate") >= 2
        # the single-partition exchange exists only downstream of the
        # aggregate (the distinct-value window), never on fact rows:
        # the scan's exchange must be hash-partitioned on the value key
        assert "hashpartitioning(value" in plan or (
            "hashpartitioning(v" in plan
        )


def test_categorical_assoc_joins_are_metadata_scale(spark, sf_dir):
    """stats_categorical_assoc: the cells/rows/cols joins run over the
    |r|x|c| contingency table (metadata), so they must plan as
    broadcast joins — a shuffled merge join would imply fact-scale
    relations on both sides."""
    from clickhouse_vs_dbt_spark.operators.stats import (
        q_stats_categorical_assoc,
    )

    plan = _plan(q_stats_categorical_assoc(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_r13_noeq_any_join_plan_has_no_nested_loop(spark, sf_dir):
    """dialect_any_join_noeq (the running-min form): the keyless ANY
    JOIN must plan as per-value hash aggregation + a RANGE-BUCKETED
    running-min window + a broadcast/hash equi-join back — never a
    CartesianProduct or a data×data nested loop (the theta join the
    rewrite exists to avoid).  r14: the running-min window must be
    PARTITIONED by the value bucket (VERDICT r13 — the global window
    was an Exchange SinglePartition over the distinct comparison
    values, one task at high cardinality); the only nested-loop
    joins allowed are the one-row stats broadcasts (Cross with a
    single-row build side — the PASTE JOIN scheme's shape)."""
    import re

    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_any_join_noeq"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # nested loops only as scalar-stats broadcasts, never a join kind
    # that could be data×data
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line
    # the running-min window over __any_s is bucket-partitioned —
    # not a SinglePartition global sort
    m = re.search(
        r"Window \[min\(__any_s[^\n]*windowspecdefinition\("
        r"(__any_pb\#\d+), __any_v", plan,
    )
    assert m, "bucket-partitioned running-min window missing"
    # the pick state is compressed before the window: a per-value
    # partial+final aggregate pair over min(struct(...))
    assert "min(struct(" in plan.replace("_struct", "struct")


def test_r17_group_array_tiers_window_group_limit(spark, sf_dir):
    """VERDICT r16 item 4: the owned groupArraySample/groupArrayLast
    statement re-plans to ranked subqueries whose ``rank <= n``
    filters Spark rewrites into Partial/Final WindowGroupLimit pairs
    — each tier ships at most n rows per group per map partition
    into its keyed exchange instead of collecting whole groups.
    Either degradation (re-plan lost → collect fold; Partial limit
    lost → full-group shuffle) fails here."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_group_array_tiers"](spark, sf_dir))
    # two tiers x Partial+Final
    assert plan.count("WindowGroupLimit") == 4
    assert "Partial" in plan and "Final" in plan


def test_r17_interval_sweeps_preaggregates(spark, sf_dir):
    """VERDICT r16 item 1: the owned interval-sweep statement
    pre-aggregates GROUP BY (keys, start, end) -> COUNT below the
    collect — the partial HashAggregate compresses duplicate
    endpoint pairs map-side before any shuffle, so the sweep folds
    see distinct pairs with batched deltas, not every row."""
    from clickhouse_vs_dbt_spark.dialect import QUERIES

    plan = _plan(QUERIES["dialect_interval_sweeps"](spark, sf_dir))
    assert "__iv_s" in plan and "__iv_c" in plan
    # the (keys, s, e) pre-aggregate: partial + final HashAggregate
    # below the ObjectHashAggregate collect stage
    assert plan.count("HashAggregate") >= 2
    assert "ObjectHashAggregate" in plan
