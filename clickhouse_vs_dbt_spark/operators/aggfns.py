"""ClickHouse aggregate-function analogs, part 2 (SURVEY.md §2.2
breadth): map-valued aggregates, combinator-style scalar aggregates,
ordered-delta sums, interval-union length, and rank correlation.

ClickHouse surface covered here (all absent from the reference's own
640 declarative lines, present in its engine's vocabulary):

* ``sumMap``/``minMap``/``maxMap``  → ``events_sum_map``: per-row
  ``MAP(event_type → value)`` columns merged key-wise across rows.
  Spark shape: ``create_map`` + ``explode`` (map machinery in the row
  path), keyed decimal-exact aggregate, deterministic sorted re-render.
  The merged maps are emitted as sorted ``k:v`` strings with DECIMAL
  rendering — both engines print fixed-scale decimals identically, so
  the whole map value-checks (doubles would not: their shortest-repr
  formatting is engine-specific).
* ``avgWeighted``, ``uniqUpTo(K)``, ``sumCount`` → ``events_agg_combinators``.
* ``deltaSum`` → ``events_delta_sum``: sum of positive steps in
  time-order, per event type (monotone-progress metric).
* ``intervalLengthSum`` → ``events_interval_length_sum``: length of the
  UNION of per-user activity intervals (overlaps counted once) via the
  classic prev-max-end sweep — all integer micros, exact.
* ``rankCorr`` → ``events_rank_corr``: Spearman ρ with average-tie
  ranks, computed from exact integer rank sums (2·avg-rank = min-rank +
  max-rank keeps ties integral), one IEEE division at the end.

Scale notes: sum_map shuffles (user, key) partial aggregates —
map-side combine collapses duplicates first; the interval sweep
windows partition by their natural key (user) and are O(1)/row.
rank_corr and delta_sum never window on bare ~5-value event_type:
both EXECUTE the two-pass range-partitioned scheme (bucket the order
key, rank/lag within (event_type, bucket), exclusive-prefix the
per-bucket counts over metadata rows, broadcast the offsets back —
the operators/pipeline.py prefix-sum pattern), so the largest sort
task is one bucket of one type, not a whole type.  Exactness bounds
are per-function docstrings (rank_corr's power sums are decimal-exact
to ~1.2e9 rows/group).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clickhouse_vs_dbt_spark.catalog import register_views
from clickhouse_vs_dbt_spark.session import scratch_dir

DEC = "DECIMAL(18,6)"


def _sum_map_sql(dialect: str) -> str:
    if dialect == "spark":
        # exercise real MapType machinery in the row path: a per-row
        # single-entry map, exploded back to (k, v) for the merge
        kv = """
  SELECT user_id, k, v
  FROM (SELECT user_id, map(event_type, value) AS mp FROM events)
  LATERAL VIEW explode(mp) t AS k, v"""
        return f"""
WITH kv AS ({kv}),
per AS (
  SELECT user_id, k,
         SUM(CAST(v AS {DEC})) AS s,
         MIN(CAST(v AS {DEC})) AS mn,
         MAX(CAST(v AS {DEC})) AS mx
  FROM kv GROUP BY user_id, k),
arr AS (
  SELECT user_id,
         COUNT(*) AS n_keys,
         sort_array(collect_list(struct(k, s, mn, mx))) AS es
  FROM per GROUP BY user_id)
SELECT user_id, n_keys,
       concat_ws(',', transform(es, e -> concat(e.k, ':', CAST(e.s AS STRING)))) AS sum_map,
       concat_ws(',', transform(es, e -> concat(e.k, ':', CAST(e.mn AS STRING)))) AS min_map,
       concat_ws(',', transform(es, e -> concat(e.k, ':', CAST(e.mx AS STRING)))) AS max_map
FROM arr ORDER BY user_id
"""
    return f"""
WITH per AS (
  SELECT user_id, event_type AS k,
         SUM(CAST(value AS {DEC})) AS s,
         MIN(CAST(value AS {DEC})) AS mn,
         MAX(CAST(value AS {DEC})) AS mx
  FROM events GROUP BY 1, 2)
SELECT user_id, COUNT(*) AS n_keys,
       string_agg(k || ':' || CAST(s AS VARCHAR), ',' ORDER BY k) AS sum_map,
       string_agg(k || ':' || CAST(mn AS VARCHAR), ',' ORDER BY k) AS min_map,
       string_agg(k || ':' || CAST(mx AS VARCHAR), ',' ORDER BY k) AS max_map
FROM per GROUP BY user_id ORDER BY user_id
"""


def q_events_sum_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumMap/minMap/maxMap analog (see module doc)."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_sum_map_sql("spark"))


def _combinators_sql(dialect: str) -> str:
    """avgWeighted (decimal-exact), uniqUpTo(3), sumCount — the
    combinator-style scalar aggregates, one pass, partial+final."""
    return f"""
SELECT event_type,
       CAST(CAST(SUM(CAST(value * (user_id % 5 + 1) AS {DEC})) AS DOUBLE)
            / SUM(user_id % 5 + 1) AS DOUBLE) AS avg_weighted,
       CAST(LEAST(COUNT(DISTINCT user_id), 4) AS BIGINT) AS uniq_up_to_3,
       CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_v,
       COUNT(value) AS n_v
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_events_agg_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_combinators_sql("spark"))


def _delta_sum_sql(dialect: str) -> str:
    """deltaSum: positive time-ordered steps.  Each step is one IEEE
    subtraction of adjacent doubles (deterministic), the steps sum in
    decimal (order-free).

    The Spark plan is the scalable two-pass ``lag``: event_type has ~5
    values, so ``lag OVER (PARTITION BY event_type ORDER BY ts)`` would
    sort the whole table through ~5 tasks.  Instead:

    1. local ``lag``/``row_number`` within (event_type, day) — one
       keyed window, tasks bounded at a day's worth of one type;
    2. per-(type, day) last value via struct-argmax (hash aggregate,
       map-side partial);
    3. carry the previous day's last value with a ``lag`` over the
       (type, day) metadata relation (|types|x|days| rows);
    4. broadcast-join the carry back; day-first rows take the carried
       value as their predecessor.

    The DuckDB oracle keeps the one-window textbook form — same rows,
    independently derived.
    """
    if dialect == "spark":
        return f"""
WITH o AS (
  SELECT event_type, value, ts, event_id, to_date(ts) AS day FROM events),
local AS (
  SELECT event_type, value, day,
         lag(value) OVER (PARTITION BY event_type, day
                          ORDER BY ts, event_id) AS lpv,
         ROW_NUMBER() OVER (PARTITION BY event_type, day
                            ORDER BY ts, event_id) AS rn
  FROM o),
lastv AS (
  SELECT event_type, day,
         MAX(named_struct('ts', ts, 'event_id', event_id, 'v', value)).v
           AS last_v
  FROM o GROUP BY event_type, day),
carry AS (
  SELECT event_type, day,
         lag(last_v) OVER (PARTITION BY event_type ORDER BY day)
           AS prev_last
  FROM lastv),
j AS (
  SELECT l.event_type, l.value,
         CASE WHEN l.rn = 1 THEN c.prev_last ELSE l.lpv END AS pv
  FROM local l
  JOIN carry c ON l.event_type = c.event_type AND l.day = c.day)
SELECT event_type,
       CAST(SUM(CASE WHEN pv IS NOT NULL AND value > pv
                     THEN CAST(value - pv AS {DEC})
                     ELSE CAST(0 AS {DEC}) END) AS DOUBLE) AS delta_sum,
       COUNT(*) AS n
FROM j GROUP BY event_type ORDER BY event_type
"""
    return f"""
WITH o AS (
  SELECT event_type, value,
         lag(value) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS pv
  FROM events)
SELECT event_type,
       CAST(SUM(CASE WHEN pv IS NOT NULL AND value > pv
                     THEN CAST(value - pv AS {DEC})
                     ELSE CAST(0 AS {DEC}) END) AS DOUBLE) AS delta_sum,
       COUNT(*) AS n
FROM o GROUP BY event_type ORDER BY event_type
"""


def q_events_delta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_delta_sum_sql("spark"))


INTERVAL_US = 300_000_000  # each event opens a 5-minute activity window


def _interval_length_sql(dialect: str) -> str:
    """intervalLengthSum: union length of per-user [ts, ts+5min)
    intervals.  prev-max-end sweep: contribution = the part of each
    interval past both its own start and everything seen before.
    Integer micros end-to-end — exact in both engines; windows
    partition by user (parallel across users, O(1)/row)."""
    eus = "unix_micros" if dialect == "spark" else "epoch_us"
    return f"""
WITH iv AS (
  SELECT user_id, {eus}(ts) AS st, {eus}(ts) + {INTERVAL_US} AS en
  FROM events),
w AS (
  SELECT user_id, st, en,
         MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pmax
  FROM iv)
SELECT user_id,
       CAST(SUM(GREATEST(CAST(0 AS BIGINT),
                en - GREATEST(st, COALESCE(pmax, st)))) AS BIGINT)
         AS covered_us,
       COUNT(*) AS n_intervals
FROM w GROUP BY user_id ORDER BY user_id
"""


def q_events_interval_length_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_interval_length_sql("spark"))


RANK_BUCKETS = 64


def _rank_corr_sql(dialect: str) -> str:
    """rankCorr (Spearman ρ) per event type.  Average-tie ranks stay
    integral as 2·avg = RANK() min-rank × 2 + (tie-count − 1); the five
    power sums accumulate as exact decimals, the classic corr formula
    is evaluated once in DECIMAL(38,0) (exact) and divided as doubles.

    The Spark plan assigns ranks with the two-pass range-partitioned
    scheme (the operators/pipeline.py prefix-sum pattern), never a
    window partitioned solely on ~5-value event_type:

    1. bucket x by fixed-width ranges from a per-type min/max aggregate
       (deterministic function of x — ties can't split), y by day;
    2. RANK + peer-count within (event_type, bucket) — one keyed
       window per axis, both functions sharing the window spec so each
       axis costs a single bounded shuffle+sort;
    3. exclusive-prefix the per-bucket counts into bucket offsets —
       windows over |types|x|buckets| metadata rows only;
    4. broadcast-join offsets back: global min-rank = offset + local.

    Overflow bound: rx,ry ≤ 2n, so SUM(rx*ry) ~ 4n³ — past ~1.3e6
    rows/group that exceeds BIGINT, so the products accumulate as
    DECIMAL(19,0)→DECIMAL(38,0) sums, exact to ~1.2e9 rows per group
    (4n⁴ < 10³⁸ in the final n·sxy term); beyond that, rescale ranks
    before the moment pass.  The DuckDB oracle keeps the textbook
    two-window form (its BIGINT sums auto-promote to HUGEINT)."""
    d38 = "DECIMAL(38,0)"
    final = f"""
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(
         CAST(CAST(n AS {d38}) * CAST(sxy AS {d38})
              - CAST(sx AS {d38}) * CAST(sy AS {d38}) AS DOUBLE)
         / sqrt(CAST(CAST(n AS {d38}) * CAST(sxx AS {d38})
                     - CAST(sx AS {d38}) * CAST(sx AS {d38}) AS DOUBLE)
                * CAST(CAST(n AS {d38}) * CAST(syy AS {d38})
                       - CAST(sy AS {d38}) * CAST(sy AS {d38}) AS DOUBLE)),
         6) AS spearman_rho
FROM s ORDER BY event_type
"""
    if dialect == "spark":
        d19 = "DECIMAL(19,0)"
        # rc_b is the parquet-scratch view written by run_rank_corr:
        # all three consumers below are plain scans of the written
        # files (column-pruned), so the events table is derived once.
        local = """
  SELECT event_type, day, bx,
         RANK() OVER (PARTITION BY event_type, bx ORDER BY x) AS lrx,
         COUNT(*) OVER (PARTITION BY event_type, bx ORDER BY x
                        RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
           AS tcx,
         RANK() OVER (PARTITION BY event_type, day ORDER BY y) AS lry,
         COUNT(*) OVER (PARTITION BY event_type, day ORDER BY y
                        RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
           AS tcy
  FROM rc_b"""
        ox = """
  SELECT event_type, bx,
         COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY bx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS offx
  FROM (SELECT event_type, bx, COUNT(*) AS c FROM rc_b
        GROUP BY event_type, bx)"""
        oy = """
  SELECT event_type, day,
         COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS offy
  FROM (SELECT event_type, day, COUNT(*) AS c FROM rc_b
        GROUP BY event_type, day)"""
        return f"""
SELECT * FROM (
  SELECT event_type, CAST(n AS BIGINT) AS n,
         round(
           CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0))
                - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                AS DOUBLE)
           / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
                       - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
                       AS DOUBLE)
                  * CAST(CAST(n AS DECIMAL(38,0)) * CAST(syy AS DECIMAL(38,0))
                         - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                         AS DOUBLE)),
           6) AS spearman_rho
  FROM (
    SELECT event_type, COUNT(*) AS n,
           SUM(rx) AS sx, SUM(ry) AS sy,
           SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
    FROM (
      SELECT l.event_type,
             CAST(2 * (l.lrx + ox.offx) + l.tcx - 1 AS {d19}) AS rx,
             CAST(2 * (l.lry + oy.offy) + l.tcy - 1 AS {d19}) AS ry
      FROM ({local}) l
      JOIN ({ox}) ox ON l.event_type = ox.event_type AND l.bx = ox.bx
      JOIN ({oy}) oy ON l.event_type = oy.event_type AND l.day = oy.day
    ) GROUP BY event_type
  )
) ORDER BY event_type"""
    return f"""
WITH base AS (
  SELECT event_type, value AS x, epoch_us(ts) AS y FROM events),
r AS (
  SELECT event_type,
         2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
           + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS rx,
         2 * RANK() OVER (PARTITION BY event_type ORDER BY y)
           + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS ry
  FROM base),
s AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
  FROM r GROUP BY event_type)
{final}"""


def _rank_corr_base_sql() -> str:
    """The bucketed base relation (event_type, x, y, day, bx) — built
    once, written to parquet scratch by :func:`run_rank_corr`, and
    consumed by the ranking window, cx, and cy (three consumers;
    without the materialization each re-derives it from the events
    scan — at 100 TB that is three table scans instead of one write +
    three pruned reads of a 5-column relation)."""
    nb = RANK_BUCKETS
    return f"""
WITH base AS (
  SELECT event_type, value AS x, unix_micros(ts) AS y, to_date(ts) AS day
  FROM events),
st AS (
  SELECT event_type, MIN(x) AS lox, MAX(x) AS hix
  FROM base GROUP BY event_type)
SELECT base.event_type, x, y, day,
       LEAST({nb - 1}, GREATEST(0, CAST(floor(
         (x - lox) / (CASE WHEN hix > lox THEN hix - lox ELSE 1.0 END)
         * {nb}) AS INT))) AS bx
FROM base JOIN st ON base.event_type = st.event_type
"""


#: rank-corr scratch memo: cache key (the fixture sf_dir) → written
#: parquet path.  The IVF-index precedent (similarity.py): a derived
#: artifact keyed on immutable input is built once per process and
#: re-read after that — re-deriving it per call re-scanned the events
#: table every run for byte-identical output.
_RC_SCRATCH: dict[str, str] = {}


def run_rank_corr(spark: SparkSession, cache_key: str | None = None) -> DataFrame:
    """Execute the Spark rank-corr plan against whatever ``events``
    view is registered (tests register synthetic ones).

    The bucketed base (event_type, x, y, day, bx) has three consumers
    (the ranking windows, the bx histogram, the day histogram).  It is
    materialized ONCE as parquet scratch and the consumers read the
    written files — the same bounded-artifact pattern as the IVF index
    in similarity.py.  Earlier rounds used ``cacheTable`` here; a
    MEMORY_AND_DISK cache of a data-scale relation is itself a
    resource cliff at 100 TB (executor storage memory), while the
    parquet scratch gives the identical single-derivation property
    with disk-bounded footprint, column pruning, and no eviction
    hazard — the narrow 5-column projection is also far smaller than
    the source table.  ``cache_key`` (an immutable input identifier,
    e.g. the fixture dir) additionally memoizes the written scratch
    across calls; synthetic-view callers pass None and re-derive."""
    path = _RC_SCRATCH.get(cache_key) if cache_key else None
    if path is None:
        path = scratch_dir("rank_corr_base") + "/rc_b"
        spark.sql(_rank_corr_base_sql()).write.mode("overwrite").parquet(
            path
        )
        if cache_key:
            _RC_SCRATCH[cache_key] = path
    spark.read.parquet(path).createOrReplaceTempView("rc_b")
    return spark.sql(_rank_corr_sql("spark"))


def q_events_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return run_rank_corr(spark, cache_key=sf_dir)


TOPK_WEIGHTED = 5


def _topk_weighted_sql(dialect: str) -> str:
    """topKWeighted analog: the K heaviest users by exact decimal total
    value (the weight), deterministic tie-break on user id.  ClickHouse
    answers this with a space-saving sketch; at the exact tier the
    engine-portable form is a keyed aggregate + TakeOrderedAndProject
    heap — one shuffle on user_id, never a global sort (the sketch tier
    of the same idea is events_topk_sketch)."""
    return f"""
WITH w AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS weight,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id)
SELECT user_id, weight, n_events
FROM w ORDER BY weight DESC, user_id ASC LIMIT {TOPK_WEIGHTED}
"""


def q_events_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_topk_weighted_sql("spark"))


QUERIES = {
    "events_sum_map": q_events_sum_map,
    "events_topk_weighted": q_events_topk_weighted,
    "events_agg_combinators": q_events_agg_combinators,
    "events_delta_sum": q_events_delta_sum,
    "events_interval_length_sum": q_events_interval_length_sum,
    "events_rank_corr": q_events_rank_corr,
}

ORACLES = {
    "events_sum_map": _sum_map_sql("duckdb"),
    "events_topk_weighted": _topk_weighted_sql("duckdb"),
    "events_agg_combinators": _combinators_sql("duckdb"),
    "events_delta_sum": _delta_sum_sql("duckdb"),
    "events_interval_length_sum": _interval_length_sql("duckdb"),
    "events_rank_corr": _rank_corr_sql("duckdb"),
}
