"""Approximate-nearest-neighbor similarity search over the
``embeddings`` table (SURVEY.md §2.3).

Two tiers:

* brute-force top-k — broadcast the (small) query set against a single
  scan of the corpus; per-query top-k via a partitioned window.  The
  exact baseline; linear per query, embarrassingly parallel, the right
  answer whenever |queries| is small.
* LSH-bucketed top-k — random-hyperplane signatures (seeded, data-
  independent, so signatures are reproducible cluster-wide without a
  fit step); candidates share the query's bucket under multi-probe
  (hamming ≤ 1), then exact cosine re-ranks.  Sublinear scan per query;
  the 100 TB path is: signature once at ingest (map-only), cluster the
  corpus by bucket (one shuffle), probe touches ~(b+1)/2^b of the data.

Scores are rounded to 6 decimals for engine-portable output (see
functions/vectorfns.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clickhouse_vs_dbt_spark.catalog import load_table
from clickhouse_vs_dbt_spark.functions.vectorfns import cosine
from clickhouse_vs_dbt_spark.session import scratch_dir

N_QUERIES = 3  # vec_id 0..2 are the demo query vectors
TOP_K = 5
LSH_BITS = 8
EMBED_DIM = 64


def _query_set(e: DataFrame) -> DataFrame:
    return e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each demo query vector.

    Plan shape: corpus scan ⋈ broadcast(queries) → score → per-query
    window top-k.  The window partitions by query_id (small), so at
    scale prefer per-partition heaps + merge; for a handful of queries
    the shuffle carries only (n_queries × corpus) scored rows' top
    fraction after AQE."""
    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(_query_set(e))
    scored = (
        e.join(q, F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine("query_vec", "embedding"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


O_ANN_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec
           FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(q.query_vec::DOUBLE[], e.embedding::DOUBLE[]) AS cos_sim
  FROM embeddings e JOIN q ON e.vec_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _hyperplanes() -> list[list[float]]:
    """Seeded random hyperplanes — identical on every executor/session,
    so signatures are reproducible without any fitted state."""
    rng = np.random.RandomState(42)
    return rng.randn(LSH_BITS, EMBED_DIM).tolist()


def lsh_bucket(vec_col: str) -> F.Column:
    """Sign-bit bucket id: bit i = [vec · H_i > 0].  Pure Catalyst
    expressions — the hyperplanes fold in as array literals."""
    planes = _hyperplanes()
    bit_exprs = []
    for i, plane in enumerate(planes):
        arr = f"array({', '.join(f'{x}D' for x in plane)})"
        dot = (
            f"aggregate(zip_with(transform({vec_col}, x -> CAST(x AS DOUBLE)), {arr}, "
            f"(x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        )
        bit_exprs.append(f"(CASE WHEN {dot} > 0D THEN {1 << i} ELSE 0 END)")
    return F.expr(" + ".join(bit_exprs))


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5: candidates from the query's
    bucket plus all hamming-1 buckets (multi-probe), exact cosine
    re-rank within candidates.  Oracle-paired (the seeded hyperplanes
    embed as double literals in both engines — _o_ann_lsh); recall vs
    the brute-force baseline is pinned in tests/test_similarity.py."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", lsh_bucket("embedding")
    )
    q = (
        _query_set(e)
        .withColumn("qbucket", lsh_bucket("query_vec"))
        .withColumn(
            "probe",
            F.explode(
                F.array(
                    F.col("qbucket"),
                    *[
                        F.col("qbucket").bitwiseXOR(F.lit(1 << i))
                        for i in range(LSH_BITS)
                    ],
                )
            ),
        )
    )
    scored = (
        e.join(F.broadcast(q), (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")))
        .withColumn("cos_sim", cosine("query_vec", "embedding"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def _o_ann_lsh() -> str:
    """DuckDB replay of the LSH probe: same hyperplane literals (the
    text round-trips to the identical double), same sign-bit bucket,
    same hamming-1 multi-probe, same cosine re-rank."""
    planes = _hyperplanes()
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {plane!r}::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    masks = [0] + [1 << i for i in range(LSH_BITS)]
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
      FROM b WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, qv, xor(qbucket, m.m) AS probe
  FROM q, (SELECT unnest({masks}) AS m) m),
cand AS (
  SELECT p.query_id, p.qv, c.vec_id AS neighbor_id, c.v
  FROM probes p JOIN b c ON c.bucket = p.probe AND c.vec_id != p.query_id),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv, v) AS cos_sim
  FROM cand),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-5, SERVING-PATH spelling:
    the probe list (query_id → cell) is computed against the fitted
    centroids, collected, and shipped back as a tiny broadcast
    relation — the shape of a service where the query set arrives
    from outside the cluster (contrast :func:`q_ann_topk_ivf_exact`,
    which keeps probe selection in-plan end-to-end).

    The quantizer is operators/kmeans.py's deterministic decimal-exact
    Lloyd fit, so the pipeline value-checks against the kmeans_ctes
    DuckDB replay (r6: converted from the rows-only Spark-ML KMeans
    spelling — a seeded ML fit is stable inside Spark but not
    replayable by an independent engine; the pyspark.ml API itself is
    exercised in tests/test_similarity.py).  The 100 TB shape: fit on
    a sample, assignment map-only, each query scans ~NPROBE/K of the
    corpus."""
    from clickhouse_vs_dbt_spark.operators.kmeans import (
        _assign,
        _dist2_expr,
        fit_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    centroids = fit_centroids(spark, sf_dir)
    assigned = _assign(e.select("vec_id", "embedding"), centroids)

    structs = ", ".join(
        f"named_struct('d', {_dist2_expr(c)}, 'c', {k})"
        for k, c in sorted(centroids.items())
    )
    probe_cells = F.expr(
        f"transform(slice(array_sort(array({structs})), 1, {IVF_NPROBE}), s -> s.c)"
    )
    probe_rows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(probe_cells).alias("cluster"),
        )
        .collect()
    )  # |queries| × NPROBE rows — driver-sized serving input by design
    probe_df = spark.createDataFrame(
        [(r.query_id, r.cluster) for r in probe_rows],
        "query_id long, cluster int",
    )

    q = F.broadcast(_query_set(e))
    candidates = assigned.join(F.broadcast(probe_df), "cluster").select(
        "vec_id", "embedding", "query_id"
    )
    scored = (
        candidates.join(q, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine("query_vec", "embedding"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def _centroid_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, pos, c, n) — decimal-exact per-component means.

    ``posexplode`` flattens to (label, pos, component); one keyed
    hash-aggregate computes order-free means (operators/common.py).
    At 100 TB the explode is map-local and the aggregate carries
    labels × dims rows — tiny."""
    from clickhouse_vs_dbt_spark.operators.common import DEC

    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "component")
    )
    # tie-free 6-decimal quantization: floor(x·10⁶ + 0.5)/10⁶ over the
    # IDENTICAL double both engines compute (exact decimal sum ÷
    # count) — round(x, 6) differs between Spark (BigDecimal HALF_UP
    # on the binary expansion) and DuckDB exactly at tie boundaries,
    # which one sf0.1 (label, pos) cell hit (r11)
    mean = (
        F.sum(F.col("component").cast("double").cast(DEC)).cast("double")
        / F.count("component")
    )
    return flat.groupBy("label", "pos").agg(
        (F.floor(mean * 1e6 + F.lit(0.5)) / 1e6).alias("c"),
        F.count("component").alias("n"),
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label component-wise mean embedding — the reduce step of
    IVF/k-means/prototype pipelines, as a pure relational plan.

    Gated (driver-facing) form: one row per (label, pos) with the mean
    component — scalar columns only, so the correctness harness can
    canonicalize it (an array<double> column is unhashable for the
    driver's pandas-based hasher; round-1 ADVICE.md).  The assembled
    array form for API users is :func:`centroids`."""
    return (
        _centroid_components(spark, sf_dir)
        .select("label", "pos", "c", F.col("n").alias("n_vectors"))
        .orderBy("label", "pos")
    )


def centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-form centroids: (label, n_vectors, centroid array<double>),
    reassembled with an ordered ``collect_list`` of (pos, mean) structs
    per label.  Two shuffles total, both on small keys; no Python, no
    fitted state."""
    return (
        _centroid_components(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.first("n").alias("n_vectors"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c"),
            ).alias("centroid"),
        )
        .orderBy("label")
    )


O_CENTROIDS = f"""
WITH flat AS (
  SELECT label, pos - 1 AS pos, embedding[pos] AS component
  FROM embeddings, generate_series(1, {EMBED_DIM}) AS t(pos))
SELECT label, pos,
       floor(CAST(SUM(CAST(CAST(component AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(component) * 1e6 + 0.5) / 1e6 AS c,
       COUNT(component) AS n_vectors
FROM flat GROUP BY label, pos
ORDER BY label, pos
"""


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving
    compression step of an embedding pipeline: scale = 127/max|x|,
    q_i = ⌊x_i·scale + 0.5⌋, plus the reconstruction MSE.

    Engine-portability choices: ``floor(v + 0.5)`` instead of
    ``round()`` (whose half-way tie behavior is not guaranteed to agree
    between engines on doubles), and the MSE summed in DECIMAL(28,18)
    (order-free).  The quantized vector itself is emitted as an md5
    digest of its comma-joined components — scalar, so the driver
    harness canonicalizes it, while still pinning every component.

    Scale shape: pure map-only (one pass per vector, scale bound once
    as a lambda variable — not re-derived per component); at 100 TB
    this runs at scan speed with zero shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    m = "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    qi = "CAST(floor(CAST(x AS DOUBLE) * s + 0.5D) AS INT)"
    term = f"(CAST(x AS DOUBLE) - {qi} / s)"
    packed = (
        f"transform(array(127.0D / {m}), s -> named_struct("
        f"'digest', md5(concat_ws(',', transform(embedding, x -> CAST({qi} AS STRING)))), "
        f"'mse', CAST(aggregate(transform(embedding, "
        f"x -> CAST({term} * {term} AS DECIMAL(28,18))), "
        f"CAST(0 AS DECIMAL(28,18)), (a, t) -> CAST(a + t AS DECIMAL(28,18))) "
        f"AS DOUBLE) / {EMBED_DIM}))[0]"
    )
    return (
        e.filter(F.expr(m) > 0)
        .select(
            "vec_id",
            "label",
            F.round(F.expr(m), 6).alias("max_abs"),
            F.expr(packed).alias("p"),
        )
        .select(
            "vec_id",
            "label",
            "max_abs",
            F.col("p.digest").alias("q_digest"),
            F.round(F.col("p.mse"), 12).alias("mse"),
        )
        .orderBy("vec_id")
    )


O_QUANTIZE = f"""
WITH flat AS (
  SELECT vec_id, label, pos - 1 AS pos, CAST(embedding[pos] AS DOUBLE) AS x
  FROM embeddings, generate_series(1, {EMBED_DIM}) t(pos)),
scaled AS (
  SELECT vec_id, label, MAX(abs(x)) AS m, 127.0 / MAX(abs(x)) AS s
  FROM flat GROUP BY vec_id, label
  HAVING MAX(abs(x)) > 0),
q AS (
  SELECT f.vec_id, f.label, f.pos, s.m, s.s,
         CAST(floor(f.x * s.s + 0.5) AS INT) AS qi,
         (f.x - CAST(floor(f.x * s.s + 0.5) AS INT) / s.s) AS err
  FROM flat f JOIN scaled s USING (vec_id)
  WHERE s.label = f.label)
SELECT vec_id, label, round(ANY_VALUE(m), 6) AS max_abs,
       md5(string_agg(qi::VARCHAR, ',' ORDER BY pos)) AS q_digest,
       round(CAST(SUM(CAST(err * err AS DECIMAL(28,18))) AS DOUBLE)
             / {EMBED_DIM}, 12) AS mse
FROM q GROUP BY vec_id, label
ORDER BY vec_id
"""


# --- deterministic IVF: the value-checked variant ---

IVF_NPROBE = 2


def q_ann_topk_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with a **deterministic quantizer** — the value-checked
    sibling of :func:`q_ann_topk_ivf` (which keeps the Spark-ML KMeans
    to exercise the library API but can only be rows-only-checked).

    The coarse quantizer is operators/kmeans.py's decimal-exact Lloyd
    fit (no RNG, partitioning-independent), so the ENTIRE approximate
    pipeline — fit → corpus assignment → NPROBE probe selection →
    candidate scan → cosine re-rank — replays bit-identically in
    DuckDB.  Same 100 TB shape as the ML variant: centroids are model
    state (a K×dim literal broadcast), assignment is map-only, probes
    prune to ~NPROBE/K of the corpus."""
    from clickhouse_vs_dbt_spark.operators.kmeans import (
        _assign,
        _dist2_expr,
        fit_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    centroids = fit_centroids(spark, sf_dir)
    assigned = _assign(e.select("vec_id", "embedding"), centroids)

    structs = ", ".join(
        f"named_struct('d', {_dist2_expr(c)}, 'c', {k})"
        for k, c in sorted(centroids.items())
    )
    probe_cells = F.expr(
        f"transform(slice(array_sort(array({structs})), 1, {IVF_NPROBE}), s -> s.c)"
    )
    probes = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.explode(probe_cells).alias("cluster"),
        )
    )
    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine("query_vec", "embedding"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def _o_ann_ivf_exact() -> str:
    from clickhouse_vs_dbt_spark.operators.kmeans import DDIST, kmeans_ctes

    return f"""
WITH {kmeans_ctes()},
qdist AS (
  SELECT f.vec_id AS query_id, c.cluster,
         SUM(CAST((f.x - c.c) * (f.x - c.c) AS {DDIST})) AS d
  FROM flat f JOIN cent2 c ON f.pos = c.pos
  WHERE f.vec_id < {N_QUERIES}
  GROUP BY f.vec_id, c.cluster),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT query_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, cluster) AS rn
    FROM qdist)
  WHERE rn <= {IVF_NPROBE}),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           AS cos_sim
  FROM probes p
  JOIN assign3 a ON a.cluster = p.cluster
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings q ON q.vec_id = p.query_id
  WHERE a.vec_id != p.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# --- IVF with a persisted, cell-partitioned index (the 100 TB path) ---

_IVF_INDEX_CACHE: dict[str, tuple[str, dict]] = {}


def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Materialize the corpus→cell assignment ONCE per process per
    scale factor, hive-partitioned by ``cluster`` — IVF's ingest-time
    index build.  At 100 TB this write happens once after the quantizer
    fit (assignment itself is map-only: centroids are plan literals),
    and every subsequent probe reads only its NPROBE cell directories
    via static partition pruning instead of re-scoring the corpus.
    Returns (index path, fitted centroids)."""
    cached = _IVF_INDEX_CACHE.get(sf_dir)
    if cached is None:
        from clickhouse_vs_dbt_spark.operators.kmeans import (
            _assign,
            fit_centroids,
        )

        e = load_table(spark, sf_dir, "embeddings")
        centroids = fit_centroids(spark, sf_dir)
        path = scratch_dir("ivf_index") + "/index"
        (
            _assign(e.select("vec_id", "embedding"), centroids)
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(path)
        )
        cached = (path, centroids)
        _IVF_INDEX_CACHE[sf_dir] = cached
    return cached


def q_ann_topk_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 probing a PERSISTED cell-partitioned index — the
    serving-path sibling of :func:`q_ann_topk_ivf_exact` (same
    deterministic quantizer, same oracle, identical results).

    Where ``ivf_exact`` recomputes assignments inline, this variant
    reads the :func:`_ivf_index` materialization and prunes it to the
    probed cells with a static ``isin`` filter, so the scan's
    ``PartitionFilters`` carry ``cluster IN (...)`` — only NPROBE
    directories per query are opened (asserted in
    tests/test_plans.py).  The probe-cell set is |queries|×NPROBE
    rows of model-adjacent metadata, computed engine-side and
    collected — the same bounded-state category as the centroids
    themselves."""
    from clickhouse_vs_dbt_spark.operators.kmeans import _dist2_expr

    path, centroids = _ivf_index(spark, sf_dir)
    index = spark.read.parquet(path)

    e = load_table(spark, sf_dir, "embeddings")
    structs = ", ".join(
        f"named_struct('d', {_dist2_expr(c)}, 'c', {k})"
        for k, c in sorted(centroids.items())
    )
    probe_cells = F.expr(
        f"transform(slice(array_sort(array({structs})), 1, {IVF_NPROBE}), s -> s.c)"
    )
    qprobe = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            F.explode(probe_cells).alias("cluster"),
        )
    )
    cells = sorted({r.cluster for r in qprobe.select("cluster").collect()})
    pruned = index.filter(F.col("cluster").isin(cells))

    scored = (
        pruned.join(F.broadcast(qprobe), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine("query_vec", "embedding"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


QUERIES = {
    "ann_topk_bruteforce": q_ann_topk_bruteforce,
    "embedding_quantize_int8": q_embedding_quantize_int8,
    "ann_topk_lsh": q_ann_topk_lsh,
    "ann_topk_ivf": q_ann_topk_ivf,
    "ann_topk_ivf_exact": q_ann_topk_ivf_exact,
    "ann_topk_ivf_pruned": q_ann_topk_ivf_pruned,
    "embedding_centroids": q_embedding_centroids,
}

ORACLES = {
    "ann_topk_bruteforce": O_ANN_TOPK,
    "ann_topk_lsh": _o_ann_lsh(),
    "embedding_quantize_int8": O_QUANTIZE,
    "embedding_centroids": O_CENTROIDS,
    "ann_topk_ivf": _o_ann_ivf_exact(),
    "ann_topk_ivf_exact": _o_ann_ivf_exact(),
    # the persisted-index serving path probes the same cells with the
    # same quantizer, so it value-checks against the identical replay
    "ann_topk_ivf_pruned": _o_ann_ivf_exact(),
    # ann_topk_ivf: rows-only (Spark-ML KMeans fitted state is not SQL-
    # expressible; recall pinned vs brute force in tests).  The
    # deterministic-quantizer sibling ann_topk_ivf_exact value-checks
    # the identical IVF pipeline end-to-end.
}
