"""Similarity-search suite: ANN over the embeddings table.

Extension scope (north star): brute-force cosine top-k as the exact
baseline, and an IVF-style bucketed variant as the scale path. Built
on the reference's COSINE_SIMILARITY / COSINE_DISTANCE surface
(/root/reference/src/planner/logical_expr.rs:327-328) generalized to
top-k retrieval.

Scale notes (100 TB): the query set is tiny → captured in the top-k
kernel's closure (functions/vector.py:multi_query_topk_fn); brute
force is then ONE Arrow pass over the corpus emitting Q×k candidates
per partition, merged by a window — no O(n×Q) shuffle and no vector
ever duplicated across the Python channel. The IVF variant prunes
the scan to the query's centroid bucket: corpus partitioned/bucketed
by centroid id at write time means candidate fetch touches one
bucket per query — the classic IVF index expressed as Spark
partitioning.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_similarity,
    knn_join_fn,
    multi_query_range_fn,
    multi_query_topk_fn,
    nearest_centroid_udf,
    pq_adc_topk_fn,
    top_probe_centroids_udf,
)
from ..materialize import at_rest
from .tpch import tables

TOP_K = 5
N_QUERIES = 3  # vec_id < 3 are the query vectors


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


# --------------------------------------------------------------------------
def _topk_merge(partial: DataFrame, k: int) -> DataFrame:
    """Global exact top-k over per-partition candidates: the final merge
    of the two-level top-k. Runs over partitions×Q×k candidate rows
    (KBs at any corpus size) — same tie-break as the partial level."""
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cosine", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("q_id", "rk")
    )


def _brute_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Exact cosine top-k as a two-level merge: one mapInPandas pass
    computes each partition's per-query top-k against the closure-held
    query matrix (functions/vector.py:multi_query_topk_fn), then a
    window merges partitions×Q×k candidates. Each corpus vector crosses
    the Arrow channel ONCE — the previous broadcast-join shape shipped
    it once per query (~51 GB duplicated at 5M docs × 10 queries) and
    shuffled the full n×Q score stream into the top-k window.
    k / n_queries parameterized so the recall gate can evaluate larger
    retrieval sets without a second implementation."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    qrows = e.filter(F.col("vec_id") < n_queries).collect()  # tiny: Q×dim
    fn = multi_query_topk_fn(
        np.array([r.v for r in qrows]), np.array([r.vec_id for r in qrows]), k
    )
    partial = (
        e.filter(F.col("vec_id") >= n_queries)
        .select(F.col("vec_id").alias("n_id"), "v")
        .mapInPandas(fn, "q_id bigint, n_id bigint, cosine double")
    )
    return _topk_merge(partial, k)


def sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: one-Arrow-pass partial top-k → window merge."""
    return _brute_topk(spark, sf_dir)


_COS_SQL = """
    round(
      list_aggregate(list_transform(generate_series(1, length(q.qv)),
                                    i -> q.qv[i] * e.v[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(q.qv, x -> x*x), 'sum'))
         * sqrt(list_aggregate(list_transform(e.v, x -> x*x), 'sum'))), 6)
"""

SIM_BRUTE_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM queries q CROSS JOIN vecs e
  WHERE e.vec_id >= {N_QUERIES}
)
SELECT q_id, n_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
"""


# --------------------------------------------------------------------------
K_CENTROIDS = 32  # fixed centroid budget, independent of corpus size
EMBED_DIM = 64  # embeddings.embedding width (TESTDATA.md contract)


def _seed_centroids(e: DataFrame) -> DataFrame:
    """Deterministic seed centroids: every ceil(n/K)-th vec_id.

    Fixed centroid budget K_CENTROIDS regardless of corpus size: the r4
    scale bench caught the previous vec_id % CONST rule growing
    |centroids| WITH the corpus, making assignment O(n^2/CONST) — 59x
    wall for 10x data. With K fixed, assignment is n*K (linear).
    localCheckpoint: the tiny centroid table is materialized once, so
    the count subquery never re-scans the corpus per downstream use."""
    nrow = e.agg(F.count(F.lit(1)).alias("n_all"))
    mod = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("n_all") / F.lit(K_CENTROIDS)).cast("long"),
    )
    return (
        e.join(F.broadcast(nrow))
        .filter(F.pmod(F.col("vec_id"), mod) == 0)
        .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
        .localCheckpoint()
    )


def _nearest_assign(centroids: DataFrame):
    """Build the one-Arrow-pass assignment kernel from a (tiny) centroid
    DataFrame: collects the K×dim matrix once (K centroids are KBs at
    any corpus scale — the same tiny-side exception as the clusters
    convergence aggregate) and returns fn(df) labeling each vector.

    Each corpus vector crosses the Arrow channel ONCE and meets all K
    centroids inside a single numpy matmul. The previous shape —
    broadcast-join centroids, pairwise-cosine UDF, partial-agg argmax —
    was plan-optimal on the JVM side but pushed n×K duplicated vectors
    through Arrow: 221 s at 5M docs (r5 sf100 sweep) vs ~20 s for this
    kernel. Nondeterministic marks the call so no optimizer rule can
    substitute (and re-evaluate) the UDF into downstream predicates."""
    rows = centroids.collect()
    kernel = nearest_centroid_udf(
        np.array([r.cv for r in rows]), np.array([r.c_id for r in rows])
    ).asNondeterministic()

    def assign(df: DataFrame, out: str = "cluster") -> DataFrame:
        return df.withColumn("_a", kernel(F.col("v"))).select(
            *df.columns,
            F.col("_a.bucket").alias(out),
            F.col("_a.c_cos").alias("c_cos"),
        )

    return assign


def seeded_assignment(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(assigned, centroids): every vector labeled with its nearest seed
    centroid (argmax rounded cosine, tie → min c_id) and that cosine.
    Shared base for sim_kmeans, dedup_semantic, and sim_ivf_topk."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    centroids = _seed_centroids(e)
    assigned = _nearest_assign(centroids)(e)
    return assigned, centroids


def _sqrt_centroids(e: DataFrame) -> DataFrame:
    """Seed centroids with a √n budget: K = max(K_CENTROIDS, ceil(√n)).

    The kNN-GRAPH family's partition (vs the fixed K_CENTROIDS the
    query-side IVF ops keep): those ops do Q·(n/K) work, linear in n
    for any fixed K, but a kNN graph does per-cell PAIRWISE work
    n·(n/K) — with K fixed, cells grow with the corpus and the "sub-
    quadratic" path silently degrades back to n²/const (at 1M vectors,
    K=32 is 3·10¹³ pairs — days). K ∝ √n pins the graph at O(n^1.5)
    and makes the multi-probe cost RATIO vs exact shrink as
    m·P/√n (measured: 0.32× at 50k → 0.07× at 1M for m=3, P=24).
    Assignment stays one n×K Arrow matmul pass (K=1000 at 1M: fine).
    Stride selection mirrors _seed_centroids; the DuckDB oracles use
    the same GREATEST/CEIL/SQRT arithmetic (IEEE-identical)."""
    nrow = e.agg(F.count(F.lit(1)).alias("n_all"))
    k = F.greatest(
        F.lit(K_CENTROIDS).cast("long"),
        F.ceil(F.sqrt(F.col("n_all"))).cast("long"),
    )
    mod = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.col("n_all") / k).cast("long")
    )
    return (
        e.join(F.broadcast(nrow))
        .filter(F.pmod(F.col("vec_id"), mod) == 0)
        .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
        .localCheckpoint()
    )


def _sqrt_assignment(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(assigned, centroids) under the √n centroid budget — the kNN-graph
    family's twin of seeded_assignment (same kernel, bigger K)."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    centroids = _sqrt_centroids(e)
    assigned = _nearest_assign(centroids)(e)
    return assigned, centroids


# Stride selectors for the two centroid budgets: fixed K_CENTROIDS
# (query-side IVF ops — linear Q·n/K work) and √n (the kNN-graph
# family — see _sqrt_centroids for why pairwise work needs K ∝ √n).
_FIXED_STRIDE_SQL = f"""GREATEST(1,
    CAST(CEIL((SELECT COUNT(*) FROM vecs) / {K_CENTROIDS}.0) AS BIGINT))"""

_SQRT_STRIDE_SQL = f"""GREATEST(1, CAST(CEIL(
    (SELECT COUNT(*) FROM vecs) / GREATEST({K_CENTROIDS},
      CEIL(SQRT((SELECT COUNT(*) FROM vecs))))) AS BIGINT))"""


def _build_assigned_ctes(stride_sql: str) -> str:
    """Oracle CTE fragment: vecs → stride-seeded centroids → nearest-
    centroid assignment (rounded-cosine argmax, tie → min c_id) —
    identical semantics to seeded_assignment/_sqrt_assignment."""
    return f"""
vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), centroids AS (
  SELECT vec_id AS c_id, v AS cv FROM vecs
  WHERE vec_id % {stride_sql} = 0
), assigned AS (
  SELECT vec_id, v, cluster, c_cos FROM (
    SELECT e.vec_id, e.v, c.c_id AS cluster,
      round(
        list_aggregate(list_transform(generate_series(1, length(e.v)),
                                      i -> e.v[i] * c.cv[i]), 'sum')
        / (sqrt(list_aggregate(list_transform(e.v, x -> x*x), 'sum'))
           * sqrt(list_aggregate(list_transform(c.cv, x -> x*x), 'sum'))), 6)
        AS c_cos,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round(
          list_aggregate(list_transform(generate_series(1, length(e.v)),
                                        i -> e.v[i] * c.cv[i]), 'sum')
          / (sqrt(list_aggregate(list_transform(e.v, x -> x*x), 'sum'))
             * sqrt(list_aggregate(list_transform(c.cv, x -> x*x), 'sum'))), 6) DESC,
          c.c_id) AS rk
    FROM vecs e CROSS JOIN centroids c
  ) WHERE rk = 1
)"""


# Shared by the kmeans/semantic-dedup oracles (fixed-K budget) and the
# kNN-graph oracles (√n budget) respectively.
_ASSIGNED_CTES = _build_assigned_ctes(_FIXED_STRIDE_SQL)
_SQRT_ASSIGNED_CTES = _build_assigned_ctes(_SQRT_STRIDE_SQL)


def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd step of k-means over the embeddings:
    seed centroids → nearest-centroid assignment → element-wise mean
    update, reporting per-cluster size, mean member cosine, and the
    drift (cosine between seed and updated centroid) — the convergence
    readout an iterative driver loop would monitor.

    Scale shape: assignment is the shared partial-agg argmax (one
    corpus scan, |corpus| rows through one exchange); the Lloyd update
    is 64 F.avg aggregates in the SAME hash aggregate — partial means
    per task, a K×64-value exchange — never a posexplode of the corpus
    (which would shuffle |corpus|×dim rows for the identical result).
    Iterating = re-running assignment against the updated (tiny,
    broadcast) centroid table: each step is one linear pass at 100 TB."""
    assigned, centroids = seeded_assignment(spark, sf_dir)
    # mean_cos sums EXACTLY in integer micro-units: c_cos values are
    # 1e-6 multiples, so their float mean lands ON a .5e-6 rounding
    # boundary for ~1 in 10 clusters and the partial-agg summation tree
    # (which varies with partitioning) flips round(avg,6)'s last digit
    # between runs. An integer SUM is associative — bit-identical for
    # any partitioning and to the oracle's identical integer form.
    micro_sum = F.sum(F.round(F.col("c_cos") * 1e6).cast("long"))
    aggs = [
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            micro_sum.cast("double") / (F.count(F.lit(1)) * F.lit(1e6)), 6
        ).alias("mean_cos"),
    ] + [F.avg(F.col("v")[i]).alias(f"_m{i}") for i in range(EMBED_DIM)]
    stats = assigned.groupBy("cluster").agg(*aggs)
    nv = F.array(*[F.col(f"_m{i}") for i in range(EMBED_DIM)])
    return (
        stats.join(
            F.broadcast(centroids), F.col("cluster") == F.col("c_id")
        )
        .select(
            "cluster",
            "n_members",
            "mean_cos",
            F.round(cosine_similarity(nv, F.col("cv")), 6).alias("drift"),
        )
        .orderBy("cluster")
    )


SIM_KMEANS_SQL = f"""
WITH {_ASSIGNED_CTES},
dims AS (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i),
newc AS (
  SELECT cluster, i, avg(v[i]) AS m
  FROM assigned CROSS JOIN dims GROUP BY 1, 2
), newvec AS (
  SELECT cluster, list(m ORDER BY i) AS nv FROM newc GROUP BY 1
), stats AS (
  -- integer micro-unit sum: exact + order-independent, matches the
  -- Spark side bit-for-bit (see sim_kmeans mean_cos comment)
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         round(CAST(sum(CAST(round(c_cos * 1e6) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1e6), 6) AS mean_cos
  FROM assigned GROUP BY 1
)
SELECT s.cluster, s.n_members, s.mean_cos,
  round(
    list_aggregate(list_transform(generate_series(1, length(n.nv)),
                                  i -> n.nv[i] * c.cv[i]), 'sum')
    / (sqrt(list_aggregate(list_transform(n.nv, x -> x*x), 'sum'))
       * sqrt(list_aggregate(list_transform(c.cv, x -> x*x), 'sum'))), 6)
  AS drift
FROM stats s
JOIN newvec n ON n.cluster = s.cluster
JOIN centroids c ON c.c_id = s.cluster
ORDER BY s.cluster
"""


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: assign every vector to its nearest centroid
    (argmin cosine distance), then answer queries only within the
    query's bucket. Deterministic centroid choice = reproducible
    approximate results, oracle-checkable."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    centroids = _seed_centroids(e)

    # assignment: the one-Arrow-pass matmul kernel (see _nearest_assign)
    # — each vector crosses the Python channel once, argmax over all K
    # centroids happens inside numpy.
    _assign = _nearest_assign(centroids)

    # Assign the (tiny) query set separately: broadcasting a filter of the
    # full-corpus assignment would recompute the whole assignment lineage
    # just to extract N_QUERIES rows — at 100 TB that is a second pass over
    # the corpus. Assigning the pruned query scan costs N_QUERIES rows.
    assigned = _assign(e.filter(F.col("vec_id") >= N_QUERIES), out="bucket")
    queries = _assign(e.filter(F.col("vec_id") < N_QUERIES), out="bucket").select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    scored = (
        F.broadcast(queries)
        .join(assigned, (F.col("bucket") == F.col("qb")) & (F.col("vec_id") >= N_QUERIES))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(cosine_similarity(F.col("qv"), F.col("v")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "n_id", "cosine", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("q_id", "rk")
    )


SIM_IVF_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), centroids AS (
  SELECT vec_id AS c_id, v AS cv FROM vecs
  WHERE vec_id % GREATEST(1,
    CAST(CEIL((SELECT COUNT(*) FROM vecs) / {K_CENTROIDS}.0) AS BIGINT)) = 0
), assigned AS (
  SELECT vec_id, v, bucket FROM (
    SELECT e.vec_id, e.v, c.c_id AS bucket,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round(
          list_aggregate(list_transform(generate_series(1, length(e.v)),
                                        i -> e.v[i] * c.cv[i]), 'sum')
          / (sqrt(list_aggregate(list_transform(e.v, x -> x*x), 'sum'))
             * sqrt(list_aggregate(list_transform(c.cv, x -> x*x), 'sum'))), 6) DESC,
          c.c_id) AS rk
    FROM vecs e CROSS JOIN centroids c
  ) WHERE rk = 1
), queries AS (
  SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM assigned WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL.replace("q.qv", "q.qv").replace("e.v", "e.v")} AS cosine
  FROM queries q JOIN assigned e ON e.bucket = q.qb AND e.vec_id >= {N_QUERIES}
)
SELECT q_id, n_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
"""


# --------------------------------------------------------------------------
LSH_NBITS = 5  # sign-random-projection bits → 2^5 buckets


def _plane_dot(v, p: int, dim: int = 64):
    """Dot product of v with deterministic pseudo-random hyperplane p:
    component i is ((p*31 + i*17) mod 7) - 3 ∈ [-3, 3] — integer
    arithmetic both engines reproduce exactly.

    Expanded to an explicit per-element sum rather than
    F.aggregate(F.transform(...)): higher-order-function lambdas are
    INTERPRETED per element (measured 23 s of sim_lsh_topk's 26 s at
    500k vectors — ~4.6 µs per element), while GetArrayItem/cast/
    multiply/add chains stay inside whole-stage codegen (bucket pass
    2.3 s at the same scale). The sum is left-associative exactly like
    the sequential fold it replaces (same float result bit-for-bit;
    starting at 0.0 + x0 preserves the fold's -0.0 normalization), so
    the DuckDB oracle (list_aggregate sequential sum) still matches.
    Zero-weight terms (w == 0) are dropped: x + 0.0*v[i] == x for
    every v[i] the generator produces (finite floats)."""
    out = F.lit(0.0)
    for i in range(dim):
        w = ((p * 31 + i * 17) % 7) - 3
        if w == 0:
            continue
        out = out + F.element_at(v, i + 1).cast("double") * F.lit(w)
    return out


def _plane_dot_hof(v, p: int):
    """Same plane dot as a higher-order-function fold: F.aggregate is
    INTERPRETED per element (~4.6 µs/element measured), but it carries
    none of the ~60-term expression's per-executor codegen-compile
    fixed cost. Bit-identical to _plane_dot: the fold visits every i
    left-to-right from 0.0, and x + 0.0*v[i] == x for finite floats, so
    including the zero-weight terms the chain drops changes nothing."""
    return F.aggregate(
        F.transform(
            v,
            lambda x, i: x.cast("double")
            * ((F.lit(p * 31) + i * 17) % 7 - 3).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Below this many corpus BYTES the interpreted HOF bucket wins: the
# codegen chain's fixed cost (JIT-compiling 5 × ~55-term projections on
# every executor) tripled sim_lsh_topk at sf0.1 (0.58 → 1.73 s,
# BENCH_r05) while paying off only ≥100k vectors (37 → 7-15 s at 500k,
# BENCH_SCALE r5). 64 MB of embedding parquet ≈ 120k 64-dim vectors.
_LSH_CODEGEN_MIN_BYTES = 64 << 20


def _lsh_bucket(v, hof: bool = False):
    """v: the RAW (float) embedding array — casts happen inline per
    element inside the codegen'd _plane_dot expansion (or the
    interpreted HOF fold when ``hof`` — small corpora, same values)."""
    dot = _plane_dot_hof if hof else _plane_dot
    bits = [
        F.when(F.round(dot(v, p), 6) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        for p in range(LSH_NBITS)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once IVF index at rest: the assigned corpus written
    partitionBy(bucket) — one directory per centroid bucket. The
    serving path's partition pruning then touches ONLY the queried
    buckets' files (1/K of the corpus per query), which is the entire
    point of IVF as a storage layout rather than a per-query
    computation."""

    def build(path: str) -> None:
        assigned, _ = seeded_assignment(spark, sf_dir)
        (
            assigned.filter(F.col("vec_id") >= N_QUERIES)
            .select("vec_id", "v", F.col("cluster").alias("bucket"))
            .write.partitionBy("bucket")
            .parquet(path)
        )

    return at_rest("ivf_index", sf_dir, ("embeddings",), build)


def sim_ivf_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from a persisted index: the corpus lives
    partitioned by centroid bucket on disk (built once by
    _ivf_index_dir); each query reads ONLY its bucket's partition
    directories — static partition pruning at the scan, pinned in
    tests — then the one-Arrow-pass top-k kernel scores candidates
    with per-query bucket masks. Same results as sim_ivf_topk (same
    oracle); the difference is WHERE the pruning happens: at the
    storage layout (1/K of the files read) instead of a runtime
    filter over a full scan. At 100 TB this is the build-once/
    query-many serving shape — index build cost amortizes across
    every query batch."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    centroids = _seed_centroids(e)
    qrows = (
        _nearest_assign(centroids)(e.filter(F.col("vec_id") < N_QUERIES), out="qb")
        .select("vec_id", "v", "qb")
        .collect()
    )
    probe = {int(r.vec_id): {int(r.qb)} for r in qrows}
    idx = spark.read.parquet(_ivf_index_dir(spark, sf_dir))
    pruned = idx.filter(
        F.col("bucket").isin(sorted({b for s in probe.values() for b in s}))
    )
    fn = multi_query_topk_fn(
        np.array([r.v for r in qrows]),
        np.array([r.vec_id for r in qrows]),
        TOP_K,
        probe_buckets=probe,
    )
    partial = pruned.select(
        F.col("vec_id").alias("n_id"), "v", F.col("bucket").cast("long").alias("bucket")
    ).mapInPandas(fn, "q_id bigint, n_id bigint, cosine double")
    return _topk_merge(partial, TOP_K)


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: sign-random-projection (SRP) sketch →
    bucket → exact cosine within the query's bucket AND every bucket
    one bit-flip away (the standard multi-probe extension — a near
    neighbor that lands just across one hyperplane is still found).

    Scale notes (100 TB): the sketch is map-only (integer hyperplanes,
    no model state). The multi-probe candidate rule (bucket within one
    bit-flip of the query's) is evaluated inside the one-Arrow-pass
    top-k kernel against the closure-held probe sets — never an O(n²)
    cross join, and no corpus vector duplicated per probe. More bits →
    smaller buckets → higher precision; more probes → higher recall at
    the same plan shape (recall measured by sim_recall_eval).
    """
    return _lsh_topk(spark, sf_dir)


def _lsh_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """Candidate rule (bucket ∈ query's multi-probe set) evaluated
    INSIDE the one-Arrow-pass top-k kernel: the SRP sketch stays a
    map-side codegen expression, but scoring no longer duplicates a
    corpus vector per matching probe through the Python channel — each
    vector crosses Arrow once with its bucket id, and the kernel masks
    per query before the partial top-k. Same candidate set and
    tie-break as the bucket-equality join it replaces."""
    from ..sources.registry import table_bytes

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # unknown size → the codegen chain: the HOF fold is the one that
    # goes slow at scale, the chain only pays a fixed compile cost
    corpus_bytes = table_bytes(sf_dir, "embeddings")
    hof = corpus_bytes is not None and corpus_bytes < _LSH_CODEGEN_MIN_BYTES
    e = embeddings.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        _lsh_bucket(F.col("embedding"), hof=hof).cast("long").alias("bucket"),
    )
    qrows = e.filter(F.col("vec_id") < n_queries).collect()  # tiny: Q×dim
    probe_buckets = {
        int(r.vec_id): {int(r.bucket)}
        | {int(r.bucket) ^ (1 << p) for p in range(LSH_NBITS)}
        for r in qrows
    }
    fn = multi_query_topk_fn(
        np.array([r.v for r in qrows]),
        np.array([r.vec_id for r in qrows]),
        k,
        probe_buckets,
    )
    partial = (
        e.filter(F.col("vec_id") >= n_queries)
        .select(F.col("vec_id").alias("n_id"), "v", "bucket")
        .mapInPandas(fn, "q_id bigint, n_id bigint, cosine double")
    )
    return _topk_merge(partial, k)


def _lsh_bucket_sql(rel: str) -> str:
    terms = []
    for p in range(LSH_NBITS):
        dot = (
            f"list_aggregate(list_transform(generate_series(1, length({rel}.v)), "
            f"i -> {rel}.v[i] * ((({p}*31 + (i-1)*17) % 7) - 3)), 'sum')"
        )
        terms.append(f"(CASE WHEN round({dot}, 6) >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_PROBES_SQL = (
    "unnest([qb] || list_transform(generate_series(0, "
    f"{LSH_NBITS - 1}), p -> xor(qb, (1 << p))))"
)

SIM_LSH_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), b AS (
  SELECT vec_id, v, {_lsh_bucket_sql('vecs')} AS bucket FROM vecs
), queries AS (
  SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM b WHERE vec_id < {N_QUERIES}
), probes AS (
  SELECT q_id, qv, {_PROBES_SQL} AS probe FROM queries
), scored AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM probes q JOIN b e ON e.bucket = q.probe AND e.vec_id >= {N_QUERIES}
)
SELECT q_id, n_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
"""


# --------------------------------------------------------------------------
RECALL_KS = (5, 20)  # recall@5 and recall@20
RECALL_N_QUERIES = 10  # evaluation query count (> the demo query set)


def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{5,20} of the LSH ANN against the exact brute-force top-k
    over RECALL_N_QUERIES queries — the standard quality gate before an
    approximate index replaces exact retrieval in a pipeline. Larger k
    and query count than the demo retrievals so the gate measures tail
    behavior, not just the easy head.

    Both retrieval passes are deterministic (fixed tie-break on
    (cosine DESC, n_id)), so recall is an exact, reproducible number.
    Each pass runs ONCE at k = max(RECALL_KS); smaller-k recalls are
    derived by rank filtering — no extra corpus scans per k. Scale: the
    eval join runs on the two top-k result sets (|queries|×k rows
    each) — its cost is independent of corpus size."""
    kmax = max(RECALL_KS)
    exact = _brute_topk(spark, sf_dir, kmax, RECALL_N_QUERIES).select(
        "q_id", "n_id", F.col("rk").alias("rk_e")
    )
    ann = _lsh_topk(spark, sf_dir, kmax, RECALL_N_QUERIES).select(
        "q_id", "n_id", F.col("rk").alias("rk_a")
    )
    # materialize the (tiny, |queries|*kmax-row) joined rank table once:
    # the per-k branches below each reference it, and without the
    # checkpoint EVERY branch re-runs BOTH corpus kernel passes
    # (4 MapInPandas — measured, 2x the corpus scans at 5M docs)
    j = exact.join(ann, ["q_id", "n_id"], "left").localCheckpoint()
    parts = []
    for k in RECALL_KS:
        parts.append(
            j.filter(F.col("rk_e") <= k)
            .groupBy("q_id")
            .agg(
                F.round(
                    F.sum(
                        F.when(F.col("rk_a") <= k, 1).otherwise(0)
                    ).cast("double")
                    / F.lit(float(k)),
                    6,
                ).alias("recall_at_k")
            )
            .withColumn("k", F.lit(k).cast("bigint"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("k", "q_id", "recall_at_k").orderBy("k", "q_id")


SIM_RECALL_EVAL_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), b AS (
  SELECT vec_id, v, {_lsh_bucket_sql('vecs')} AS bucket FROM vecs
), queries AS (
  SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM b
  WHERE vec_id < {RECALL_N_QUERIES}
), scored_exact AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM queries q CROSS JOIN b e
  WHERE e.vec_id >= {RECALL_N_QUERIES}
), exact AS (
  SELECT q_id, n_id, rk AS rk_e FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored_exact
  ) WHERE rk <= {max(RECALL_KS)}
), probes AS (
  SELECT q_id, qv, {_PROBES_SQL} AS probe FROM queries
), scored_ann AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM probes q JOIN b e ON e.bucket = q.probe AND e.vec_id >= {RECALL_N_QUERIES}
), ann AS (
  SELECT q_id, n_id, rk AS rk_a FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored_ann
  ) WHERE rk <= {max(RECALL_KS)}
), ks AS (
  SELECT unnest([{", ".join(str(k) for k in RECALL_KS)}]) AS k
)
SELECT CAST(ks.k AS BIGINT) AS k, e.q_id,
  round(CAST(SUM(CASE WHEN a.rk_a <= ks.k THEN 1 ELSE 0 END) AS DOUBLE)
        / ks.k, 6) AS recall_at_k
FROM ks
JOIN exact e ON e.rk_e <= ks.k
LEFT JOIN ann a ON a.q_id = e.q_id AND a.n_id = e.n_id
GROUP BY ks.k, e.q_id
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings + reconstruction-error
    report — the storage-compression pass an embedding corpus gets
    before ANN serving (4× smaller, dot products in integer ops).

    Per vector: scale = max|v| / 127, q_i = round(v_i / scale),
    rmse = sqrt(mean((v_i - q_i*scale)^2)). Map-only, no shuffle, all
    higher-order array functions in codegen."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.filter(F.col("vec_id") < 100).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    e = e.withColumn("scale", amax / F.lit(127.0))
    q = F.transform(F.col("v"), lambda x: F.round(x / F.col("scale")))
    err = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("v"),
                q,
                lambda x, qi: (x - qi * F.col("scale")) * (x - qi * F.col("scale")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size(F.col("v"))
    )
    n_sat = F.size(F.filter(q, lambda qi: F.abs(qi) >= 127))
    # round in a SECOND select: aliasing the rounded value as "scale" in
    # the same list would capture err's scale reference via Spark's
    # lateral column alias resolution (rounded scale → wrong rmse)
    raw = e.select(
        "vec_id", "scale", err.alias("rmse_raw"), n_sat.cast("bigint").alias("n_saturated")
    )
    return raw.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        F.round(F.col("rmse_raw"), 6).alias("rmse"),
        "n_saturated",
    ).orderBy("vec_id")


SIM_QUANTIZE_INT8_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 100
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, v, scale, list_transform(v, x -> round(x / scale)) AS qv
  FROM s
)
SELECT vec_id, round(scale, 6) AS scale,
  round(sqrt(list_aggregate(
      list_transform(generate_series(1, length(v)),
                     i -> (v[i] - qv[i] * scale) * (v[i] - qv[i] * scale)),
      'sum') / length(v)), 6) AS rmse,
  CAST(length(list_filter(qv, x -> abs(x) >= 127)) AS BIGINT) AS n_saturated
FROM q ORDER BY vec_id
"""


# --------------------------------------------------------------------------
def sim_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity distribution over sampled pairs — corpus
    diagnostics (embedding collapse / duplication detection)."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    s = e.filter(F.col("vec_id") < 80)
    a, b = s.alias("a"), s.alias("b")
    cos = cosine_similarity(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.floor(F.round(cos, 6) * 10).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


SIM_PAIR_HISTOGRAM_SQL = """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 80
)
SELECT CAST(floor(round(
    list_aggregate(list_transform(generate_series(1, length(a.v)),
                                  i -> a.v[i] * b.v[i]), 'sum')
    / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
       * sqrt(list_aggregate(list_transform(b.v, x -> x*x), 'sum'))), 6) * 10)
  AS BIGINT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n
FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
K_PQ = 16  # codewords per subspace (fixed budget, like K_CENTROIDS)
PQ_M = 8  # subspaces: 64 dims → 8 sub-vectors of 8 dims → 8 bytes/vector


def _pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    normalize: bool = False,
) -> DataFrame:
    """Shared PQ/ADC retrieval (see sim_ivf_pq_topk). k / n_queries /
    normalize parameterized so the recall gate can evaluate a larger,
    cosine-comparable retrieval set without a second implementation."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    corpus = e.filter(F.col("vec_id") >= n_queries)
    nrow = corpus.agg(F.count(F.lit(1)).alias("n_all"))
    mod = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("n_all") / F.lit(K_PQ)).cast("long"),
    )
    cw = (
        corpus.join(F.broadcast(nrow))
        .filter(F.pmod(F.col("vec_id"), mod) == 0)
        .select("vec_id", "v")
        .collect()
    )
    qrows = e.filter(F.col("vec_id") < n_queries).collect()
    fn = pq_adc_topk_fn(
        np.array([r.v for r in cw]),
        np.array([r.vec_id for r in cw]),
        np.array([r.v for r in qrows]),
        np.array([r.vec_id for r in qrows]),
        k,
        PQ_M,
        normalize=normalize,
    )
    partial = corpus.select(F.col("vec_id").alias("n_id"), "v").mapInPandas(
        fn, "q_id bigint, n_id bigint, adc double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("n_id"))
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "adc", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("q_id", "rk")
    )


def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC scan): each corpus vector is
    quantized to PQ_M codeword ids (nearest codeword per 8-dim
    subspace, deterministic seeded codebook) and queries score vectors
    by summing precomputed query·codeword sub-dot-products — never
    touching the original floats at query time.

    Scale shape (the 100 TB ANN storage lever): codes are PQ_M bytes
    per vector — a 32× smaller corpus than float32 — and the scan is
    the same one-Arrow-pass two-level top-k as sim_brute_topk
    (functions/vector.py:pq_adc_topk_fn fuses quantize + ADC + partial
    top-k; Q×k candidate rows per partition reach the merge window).
    The codebook is a fixed K_PQ budget independent of corpus size —
    same lesson as K_CENTROIDS (the r4 IVF O(n^2) bug)."""
    return _pq_topk(spark, sf_dir)


_PQ_SUB = 64 // PQ_M

SIM_IVF_PQ_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), corpus AS (
  SELECT vec_id, v FROM vecs WHERE vec_id >= {N_QUERIES}
), cw AS (
  SELECT vec_id AS c_id, v AS cv FROM corpus
  WHERE vec_id % GREATEST(1,
    CAST(CEIL((SELECT COUNT(*) FROM corpus) / {K_PQ}.0) AS BIGINT)) = 0
), sub AS (
  SELECT unnest(range({PQ_M})) AS m
), codes AS (
  SELECT vec_id, m, c_id FROM (
    SELECT e.vec_id, s.m, c.c_id,
      row_number() OVER (
        PARTITION BY e.vec_id, s.m
        ORDER BY round(list_aggregate(
          list_transform(generate_series(1, {_PQ_SUB}),
            i -> (e.v[s.m*{_PQ_SUB}+i] - c.cv[s.m*{_PQ_SUB}+i])
               * (e.v[s.m*{_PQ_SUB}+i] - c.cv[s.m*{_PQ_SUB}+i])), 'sum'), 6) ASC,
        c.c_id) AS rk
    FROM corpus e CROSS JOIN sub s CROSS JOIN cw c
  ) WHERE rk = 1
), queries AS (
  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.q_id, cd.vec_id AS n_id,
    round(SUM(list_aggregate(
      list_transform(generate_series(1, {_PQ_SUB}),
        i -> q.qv[cd.m*{_PQ_SUB}+i] * c.cv[cd.m*{_PQ_SUB}+i]), 'sum')), 6) AS adc
  FROM codes cd JOIN cw c ON cd.c_id = c.c_id CROSS JOIN queries q
  GROUP BY q.q_id, cd.vec_id
)
SELECT q_id, n_id, adc, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
"""


TRUNC_DIM = 16  # truncated prefix dimensions (Matryoshka-style)


def sim_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval gate: recall of
    top-k using only the first TRUNC_DIM of 64 dimensions against the
    full-dimension exact top-k. Modern embedding models are trained so
    prefixes remain usable (Kusupati et al. 2022) — a 4x cheaper scan
    and index if recall holds; this gate measures exactly that before
    an index is built at reduced width. Same two-level kernel on the
    sliced vectors; eval join on Q x k rank tables (one pass per
    kernel via the localCheckpoint pattern). Reads low here
    (~0.26@20) for the same reason as sim_pq_recall: a 16-dim prefix
    of a near-isotropic synthetic vector keeps 1/4 of the variance;
    MRL-trained real models front-load it — which is what the gate
    measures."""
    kmax = max(RECALL_KS)
    exact = _brute_topk(spark, sf_dir, kmax, RECALL_N_QUERIES).select(
        "q_id", "n_id", F.col("rk").alias("rk_e")
    )
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id",
        F.slice(_as_double(F.col("embedding")), 1, TRUNC_DIM).alias("v"),
    )
    qrows = e.filter(F.col("vec_id") < RECALL_N_QUERIES).collect()
    fn = multi_query_topk_fn(
        np.array([r.v for r in qrows]), np.array([r.vec_id for r in qrows]), kmax
    )
    ann = (
        e.filter(F.col("vec_id") >= RECALL_N_QUERIES)
        .select(F.col("vec_id").alias("n_id"), "v")
        .mapInPandas(fn, "q_id bigint, n_id bigint, cosine double")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "n_id")
    ann = (
        ann.withColumn("rk_a", F.row_number().over(w))
        .filter(F.col("rk_a") <= kmax)
        .select("q_id", "n_id", "rk_a")
    )
    j = exact.join(ann, ["q_id", "n_id"], "left").localCheckpoint()
    parts = []
    for k in RECALL_KS:
        parts.append(
            j.filter(F.col("rk_e") <= k)
            .groupBy("q_id")
            .agg(
                F.round(
                    F.sum(F.when(F.col("rk_a") <= k, 1).otherwise(0)).cast("double")
                    / F.lit(float(k)),
                    6,
                ).alias("recall_at_k")
            )
            .withColumn("k", F.lit(k).cast("bigint"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("k", "q_id", "recall_at_k").orderBy("k", "q_id")


SIM_TRUNCATED_RECALL_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < {RECALL_N_QUERIES}
), scored_exact AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM queries q CROSS JOIN vecs e
  WHERE e.vec_id >= {RECALL_N_QUERIES}
), exact AS (
  SELECT q_id, n_id, rk AS rk_e FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored_exact
  ) WHERE rk <= {max(RECALL_KS)}
), tvecs AS (
  SELECT vec_id, v[1:{TRUNC_DIM}] AS v FROM vecs
), tqueries AS (
  SELECT vec_id AS q_id, v AS qv FROM tvecs WHERE vec_id < {RECALL_N_QUERIES}
), scored_t AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM tqueries q CROSS JOIN tvecs e
  WHERE e.vec_id >= {RECALL_N_QUERIES}
), ann AS (
  SELECT q_id, n_id, rk AS rk_a FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored_t
  ) WHERE rk <= {max(RECALL_KS)}
), ks AS (
  SELECT unnest([{", ".join(str(k) for k in RECALL_KS)}]) AS k
)
SELECT CAST(ks.k AS BIGINT) AS k, e.q_id,
  round(CAST(SUM(CASE WHEN a.rk_a <= ks.k THEN 1 ELSE 0 END) AS DOUBLE)
        / ks.k, 6) AS recall_at_k
FROM ks
JOIN exact e ON e.rk_e <= ks.k
LEFT JOIN ann a ON a.q_id = e.q_id AND a.n_id = e.n_id
GROUP BY ks.k, e.q_id
ORDER BY 1, 2
"""


def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{5,20} of the PQ/ADC index against exact brute-force
    cosine over RECALL_N_QUERIES queries — the quality gate that says
    whether 8-byte codes can replace the float corpus for retrieval.

    Vectors are L2-normalized before quantization (kernel-side, same
    sequential fold as the oracle) so the ADC score approximates
    COSINE and the comparison against the exact-cosine ground truth is
    apples-to-apples; the exact side ranks raw cosines (normalization
    doesn't change cosine order). Both passes are deterministic, so
    recall is an exact, reproducible number; the eval join runs over
    two |queries|×k result sets — cost independent of corpus size.

    Expected-low note: this synthetic corpus is near-isotropic (high
    intrinsic dimension), the regime where 8-byte PQ structurally
    loses rank information — measured recall@20 here is ~0.26-0.55
    across codebook sizes 16-128 and up to 3 Lloyd refinements
    (offline sweep, HISTORY.md). Real embedding corpora concentrate on
    low-dimensional manifolds where the same codes keep recall high;
    the gate exists precisely to measure that before an index swap,
    and a LOW number on THIS corpus is the gate working."""
    kmax = max(RECALL_KS)
    exact = _brute_topk(spark, sf_dir, kmax, RECALL_N_QUERIES).select(
        "q_id", "n_id", F.col("rk").alias("rk_e")
    )
    ann = _pq_topk(spark, sf_dir, kmax, RECALL_N_QUERIES, normalize=True).select(
        "q_id", "n_id", F.col("rk").alias("rk_a")
    )
    # same one-pass materialization as sim_recall_eval (see note there)
    j = exact.join(ann, ["q_id", "n_id"], "left").localCheckpoint()
    parts = []
    for k in RECALL_KS:
        parts.append(
            j.filter(F.col("rk_e") <= k)
            .groupBy("q_id")
            .agg(
                F.round(
                    F.sum(
                        F.when(F.col("rk_a") <= k, 1).otherwise(0)
                    ).cast("double")
                    / F.lit(float(k)),
                    6,
                ).alias("recall_at_k")
            )
            .withColumn("k", F.lit(k).cast("bigint"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("k", "q_id", "recall_at_k").orderBy("k", "q_id")


SIM_PQ_RECALL_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < {RECALL_N_QUERIES}
), scored_exact AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM queries q CROSS JOIN vecs e
  WHERE e.vec_id >= {RECALL_N_QUERIES}
), exact AS (
  SELECT q_id, n_id, rk AS rk_e FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored_exact
  ) WHERE rk <= {max(RECALL_KS)}
), nvecs AS (
  SELECT vec_id,
    list_transform(v, x -> x / sqrt(list_aggregate(
        list_transform(v, y -> y*y), 'sum'))) AS v
  FROM vecs
), corpus AS (
  SELECT vec_id, v FROM nvecs WHERE vec_id >= {RECALL_N_QUERIES}
), cw AS (
  SELECT vec_id AS c_id, v AS cv FROM corpus
  WHERE vec_id % GREATEST(1,
    CAST(CEIL((SELECT COUNT(*) FROM corpus) / {K_PQ}.0) AS BIGINT)) = 0
), sub AS (
  SELECT unnest(range({PQ_M})) AS m
), codes AS (
  SELECT vec_id, m, c_id FROM (
    SELECT e.vec_id, s.m, c.c_id,
      row_number() OVER (
        PARTITION BY e.vec_id, s.m
        ORDER BY round(list_aggregate(
          list_transform(generate_series(1, {_PQ_SUB}),
            i -> (e.v[s.m*{_PQ_SUB}+i] - c.cv[s.m*{_PQ_SUB}+i])
               * (e.v[s.m*{_PQ_SUB}+i] - c.cv[s.m*{_PQ_SUB}+i])), 'sum'), 6) ASC,
        c.c_id) AS rk
    FROM corpus e CROSS JOIN sub s CROSS JOIN cw c
  ) WHERE rk = 1
), nqueries AS (
  SELECT vec_id AS q_id, v AS qv FROM nvecs WHERE vec_id < {RECALL_N_QUERIES}
), scored_pq AS (
  SELECT q.q_id, cd.vec_id AS n_id,
    round(SUM(list_aggregate(
      list_transform(generate_series(1, {_PQ_SUB}),
        i -> q.qv[cd.m*{_PQ_SUB}+i] * c.cv[cd.m*{_PQ_SUB}+i]), 'sum')), 6) AS adc
  FROM codes cd JOIN cw c ON cd.c_id = c.c_id CROSS JOIN nqueries q
  GROUP BY q.q_id, cd.vec_id
), ann AS (
  SELECT q_id, n_id, rk AS rk_a FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rk
    FROM scored_pq
  ) WHERE rk <= {max(RECALL_KS)}
), ks AS (
  SELECT unnest([{", ".join(str(k) for k in RECALL_KS)}]) AS k
)
SELECT CAST(ks.k AS BIGINT) AS k, e.q_id,
  round(CAST(SUM(CASE WHEN a.rk_a <= ks.k THEN 1 ELSE 0 END) AS DOUBLE)
        / ks.k, 6) AS recall_at_k
FROM ks
JOIN exact e ON e.rk_e <= ks.k
LEFT JOIN ann a ON a.q_id = e.q_id AND a.n_id = e.n_id
GROUP BY ks.k, e.q_id
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
RANGE_TAU = 0.2  # cosine radius — ~30 matches/query on the isotropic corpus


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RADIUS search: every corpus vector with cosine ≥ RANGE_TAU of a
    query — the retrieval mode dedup/recall audits need when "top-k"
    truncates (give me EVERYTHING closer than τ).

    Scale shape: same one-Arrow-pass kernel family as sim_brute_topk
    (functions/vector.py:multi_query_range_fn) — queries live in the
    kernel closure, each corpus vector crosses the Python channel once,
    and the filter runs INSIDE the kernel so the downstream stream is
    match-sized (selectivity-bounded), not corpus-sized. No shuffle
    until the final presentation sort. The threshold compares the
    6-dp-rounded cosine on both sides, so inclusion is engine-portable.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    qrows = e.filter(F.col("vec_id") < N_QUERIES).collect()  # tiny: Q×dim
    fn = multi_query_range_fn(
        np.array([r.v for r in qrows]), np.array([r.vec_id for r in qrows]), RANGE_TAU
    )
    return (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .select(F.col("vec_id").alias("n_id"), "v")
        .mapInPandas(fn, "q_id bigint, n_id bigint, cosine double")
        .orderBy("q_id", "n_id")
    )


SIM_RANGE_SEARCH_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < {N_QUERIES}
)
SELECT q_id, n_id, cosine FROM (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM queries q CROSS JOIN vecs e
  WHERE e.vec_id >= {N_QUERIES}
)
WHERE cosine >= {RANGE_TAU}
ORDER BY q_id, n_id
"""


# labels admitted by the filtered-ANN predicate (~30% of the corpus)
FILTER_LABELS = (1, 4, 7)


def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN — metadata predicate + vector top-k, the canonical
    vector-database workload ("nearest docs WHERE label IN ..."). This
    is PRE-filtering: the predicate rides the parquet scan (pushed
    filter, ~30 % selectivity here), and only survivors cross the Arrow
    channel into the exact top-k kernel — so the answer is exact top-k
    AMONG eligible vectors, with cost proportional to the filtered
    corpus. Graph-index ANN systems struggle here (filtering breaks
    graph connectivity); a scan-based engine gets it for free, and at
    100 TB the same plan rides partition pruning when the corpus is
    partitioned by the filter column.

    Scale shape: identical to sim_brute_topk (one Arrow pass, two-level
    top-k merge) on the filtered stream; the filter is JVM-side,
    codegen, before the Python boundary.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    qrows = e.filter(F.col("vec_id") < N_QUERIES).collect()  # tiny: Q×dim
    fn = multi_query_topk_fn(
        np.array([r.v for r in qrows]), np.array([r.vec_id for r in qrows]), TOP_K
    )
    partial = (
        e.filter(
            (F.col("vec_id") >= N_QUERIES) & F.col("label").isin(*FILTER_LABELS)
        )
        .select(F.col("vec_id").alias("n_id"), "v")
        .mapInPandas(fn, "q_id bigint, n_id bigint, cosine double")
    )
    return _topk_merge(partial, TOP_K)


SIM_FILTERED_TOPK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, v AS qv FROM vecs WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.q_id, e.vec_id AS n_id, {_COS_SQL} AS cosine
  FROM queries q CROSS JOIN vecs e
  WHERE e.vec_id >= {N_QUERIES}
    AND e.label IN {FILTER_LABELS}
)
SELECT q_id, n_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
"""


# --------------------------------------------------------------------------
KNN_JOIN_K = 3

# The multi-probe (m, P) operating point: index each vector in its m
# nearest cells (the standard IVF build trick — candidates become
# reachable from m directions) and probe the query's P nearest cells.
# Measured on the hash-random 50k corpus (near-worst-case data: cosine
# σ = 1/√dim, no cluster structure): recall@3 0.86 at 0.32× the exact
# join's pairs — and the ratio shrinks as m·P/√n with the √n centroid
# budget (0.07× at 1M). (m=1, P=4, fixed K) was the r7 point: 0.433.
#
# MEASURED at 1M vectors (r9, sampled exact ground truth — data/
# exp_recall_1m_r9.json): P=24 → 0.708 (r8's √2-rule extrapolation
# said ~0.69), P=48 → 0.858, P=64 → 0.906, P=128 → 0.977; single-probe
# 0.052. The "grow P ~√2 per corpus doubling to hold recall" rule is
# CONFIRMED by direct measurement: recall ≥ 0.85 needs P≈48 at 1M
# (cost ratio vs exact stays m·P/√n ≈ 0.14 — still shrinking). P stays
# 24 as the shipping default (the 50k-tuned point); consumers at
# larger corpora turn the dial per the measured curve.
KNN_IDX_PROBES = 3
KNN_QUERY_PROBES = 24


def _knn_join(
    spark: SparkSession,
    sf_dir: str,
    grid: tuple[int, int] | None = None,
    k: int = KNN_JOIN_K,
    ordered: bool = True,
) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    if grid is None:
        # the row count comes from the parquet FOOTER (zero Spark
        # jobs); the count() fallback only fires for non-parquet inputs
        from ..sources.registry import table_rows

        nl = nr = _grid_blocks(table_rows(sf_dir, "embeddings") or e.count())
    else:
        nl, nr = grid
    return _knn_join_frames(e, e, nl, nr, k=k, ordered=ordered)


def _grid_blocks(n_rows: int) -> int:
    """Blocks per grid side for ~5k rows/block. The kernel's work is
    O(cell_left × cell_right) PAIRS, so the grid is sized by ROWS, not
    bytes (a bytes gate at 64 MB puts ~1e10 pairs in one task): ≤ ~5k
    rows per side → ≤ 2.5e7 pairs ≈ 3e9 flops ≈ seconds per cell, and
    B² cells saturate the cluster. Capped at 64: exact all-pairs k-NN
    is quadratic by nature, so past that the total work (not the grid)
    is the problem and sim_ivf_* / sim_lsh_topk are the sub-quadratic
    paths. Toy scale collapses to a 1×1 grid, the same gate philosophy
    as operators/rank.py."""
    return int(max(1, min(-(-n_rows // 5000), 64)))


def _knn_join_frames(
    lhs: DataFrame,
    rhs: DataFrame,
    nl: int,
    nr: int,
    k: int = KNN_JOIN_K,
    ordered: bool = True,
) -> DataFrame:
    """Blocked-grid exact kNN join of two (vec_id, v) frames — the
    shared engine of the self-join (sim_knn_join) and the cross-corpus
    join (sim_knn_join_ab). lhs rows hash into nl blocks and replicate
    across nr right blocks (and vice versa); each (lb, rb) cell is one
    cogroup task running the chunked exact kernel; a window merges the
    nr partial top-k sets per left row. Id spaces sharing a value are
    treated as the same vector (the kernel excludes l_id == n_id)."""
    # both sides' (lb, rb) MUST have identical types: cogroup aligns
    # groups by the key's physical representation, and a (bigint, int)
    # left against an (int, bigint) right silently produces disjoint
    # one-sided groups (caught at 50k rows; toy runs aligned by luck)
    def _blk(col: str, n: int):
        return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")

    def _grid_ids(n: int):
        return F.explode(F.array(*[F.lit(i) for i in range(n)]))

    left = (
        lhs.select(F.col("vec_id").alias("l_id"), F.col("v").alias("lv"))
        .withColumn("lb", _blk("l_id", nl))
        .withColumn("rb", _grid_ids(nr))
    )
    right = (
        rhs.select(F.col("vec_id").alias("n_id"), "v")
        .withColumn("rb", _blk("n_id", nr))
        .withColumn("lb", _grid_ids(nl))
    )
    partial = (
        left.groupBy("lb", "rb")
        .cogroup(right.groupBy("lb", "rb"))
        .applyInPandas(knn_join_fn(k), "l_id bigint, n_id bigint, cosine double")
    )
    w = Window.partitionBy("l_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    out = (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("l_id", "n_id", "cosine", F.col("rk").cast("bigint").alias("rk"))
    )
    # the global sort is presentation-only — aggregate consumers
    # (sim_knn_classify) skip the N·k-row range exchange it would cost
    return out.orderBy("l_id", "rk") if ordered else out


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN self-JOIN: every vector retrieves its K nearest
    neighbors among all others — BOTH sides corpus-scale, so neither
    the query-in-closure kernels (sim_brute_topk) nor a broadcast
    apply. The canonical blocked grid join: left rows hash into L
    blocks and replicate across R right blocks (and vice versa); each
    (lb, rb) cell is one cogroup task holding N/L + M/R rows running
    knn_join_fn's chunked exact kernel; a window merges the R partial
    top-k sets per left row. Shuffle volume N·R + M·L; the grid is
    sized by ROW COUNT (≤ ~5k rows per block side) because the
    kernel's work is pairs, not bytes. Grid-shape invariance is
    property-tested (tests/test_knn_join.py); toy scale collapses to
    a 1×1 grid, the same gate philosophy as operators/rank.py."""
    return _knn_join(spark, sf_dir)


AB_QUERY_LABELS = (0, 1, 2, 3, 4)  # corpus A = query side; B = the rest


def sim_knn_join_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact kNN join — the RETRIEVAL shape: every vector
    of corpus A (labels 0–4, the query side) retrieves its K nearest
    neighbors in corpus B (labels 5–9, the index side), with BOTH sides
    corpus-scale. This is the workload sim_knn_join's self-join cannot
    express: embedding-space decontamination of a train corpus against
    a reference set, batch retrieval-eval against a fixed index,
    linking a new crawl against the existing corpus.

    Scale shape: the same blocked grid as the self-join
    (_knn_join_frames), but the grid is sized PER SIDE — an asymmetric
    (|A|, |B|) pair gets an nl×nr grid with ~5k rows per block on each
    axis, so shuffle volume is |A|·nr + |B|·nl and no cell exceeds
    ~2.5e7 pairs regardless of how lopsided the corpora are. Side
    sizes derive from the parquet footer count and the uniform label
    hash (grid shape never affects results — property-tested
    invariance). Id spaces must be disjoint (shared ids are excluded
    as self-matches by the kernel — here vec_ids are globally unique)."""
    from ..sources.registry import table_rows

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )
    a = e.filter(F.col("label").isin(*AB_QUERY_LABELS)).drop("label")
    b = e.filter(~F.col("label").isin(*AB_QUERY_LABELS)).drop("label")
    n_total = table_rows(sf_dir, "embeddings") or e.count()
    # labels are hash-uniform over 10 values → each side ≈ n/2; the
    # grid only balances work, exactness never depends on it
    half = max(1, n_total // 2)
    return _knn_join_frames(a, b, _grid_blocks(half), _grid_blocks(half))


def sim_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN GRAPH via IVF cells — the sub-quadratic
    counterpart of sim_knn_join: every vector is assigned to its
    nearest seed centroid (the shared one-Arrow-pass kernel), and
    neighbors are retrieved only among SAME-CELL members, so total
    pairwise work drops from n² to ~n²/K (cells × (n/K)²). This is
    the standard recipe for corpus-scale kNN-graph construction
    (semantic dedup, graph clustering); sim_knn_graph_recall measures
    what the cell restriction costs.

    Scale shape: ONE cluster-keyed shuffle groups each cell into one
    applyInPandas task running the same chunked exact kernel as the
    blocked join (self-pairs excluded inside). The centroid budget is
    K = max(K_CENTROIDS, ceil(√n)) (_sqrt_centroids): pairwise work is
    n·(n/K), so a FIXED K degrades back to n²/const as the corpus
    grows (3·10¹³ pairs at 1M with K=32) while K ∝ √n pins the build
    at O(n^1.5) with cells of constant-ish √n rows. Vectors in
    singleton cells have no candidates and are absent from the graph
    (the recall eval counts that loss)."""
    return _knn_graph_ivf(spark, sf_dir)


def _knn_graph_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_JOIN_K,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """`assigned` (vec_id, v, cluster) lets a composite op (the recall
    gate) share ONE probe/assignment pass across constituents instead
    of re-running the centroid build + corpus Arrow pass per op (r10,
    guide §2.4); standalone calls keep their own single-pass build."""
    if assigned is None:
        assigned, _cent = _sqrt_assignment(spark, sf_dir)
    return (
        _cell_knn(assigned.select("cluster", "vec_id", "v"), k)
        .select("l_id", "n_id", "cosine", "rk")
        .orderBy("l_id", "rk")
    )


def _cell_knn(members: DataFrame, k: int) -> DataFrame:
    """Exact within-cell k-NN graph edges `(l_id, n_id, cosine, rk)` of
    `members` (cluster, vec_id, v): ONE cluster-keyed shuffle groups
    each cell into one applyInPandas task running knn_join_fn's kernel
    with the cell as both sides (self-pairs excluded inside), then
    rank numbers each left row's edges. A vector lives in one cell, so
    the kernel's ≤ k rows per left row are already its top-k."""
    run = knn_join_fn(k)

    def per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        left = pd.DataFrame({"l_id": pdf["vec_id"], "lv": pdf["v"]})
        right = pd.DataFrame({"n_id": pdf["vec_id"], "v": pdf["v"]})
        return run(left, right)

    edges = members.groupBy("cluster").applyInPandas(
        per_cell, "l_id bigint, n_id bigint, cosine double"
    )
    w = Window.partitionBy("l_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return edges.withColumn("rk", F.row_number().over(w).cast("bigint"))


DELTA_SPLIT = 0.9  # first 90% of vec_ids = existing corpus, rest = new batch


def sim_knn_graph_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL kNN-graph maintenance — the op a production corpus
    runs when the daily batch lands: instead of rebuilding the whole
    n²/K graph, recompute ONLY the cells the new vectors fall into.
    The last 10% of vec_ids play the incoming batch; centroids are
    seeded from the EXISTING corpus only (the index predates the
    batch, exactly like a real IVF index between re-trainings).

    Output: the refreshed per-vector top-k neighbor lists for every
    member of an AFFECTED cell (new vectors get their first list; old
    vectors in those cells get replacements since a new vector may
    have entered their top-k), flagged is_new — the delta a consumer
    MERGEs over the stored graph. Cells without a new member are
    untouched and absent.

    Scale shape: one Arrow assignment pass over the corpus (existing
    centroid matrix in the closure), a tiny distinct-cluster set from
    the batch broadcast into a semi-join (the corpus stream never
    shuffles to discover affectedness), then the shared per-cell exact
    kernel over affected cells only. A b-vector batch touches at most
    min(b, K) of the K cells, so the kernel's update cost is
    ~|touched|·(n/K)² — the win window is b < K ≈ √n (streaming-sized
    micro-batches; a 10% batch touches every cell and degrades to the
    rebuild, measured in BENCH_SCALE.md). The stateless form here
    re-derives every vector's cell per call so DuckDB can replay it
    exactly; a production deployment reads the existing corpus's
    assignments from the stored index (sim_ivf_persist's layout) and
    pays assignment only for the batch, leaving the touched-cell
    kernel as the whole cost."""
    return _knn_graph_delta(spark, sf_dir, DELTA_SPLIT)


def _knn_delta_index_dir(
    spark: SparkSession, sf_dir: str, t: int, index_dir: str | None = None
) -> str:
    """Build-once stored state for the INDEXED incremental graph: the
    existing corpus (vec_id < t) written partitionBy(cluster) with its
    √t seed centroid table alongside — exactly what a real deployment
    maintains between batches (sim_ivf_persist's at-rest layout,
    cluster-keyed). Built on first use, amortized across every
    subsequent batch.

    index_dir: parent directory for the stored index (the `root` of
    materialize.at_rest) — the same multi-node posture knob as
    cc_labels' cc_spill_dir: on a cluster point it at storage every
    executor can reach; the default system tempdir is correct only for
    local mode."""

    def build(path: str) -> None:
        (embeddings,) = tables(spark, sf_dir, "embeddings")
        e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        existing = e.filter(F.col("vec_id") < t)
        centroids = _sqrt_centroids(existing)
        assigned = _nearest_assign(centroids)(existing)
        (
            assigned.select("vec_id", "v", "cluster")
            .write.partitionBy("cluster")
            .parquet(os.path.join(path, "members"))
        )
        centroids.write.parquet(os.path.join(path, "centroids"))

    return at_rest(
        "knn_delta_index", sf_dir, ("embeddings",), build, tag=str(t), root=index_dir
    )


def sim_knn_graph_delta_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful twin of sim_knn_graph_delta — IDENTICAL output (it
    shares the DuckDB oracle), production cost shape: the existing
    corpus's cell members live AT REST partitioned by cluster with
    their centroid table (built once via _knn_delta_index_dir,
    amortized across batches, sim_ivf_persist's serving pattern), so a
    batch update pays (1) one tiny Arrow pass assigning the BATCH to
    the stored centroids, (2) a statically partition-PRUNED read of
    only the affected cells' directories (the affected set is ≤ batch
    cardinality — a bounded literal IN list, same as sim_ivf_persist),
    (3) the shared per-cell exact kernel. The existing corpus is never
    re-assigned and never fully scanned — the assignment floor the
    stateless form measures in BENCH_SCALE r8 (0.7× the rebuild even
    for a 100-vector batch) drops to rebuild × touched-fraction."""
    return _knn_graph_delta_indexed(spark, sf_dir, DELTA_SPLIT)


def _knn_graph_delta_indexed(
    spark: SparkSession,
    sf_dir: str,
    split: float,
    index_dir: str | None = None,
) -> DataFrame:
    from ..sources.registry import table_rows

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    n_total = table_rows(sf_dir, "embeddings") or e.count()
    t = int(split * n_total)
    idx = _knn_delta_index_dir(spark, sf_dir, t, index_dir=index_dir)
    centroids = spark.read.parquet(os.path.join(idx, "centroids"))
    batch = (
        _nearest_assign(centroids)(e.filter(F.col("vec_id") >= t))
        .select("vec_id", "v", "cluster")
        .localCheckpoint()  # one-UDF-pass: feeds the cell list AND the union
    )
    cells = sorted(
        r.cluster for r in batch.select("cluster").distinct().collect()
    )  # bounded by the batch cardinality — the static pruning literal
    stored = spark.read.parquet(os.path.join(idx, "members")).filter(
        F.col("cluster").isin(cells)
    )
    members = stored.select("vec_id", "v", "cluster").unionByName(batch)
    return (
        _cell_knn(members, KNN_JOIN_K)
        .select(
            "l_id", "n_id", "cosine", "rk", (F.col("l_id") >= t).alias("is_new")
        )
        .orderBy("l_id", "rk")
    )


def _knn_graph_delta(
    spark: SparkSession, sf_dir: str, split: float
) -> DataFrame:
    from ..sources.registry import table_rows

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    n_total = table_rows(sf_dir, "embeddings") or e.count()
    t = int(split * n_total)
    existing = e.filter(F.col("vec_id") < t)
    centroids = _sqrt_centroids(existing)
    # one-UDF-pass rule: the assignment feeds BOTH the affected-cell
    # set and the member stream — without materialization the kernel's
    # Arrow pass runs twice (measured at 1M: 78.5 s for a 100-vector
    # batch vs 39.5 s for the full rebuild — the "incremental" op
    # slower than the rebuild it replaces). Materialize the SLIM
    # (cluster, vec_id) pairs only (16 B/row — 16 MB at 1M) and
    # re-attach vectors from the parquet scan: checkpointing the full
    # vector payload (~0.5 GB at 1M, corpus-sized at 100 TB) into
    # executor blocks is the wrong posture, and for a small batch the
    # affected-member id list is tiny, so AQE broadcasts it and the
    # corpus never crosses an exchange to get its vectors back.
    assigned_slim = (
        _nearest_assign(centroids)(e)
        .select("cluster", "vec_id")
        .localCheckpoint()
    )
    affected = (
        assigned_slim.filter(F.col("vec_id") >= t).select("cluster").distinct()
    )
    member_ids = assigned_slim.join(F.broadcast(affected), "cluster")
    members = e.join(member_ids, "vec_id")
    return (
        _cell_knn(members, KNN_JOIN_K)
        .select("l_id", "n_id", "cosine", "rk", (F.col("l_id") >= t).alias("is_new"))
        .orderBy("l_id", "rk")
    )


def sim_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the IVF kNN graphs: edge recall@k of BOTH the
    single-probe and the multi-probe graph against the exact blocked
    join — one row showing what the cell restriction costs and what
    each extra probe buys (the nprobe dial, measured not assumed).

    Scale: the operands are the ops under test; the comparison itself
    is two (l_id, n_id) equi-joins + a 1-row aggregate.

    r10 (guide §2.4): the single- and multi-probe constituents share
    ONE probe pass — probes[0] is bit-identical to the nearest-centroid
    assignment (same rounding and tie contract, see _probed_frame), so
    the second centroid build + second corpus Arrow pass the standalone
    ops would each run are gone; recall values are unchanged."""
    probed = _probed_frame(
        spark, sf_dir, max(KNN_IDX_PROBES, KNN_QUERY_PROBES)
    )
    assigned = probed.select(
        "vec_id", "v", F.col("probes")[0].alias("cluster")
    )
    exact = _knn_join(spark, sf_dir, ordered=False).select("l_id", "n_id")
    single = _knn_graph_ivf(spark, sf_dir, assigned=assigned).select(
        "l_id", "n_id", F.lit(1).alias("hit1")
    )
    multi = _knn_graph_multiprobe(spark, sf_dir, probed=probed).select(
        "l_id", "n_id", F.lit(1).alias("hitp")
    )
    joined = exact.join(single, ["l_id", "n_id"], "left").join(
        multi, ["l_id", "n_id"], "left"
    )
    return joined.agg(
        (F.count_distinct("l_id")).cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("exact_edges"),
        F.count("hit1").cast("bigint").alias("hit_edges"),
        F.round(F.count("hit1") / F.count(F.lit(1)), 6).alias("recall"),
        F.round(F.count("hitp") / F.count(F.lit(1)), 6).alias(
            "recall_multiprobe"
        ),
    )


SIM_KNN_GRAPH_IVF_SQL = f"""
WITH {_SQRT_ASSIGNED_CTES}, scored AS (
  SELECT a.vec_id AS l_id, b.vec_id AS n_id,
    round(
      list_aggregate(list_transform(generate_series(1, length(a.v)),
                                    i -> a.v[i] * b.v[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
         * sqrt(list_aggregate(list_transform(b.v, x -> x*x), 'sum'))), 6)
      AS cosine
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
)
SELECT l_id, n_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {KNN_JOIN_K}
ORDER BY l_id, rk
"""



_COS_AB_SQL = """
    round(
      list_aggregate(list_transform(generate_series(1, length(a.v)),
                                    i -> a.v[i] * b.v[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(a.v, x -> x*x), 'sum'))
         * sqrt(list_aggregate(list_transform(b.v, x -> x*x), 'sum'))), 6)
"""

_COS_EB_SQL = """
    round(
      list_aggregate(list_transform(generate_series(1, length(e.v)),
                                    i -> e.v[i] * c.cv[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(e.v, x -> x*x), 'sum'))
         * sqrt(list_aggregate(list_transform(c.cv, x -> x*x), 'sum'))), 6)
"""


def sim_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clusters from the kNN graph: connected components over
    MUTUAL kNN edges (a↔b iff each is in the other's top-k) — the
    density-based grouping step that turns a neighbor graph into
    dedup/topic clusters. Mutuality is the standard symmetrization
    that keeps hub vectors from chaining unrelated regions together.

    Basis (r9 default swap, r8 verdict What's wrong #1): the
    HIGH-RECALL multi-probe graph — measured edge recall@3 0.861 at
    50k hash-random vectors vs the single-probe basis' 0.075 (the √n
    re-seeding shrank cells, and sparse single-probe mutual edges
    fragment clusters on low-structure corpora). The unsuffixed name a
    consumer reaches for first must be the one whose clusters are
    trustworthy; the cheap single-probe basis stays available as the
    explicit opt-in `sim_knn_clusters_cheap`. Cost delta at sf0.1:
    ~+1 s (the graph build is ~m·P/√n of the exact join's pairs vs
    1/√n; both ends measured in data/exp_knn_recall_r8.json).

    Scale: the mutual filter is one self-equi-join of the (already
    sub-quadratic) graph on reversed keys; components run on the
    shared hash-min + pointer-jumping kernel (dedup_suite.cc_labels —
    O(log diameter) rounds, one node-keyed shuffle per round). Vectors
    with no mutual edge are singletons and excluded, same convention
    as dedup_clusters."""
    return _clusters_from_graph(_knn_graph_multiprobe(spark, sf_dir))


def sim_knn_clusters_cheap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_knn_clusters' cheap opt-in: the same mutual-kNN connected
    components over the SINGLE-PROBE graph — ~1/(m·P) of the default
    basis' pairwise work, at measured edge recall 0.075 at 50k on
    hash-random vectors (near-worst-case data; clustered corpora fare
    better, structure concentrates true neighbors in one cell). The
    dial's cheap end: coarse grouping where fragmenting clusters is
    acceptable, or corpora with strong cluster structure. The r8
    percolation study (HISTORY.md) shows the qualitative difference on
    random data: the high-recall graph crosses the percolation
    threshold (one giant component) where this basis yields fragments."""
    return _clusters_from_graph(_knn_graph_ivf(spark, sf_dir))


def _clusters_from_graph(graph: DataFrame) -> DataFrame:
    """Mutual-kNN connected components over a (l_id, n_id, ...) kNN
    graph — shared by sim_knn_clusters (multi-probe default basis) and
    sim_knn_clusters_cheap (single-probe opt-in)."""
    from .dedup_suite import cc_labels

    # persist + count: the graph is UDF-derived, and a self-join over
    # it would otherwise evaluate the whole IVF kernel + rank window
    # TWICE (the repo's standing one-UDF-pass rule). persist — not
    # localCheckpoint — because chaining an eager checkpoint of the
    # mutual join on top of a checkpointed graph intermittently
    # deadlocked the driver at 50k (idle workers, stack parked in the
    # checkpoint call); the cache breaks the double-eval without
    # stacking checkpoint scans.
    from pyspark import StorageLevel

    g = graph.select("l_id", "n_id").persist(StorageLevel.MEMORY_AND_DISK)
    g.count()  # materialize the one kernel pass
    # merge hint (repo rule for self-joins feeding a checkpoint): the
    # broadcast plan AQE picks for the small graph deadlocks against
    # cc_labels' eager localCheckpoint (driver blocked mid-broadcast,
    # observed hung at 50k with idle workers); SMJ is also the only
    # 100 TB-safe shape
    mutual = (
        g.alias("a")
        .hint("merge")
        .join(
            g.alias("b"),
            (F.col("a.l_id") == F.col("b.n_id"))
            & (F.col("a.n_id") == F.col("b.l_id")),
        )
        .select(F.col("a.l_id").alias("src"), F.col("a.n_id").alias("dst"))
    )
    labels = cc_labels(mutual)
    # cc_labels returns fully-materialized rows (its first step eagerly
    # localCheckpoints the edge list), so the graph cache has served
    # its one purpose; release it now rather than holding corpus-sized
    # blocks for the session lifetime (bench sweeps call this 3×).
    g.unpersist()
    # cluster_size per ROW via one label-keyed window instead of
    # groupBy(label)+join-back (r10, guide §2.4 — the same rewrite as
    # dedup_pipeline's r9 stages): the join shape referenced the
    # materialized labels twice and attached a cluster-count-sized
    # frame (unbounded at corpus scale) through a second join; the
    # window computes the count on the single label exchange.
    size_w = F.count(F.lit(1)).over(Window.partitionBy("label"))
    return (
        labels.select(
            F.col("node").alias("vec_id"),
            F.col("label").alias("cluster_id"),
            size_w.cast("bigint").alias("cluster_size"),
            (F.col("node") == F.col("label")).alias("is_canonical"),
        )
        .orderBy("vec_id")
    )


SIM_KNN_CLUSTERS_CHEAP_SQL = f"""
WITH RECURSIVE {_SQRT_ASSIGNED_CTES.lstrip()}, scored AS (
  SELECT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
), knn AS (
  SELECT l_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored
  ) WHERE rk <= {KNN_JOIN_K}
), mutual AS (
  SELECT a.l_id AS src, a.n_id AS dst
  FROM knn a JOIN knn b ON a.l_id = b.n_id AND a.n_id = b.l_id
), walk(node, label) AS (
  SELECT DISTINCT src, src FROM mutual
  UNION
  SELECT e.dst, w.label FROM walk w JOIN mutual e ON e.src = w.node
), cc AS (
  SELECT node AS vec_id, MIN(label) AS cluster_id FROM walk GROUP BY node
)
SELECT vec_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       vec_id = cluster_id AS is_canonical
FROM cc ORDER BY vec_id
"""

SIM_KNN_CLUSTERS_SQL = f"""
WITH RECURSIVE vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), centroids AS (
  SELECT vec_id AS c_id, v AS cv FROM vecs
  WHERE vec_id % {_SQRT_STRIDE_SQL} = 0
), probed AS (
  SELECT vec_id, v, c_id AS cluster, prb FROM (
    SELECT e.vec_id, e.v, c.c_id,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_COS_EB_SQL} DESC, c.c_id) AS prb
    FROM vecs e CROSS JOIN centroids c
  ) WHERE prb <= {KNN_QUERY_PROBES}
), scored AS (
  SELECT DISTINCT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM probed a JOIN probed b
    ON a.cluster = b.cluster AND b.prb <= {KNN_IDX_PROBES}
   AND a.vec_id <> b.vec_id
), knn AS (
  SELECT l_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored
  ) WHERE rk <= {KNN_JOIN_K}
), mutual AS (
  SELECT a.l_id AS src, a.n_id AS dst
  FROM knn a JOIN knn b ON a.l_id = b.n_id AND a.n_id = b.l_id
), walk(node, label) AS (
  SELECT DISTINCT src, src FROM mutual
  UNION
  SELECT e.dst, w.label FROM walk w JOIN mutual e ON e.src = w.node
), cc AS (
  SELECT node AS vec_id, MIN(label) AS cluster_id FROM walk GROUP BY node
)
SELECT vec_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       vec_id = cluster_id AS is_canonical
FROM cc ORDER BY vec_id
"""


def sim_knn_graph_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-recall multi-probe IVF kNN graph — the recall dial on
    sim_knn_graph_ivf, turned on BOTH sides: every vector is INDEXED
    in its m = KNN_IDX_PROBES nearest cells and PROBES its
    P = KNN_QUERY_PROBES nearest cells, so a true neighbor is found
    whenever its m index cells intersect the query's P probes. Work
    scales as ~m·P·n²/K; with the √n centroid budget the cost RATIO
    vs the exact blocked join is m·P/√n — shrinking as the corpus
    grows. Measured at 50k (hash-random vectors, the adversarial
    case): recall@3 0.86 vs the r7 single-side design's 0.433, at
    ~1/3 of the exact join's pairs; sim_knn_graph_recall is the
    committed gate for both numbers.

    Scale shape: probe assignment is ONE Arrow pass (top-max(m,P)
    centroid kernel, closure-held matrix) materialized once via
    localCheckpoint (the repo's one-UDF-pass pattern — both grid
    sides read the materialized rows, the kernel never runs twice);
    then one cluster-keyed cogroup into the shared chunked exact
    kernel. A pair meeting in several shared cells yields ≤ m
    duplicate candidates with bit-identical cosines; they are removed
    inside the l_id merge window via a lag() adjacency check — same
    sort, no extra shuffle."""
    return _knn_graph_multiprobe(spark, sf_dir)


def _probed_frame(spark: SparkSession, sf_dir: str, n_probes: int) -> DataFrame:
    """(vec_id, v, probes[n_probes]) for the whole corpus, materialized
    once (localCheckpoint): the √n centroid build + ONE Arrow pass of
    the top-probe kernel. probes is ordered rounded-cosine DESC then
    c_id ASC, so probes[0] IS the nearest-centroid assignment
    (top_probe_centroids_udf generalizes nearest_centroid_udf's
    element [0] — same rounding, same tie rule)."""
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    centroids = _sqrt_centroids(e)
    rows = centroids.collect()  # K≈√n centroids: MBs even at 100M vectors
    probe_kernel = top_probe_centroids_udf(
        np.array([r.cv for r in rows]), np.array([r.c_id for r in rows]), n_probes
    ).asNondeterministic()
    return e.withColumn("probes", probe_kernel(F.col("v"))).localCheckpoint()


def _knn_graph_multiprobe(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_JOIN_K,
    m: int = KNN_IDX_PROBES,
    p: int = KNN_QUERY_PROBES,
    left_filter=None,
    probed: DataFrame | None = None,
) -> DataFrame:
    if probed is None:
        probed = _probed_frame(spark, sf_dir, max(m, p))
    # left_filter restricts the QUERY side only (the index side stays
    # the full corpus): the per-cell kernel computes each left row's
    # top-k independently, so filtered rows' neighbor lists are
    # bit-identical to the full build's — the sampled-recall trick
    # proven in `git show b72b397:data/exp_recall_1m_r9.py`
    lhs = probed.filter(left_filter) if left_filter is not None else probed
    left = lhs.select(
        F.col("vec_id").alias("l_id"),
        F.col("v").alias("lv"),
        F.explode(F.slice("probes", 1, p)).alias("cluster"),
    )
    right = probed.select(
        F.col("vec_id").alias("n_id"),
        "v",
        F.explode(F.slice("probes", 1, m)).alias("cluster"),
    )
    partial = (
        left.groupBy("cluster")
        .cogroup(right.groupBy("cluster"))
        .applyInPandas(knn_join_fn(k), "l_id bigint, n_id bigint, cosine double")
    )
    # duplicate (l_id, n_id) candidates (pair met in several shared
    # cells) sort adjacent under (cosine DESC, n_id) — the kernel's
    # per-pair summation order is fixed, so their cosines are
    # bit-identical. lag() drops them inside the same sort the rank
    # window needs: one exchange for dedup + merge.
    w = Window.partitionBy("l_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    dup = F.coalesce(F.lag("n_id").over(w) == F.col("n_id"), F.lit(False))
    return (
        partial.withColumn("dup", dup)
        .filter(~F.col("dup"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select("l_id", "n_id", "cosine", "rk")
        .orderBy("l_id", "rk")
    )


SIM_KNN_GRAPH_MULTIPROBE_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), centroids AS (
  SELECT vec_id AS c_id, v AS cv FROM vecs
  WHERE vec_id % {_SQRT_STRIDE_SQL} = 0
), probed AS (
  SELECT vec_id, v, c_id AS cluster, prb FROM (
    SELECT e.vec_id, e.v, c.c_id,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_COS_EB_SQL} DESC, c.c_id) AS prb
    FROM vecs e CROSS JOIN centroids c
  ) WHERE prb <= {KNN_QUERY_PROBES}
), scored AS (
  SELECT DISTINCT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM probed a JOIN probed b
    ON a.cluster = b.cluster AND b.prb <= {KNN_IDX_PROBES}
   AND a.vec_id <> b.vec_id
)
SELECT l_id, n_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {KNN_JOIN_K}
ORDER BY l_id, rk
"""

SIM_KNN_GRAPH_RECALL_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), centroids AS (
  SELECT vec_id AS c_id, v AS cv FROM vecs
  WHERE vec_id % {_SQRT_STRIDE_SQL} = 0
), probed AS (
  SELECT vec_id, v, c_id AS cluster, prb FROM (
    SELECT e.vec_id, e.v, c.c_id,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_COS_EB_SQL} DESC, c.c_id) AS prb
    FROM vecs e CROSS JOIN centroids c
  ) WHERE prb <= {KNN_QUERY_PROBES}
), cell_scored AS (
  SELECT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM probed a JOIN probed b
    ON a.cluster = b.cluster AND a.prb = 1 AND b.prb = 1
   AND a.vec_id <> b.vec_id
), single AS (
  SELECT l_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
    FROM cell_scored
  ) WHERE rk <= {KNN_JOIN_K}
), mp_scored AS (
  SELECT DISTINCT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM probed a JOIN probed b
    ON a.cluster = b.cluster AND b.prb <= {KNN_IDX_PROBES}
   AND a.vec_id <> b.vec_id
), multi AS (
  SELECT l_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
    FROM mp_scored
  ) WHERE rk <= {KNN_JOIN_K}
), all_scored AS (
  SELECT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM vecs a JOIN vecs b ON a.vec_id <> b.vec_id
), exact AS (
  SELECT l_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
    FROM all_scored
  ) WHERE rk <= {KNN_JOIN_K}
)
SELECT CAST(COUNT(DISTINCT e.l_id) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS exact_edges,
       CAST(COUNT(s.l_id) AS BIGINT) AS hit_edges,
       round(CAST(COUNT(s.l_id) AS DOUBLE) / COUNT(*), 6) AS recall,
       round(CAST(COUNT(m.l_id) AS DOUBLE) / COUNT(*), 6) AS recall_multiprobe
FROM exact e
LEFT JOIN single s ON e.l_id = s.l_id AND e.n_id = s.n_id
LEFT JOIN multi m ON e.l_id = m.l_id AND e.n_id = m.n_id
"""


def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label voting over the exact k-NN join: each vector's label
    is predicted by majority vote among its KNN_JOIN_K nearest
    neighbors (tie → smallest label), scored per class against the
    stored labels — the standard embedding-space label-coherence eval
    a similarity index ships with.

    Scale: rides sim_knn_join's blocked grid; neighbor labels attach
    via an n_id-keyed join (key-partitioned, never a corpus
    broadcast); the vote is an (l_id, label)-keyed aggregate + an
    l_id-partitioned argmax window; the report is |labels|-sized."""
    knn = _knn_join(spark, sf_dir, ordered=False)
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    labels = embeddings.select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")
    )
    votes = knn.join(labels, "n_id").groupBy("l_id", "n_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_id").orderBy(F.col("c").desc(), F.col("n_label"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_id", F.col("n_label").alias("pred"))
    )
    truth = embeddings.select(F.col("vec_id").alias("l_id"), "label")
    return (
        pred.join(truth, "l_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("pred") == F.col("label")).cast("int"))
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n"), 6).alias("accuracy"),
        )
        .orderBy("label")
    )


SIM_KNN_JOIN_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM vecs a JOIN vecs b ON a.vec_id <> b.vec_id
)
SELECT l_id, n_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {KNN_JOIN_K}
ORDER BY l_id, rk
"""

SIM_KNN_GRAPH_DELTA_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), split AS (
  SELECT CAST(FLOOR({DELTA_SPLIT} * COUNT(*)) AS BIGINT) AS t FROM vecs
), centroids AS (
  SELECT vec_id AS c_id, v AS cv FROM vecs, split
  WHERE vec_id < t AND vec_id % GREATEST(1, CAST(CEIL(
    t / GREATEST({K_CENTROIDS}, CEIL(SQRT(t)))) AS BIGINT)) = 0
), assigned AS (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.c_id AS cluster,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_COS_EB_SQL} DESC, c.c_id) AS rk
    FROM vecs e CROSS JOIN centroids c
  ) WHERE rk = 1
), affected AS (
  SELECT DISTINCT cluster FROM assigned, split WHERE vec_id >= t
), members AS (
  SELECT a.* FROM assigned a WHERE a.cluster IN (SELECT cluster FROM affected)
), scored AS (
  SELECT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM members a JOIN members b
    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
)
SELECT l_id, n_id, cosine, CAST(rk AS BIGINT) AS rk,
       l_id >= (SELECT t FROM split) AS is_new
FROM (
  SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {KNN_JOIN_K}
ORDER BY l_id, rk
"""

SIM_KNN_JOIN_AB_SQL = f"""
WITH vecs AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), qa AS (
  SELECT vec_id, v FROM vecs WHERE label IN {AB_QUERY_LABELS}
), ix AS (
  SELECT vec_id, v FROM vecs WHERE label NOT IN {AB_QUERY_LABELS}
), scored AS (
  SELECT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM qa a JOIN ix b ON a.vec_id <> b.vec_id
)
SELECT l_id, n_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
  FROM scored
) WHERE rk <= {KNN_JOIN_K}
ORDER BY l_id, rk
"""

SIM_KNN_CLASSIFY_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM vecs a JOIN vecs b ON a.vec_id <> b.vec_id
), knn AS (
  SELECT l_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored
  ) WHERE rk <= {KNN_JOIN_K}
), votes AS (
  SELECT k.l_id, e.label AS n_label, COUNT(*) AS c
  FROM knn k JOIN embeddings e ON e.vec_id = k.n_id
  GROUP BY k.l_id, e.label
), pred AS (
  SELECT l_id, n_label AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY c DESC, n_label) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(SUM(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS accuracy
FROM pred p JOIN embeddings e ON e.vec_id = p.l_id
GROUP BY e.label ORDER BY e.label
"""


SAMPLED_RECALL_QUERIES = 200  # target sample size (stride-seeded)


def sim_knn_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED-ground-truth recall gate for the multi-probe kNN graph —
    the corpus-size-independent version of sim_knn_graph_recall, and
    the institutionalized form of the r9 measurement that closed the
    "1M recall is extrapolated" gap (data/exp_recall_1m_r9.json:
    measured 0.708 at 1M / 0.632 at 5M for P=24 in minutes, where the
    full exact join is hours).

    Method: a stride-seeded ~SAMPLED_RECALL_QUERIES-query sample gets
    exact top-k from the blocked-grid kernel with the sample as the
    LEFT frame (cost |sample|·n, linear), and the graph answer from
    the multi-probe machinery with the left side restricted to the
    sample — the per-cell kernel computes each left row's top-k
    independently against the full m-indexed corpus, so the sampled
    neighbor lists are BIT-IDENTICAL to the full build's at
    ~|sample|/n of the pairwise cost. Recall@k = |graph ∩ exact| /
    |exact| over the sampled queries — an unbiased estimate of the
    full graph's edge recall, computable at ANY corpus size on a
    schedule (the production QA job ANN deployments run)."""
    from ..sources.registry import table_rows

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    n = table_rows(sf_dir, "embeddings") or e.count()
    stride = max(1, n // SAMPLED_RECALL_QUERIES)
    is_sampled = F.col("vec_id") % stride == 7 % stride
    sample = e.filter(is_sampled)
    exact = _knn_join_frames(
        sample, e, 1, _grid_blocks(n), k=KNN_JOIN_K, ordered=False
    ).select("l_id", "n_id")
    graph = _knn_graph_multiprobe(spark, sf_dir, left_filter=is_sampled).select(
        "l_id", "n_id", F.lit(1).alias("hit")
    )
    joined = exact.join(graph, ["l_id", "n_id"], "left")
    return joined.agg(
        F.count_distinct("l_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("exact_edges"),
        F.count("hit").cast("bigint").alias("hit_edges"),
        F.round(F.count("hit") / F.count(F.lit(1)), 6).alias("recall"),
    )


_SAMPLE_STRIDE_SQL = f"""GREATEST(1, CAST(
    (SELECT COUNT(*) FROM vecs) / {SAMPLED_RECALL_QUERIES} AS BIGINT))"""

SIM_KNN_RECALL_SAMPLED_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), sample AS (
  SELECT vec_id, v FROM vecs
  WHERE vec_id % {_SAMPLE_STRIDE_SQL} = 7 % {_SAMPLE_STRIDE_SQL}
), exact AS (
  SELECT l_id, n_id FROM (
    SELECT a.vec_id AS l_id, b.vec_id AS n_id,
      row_number() OVER (PARTITION BY a.vec_id ORDER BY {_COS_AB_SQL} DESC,
                         b.vec_id) AS rk
    FROM sample a JOIN vecs b ON a.vec_id <> b.vec_id
  ) WHERE rk <= {KNN_JOIN_K}
), centroids AS (
  SELECT vec_id AS c_id, v AS cv FROM vecs
  WHERE vec_id % {_SQRT_STRIDE_SQL} = 0
), probed AS (
  SELECT vec_id, v, c_id AS cluster, prb FROM (
    SELECT e.vec_id, e.v, c.c_id,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_COS_EB_SQL} DESC, c.c_id) AS prb
    FROM vecs e CROSS JOIN centroids c
  ) WHERE prb <= {KNN_QUERY_PROBES}
), scored AS (
  SELECT DISTINCT a.vec_id AS l_id, b.vec_id AS n_id, {_COS_AB_SQL} AS cosine
  FROM probed a JOIN probed b
    ON a.cluster = b.cluster AND b.prb <= {KNN_IDX_PROBES}
   AND a.vec_id <> b.vec_id
  WHERE a.vec_id % {_SAMPLE_STRIDE_SQL} = 7 % {_SAMPLE_STRIDE_SQL}
), graph AS (
  SELECT l_id, n_id FROM (
    SELECT *, row_number() OVER (PARTITION BY l_id ORDER BY cosine DESC, n_id) AS rk
    FROM scored
  ) WHERE rk <= {KNN_JOIN_K}
)
SELECT CAST(COUNT(DISTINCT e.l_id) AS BIGINT) AS n_queries,
  CAST(COUNT(*) AS BIGINT) AS exact_edges,
  CAST(COUNT(g.n_id) AS BIGINT) AS hit_edges,
  round(CAST(COUNT(g.n_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM exact e
LEFT JOIN graph g ON g.l_id = e.l_id AND g.n_id = e.n_id
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sim_knn_join": sim_knn_join,
    "sim_knn_join_ab": sim_knn_join_ab,
    "sim_knn_classify": sim_knn_classify,
    "sim_knn_graph_ivf": sim_knn_graph_ivf,
    "sim_knn_graph_multiprobe": sim_knn_graph_multiprobe,
    "sim_knn_clusters": sim_knn_clusters,
    "sim_knn_clusters_cheap": sim_knn_clusters_cheap,
    "sim_knn_graph_delta": sim_knn_graph_delta,
    "sim_knn_graph_delta_indexed": sim_knn_graph_delta_indexed,
    "sim_knn_graph_recall": sim_knn_graph_recall,
    "sim_knn_recall_sampled": sim_knn_recall_sampled,
    "sim_filtered_topk": sim_filtered_topk,
    "sim_range_search": sim_range_search,
    "sim_brute_topk": sim_brute_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_persist": sim_ivf_persist,
    "sim_ivf_pq_topk": sim_ivf_pq_topk,
    "sim_pq_recall": sim_pq_recall,
    "sim_truncated_recall": sim_truncated_recall,
    "sim_kmeans": sim_kmeans,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_recall_eval": sim_recall_eval,
    "sim_quantize_int8": sim_quantize_int8,
    "sim_pair_histogram": sim_pair_histogram,
}

ORACLE: dict[str, str] = {
    "sim_knn_join": SIM_KNN_JOIN_SQL,
    "sim_knn_join_ab": SIM_KNN_JOIN_AB_SQL,
    "sim_knn_classify": SIM_KNN_CLASSIFY_SQL,
    "sim_knn_graph_ivf": SIM_KNN_GRAPH_IVF_SQL,
    "sim_knn_graph_multiprobe": SIM_KNN_GRAPH_MULTIPROBE_SQL,
    "sim_knn_clusters": SIM_KNN_CLUSTERS_SQL,
    "sim_knn_clusters_cheap": SIM_KNN_CLUSTERS_CHEAP_SQL,
    "sim_knn_graph_delta": SIM_KNN_GRAPH_DELTA_SQL,
    "sim_knn_graph_delta_indexed": SIM_KNN_GRAPH_DELTA_SQL,
    "sim_knn_graph_recall": SIM_KNN_GRAPH_RECALL_SQL,
    "sim_knn_recall_sampled": SIM_KNN_RECALL_SAMPLED_SQL,
    "sim_filtered_topk": SIM_FILTERED_TOPK_SQL,
    "sim_range_search": SIM_RANGE_SEARCH_SQL,
    "sim_brute_topk": SIM_BRUTE_TOPK_SQL,
    "sim_kmeans": SIM_KMEANS_SQL,
    "sim_ivf_topk": SIM_IVF_TOPK_SQL,
    "sim_ivf_persist": SIM_IVF_TOPK_SQL,
    "sim_ivf_pq_topk": SIM_IVF_PQ_TOPK_SQL,
    "sim_pq_recall": SIM_PQ_RECALL_SQL,
    "sim_truncated_recall": SIM_TRUNCATED_RECALL_SQL,
    "sim_lsh_topk": SIM_LSH_TOPK_SQL,
    "sim_recall_eval": SIM_RECALL_EVAL_SQL,
    "sim_quantize_int8": SIM_QUANTIZE_INT8_SQL,
    "sim_pair_histogram": SIM_PAIR_HISTOGRAM_SQL,
}
