"""Oracle suite for extension operators (operators/joins.py + misc).

- op_asof_join: union-carry-forward as-of join vs DuckDB's native
  ASOF JOIN — independent implementations, same semantics.
- op_range_join: bucketed range join vs DuckDB's naive range join.
- op_hash_sample: deterministic hash sampling (reproducible pipeline
  sampling — never rand()).
- op_pivot: pivoted conditional aggregation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import asof_join, range_join_bucketed
from ..operators.rank import ntile_by_range, ranked_by_range
from ..materialize import broadcast_if_small, persist_if_large
from .tpch import tables


def op_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's latest prior-or-equal signup."""
    (events,) = tables(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("p_ts")
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"),
        F.col("ts").cast("timestamp").alias("s_ts"),
        F.col("event_id").alias("s_event"),
    )
    j = asof_join(
        purchases.withColumnRenamed("user_id", "u"),
        signups.withColumnRenamed("s_user", "u"),
        key="u",
        left_ts="p_ts",
        right_ts="s_ts",
        right_cols=["s_ts", "s_event"],
    )
    return (
        j.select(
            "event_id",
            F.col("u").alias("user_id"),
            (
                F.unix_timestamp("p_ts") - F.unix_timestamp("asof_s_ts")
            ).alias("secs_since_signup"),
            F.col("asof_s_event").alias("signup_event"),
        )
        .orderBy("event_id")
        .limit(500)
    )


OP_ASOF_JOIN_SQL = """
SELECT p.event_id, p.user_id,
  CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(s.ts)) AS BIGINT)
    AS secs_since_signup,
  s.event_id AS signup_event
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
                WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
ORDER BY p.event_id
LIMIT 500
"""


def op_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced into deterministic price bands via bucketed range
    join (equi-join on bucket + residual filter)."""
    (orders,) = tables(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [(i, float(i * 50000), float((i + 1) * 50000)) for i in range(12)],
        ["band_id", "lo", "hi"],
    )
    j = range_join_bucketed(
        orders.select("o_orderkey", "o_totalprice"),
        bands,
        fact_val="o_totalprice",
        range_start="lo",
        range_end="hi",
        bucket_width=F.lit(50000.0),
    )
    return (
        j.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("band_id")
    )


OP_RANGE_JOIN_SQL = """
SELECT b.band_id, CAST(COUNT(*) AS BIGINT) AS n,
  round(SUM(o.o_totalprice), 2) AS sum_price
FROM orders o
JOIN (SELECT i AS band_id, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
      FROM generate_series(0, 11) t(i)) b
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band_id
ORDER BY b.band_id
"""


def op_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample of lineitem (md5-keyed, engine-
    reproducible — the seeded-sampling primitive for data pipelines)."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", "l_orderkey", "l_partkey")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    return lineitem.filter(bucket == 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
    )


OP_HASH_SAMPLE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
WHERE CAST(('0x' || substr(md5(l_orderkey || '|' || l_partkey), 1, 8)) AS BIGINT) % 10 = 0
"""


def op_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: different hash-sample rates
    per document source (the quality-tiered downsampling step of a
    training-data pipeline; md5-keyed so any engine reproduces it).
    Map-only until the final per-stratum count — scan-speed at 100 TB."""
    (documents,) = tables(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    rate = F.when(F.col("source").isin("src1", "src2", "src3"), 10).otherwise(50)
    return (
        documents.filter(bucket < rate)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("source")
    )


OP_STRATIFIED_SAMPLE_SQL = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      < CASE WHEN source IN ('src1', 'src2', 'src3') THEN 10 ELSE 50 END
GROUP BY source
ORDER BY source
"""


def op_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: status × priority matrix."""
    (orders,) = tables(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .count()
        .withColumnsRenamed({p: f"p{i + 1}" for i, p in enumerate(prios)})
        .orderBy("o_orderstatus")
    )


OP_PIVOT_SQL = """
SELECT o_orderstatus,
  CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS p1,
  CAST(count_if(o_orderpriority = '2-HIGH') AS BIGINT) AS p2,
  CAST(count_if(o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3,
  CAST(count_if(o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4,
  CAST(count_if(o_orderpriority = '5-LOW') AS BIGINT) AS p5
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def op_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.py): groupBy
    (key, salt) partial → groupBy key final, spreading a hot key over
    n_salts reducers. Semantics-preserving, so the oracle is the plain
    GROUP BY — what AQE can't fix (single giant key) this does
    explicitly."""
    from ..operators.skew import salted_agg

    (events,) = tables(spark, sf_dir, "events")
    out = salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "n": ("count", "event_id"),
            "sv": ("sum", "value"),
            "mx": ("max", "value"),
        },
        salt_cols=["user_id"],
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sv"), 6).alias("sv"),
        F.round(F.col("mx"), 6).alias("mx"),
    ).orderBy("event_type")


OP_SKEW_AGG_SQL = """
SELECT event_type, CAST(COUNT(event_id) AS BIGINT) AS n,
       round(SUM(value), 6) AS sv, round(MAX(value), 6) AS mx
FROM events GROUP BY event_type ORDER BY event_type
"""


def op_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated salted join (operators/skew.py): the small dim is
    exploded across n_salts, the big side picks one deterministic salt
    per row — a hot join key spreads over n_salts tasks while every row
    still matches exactly once (oracle: the plain join)."""
    from ..operators.skew import salted_join

    (events,) = tables(spark, sf_dir, "events")
    dims = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0)],
        ["event_type", "weight"],
    )
    j = salted_join(events, dims, "event_type", n_salts=8)
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 6).alias("weighted"),
        )
        .orderBy("event_type")
    )


OP_SKEW_JOIN_SQL = """
WITH dims AS (
  SELECT 'click' AS event_type, 1.0 AS weight
  UNION ALL SELECT 'view', 0.1 UNION ALL SELECT 'purchase', 10.0
)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(e.value * d.weight), 6) AS weighted
FROM events e JOIN dims d ON d.event_type = e.event_type
GROUP BY e.event_type ORDER BY e.event_type
"""


def op_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join over bucketed managed tables: both
    sides written bucketBy(o_orderkey), so the sort-merge join scans
    matching bucket pairs with NO Exchange (tests/test_bucketed.py pins
    the plan). This is the 100 TB strategy for repeated joins on the
    same key — pay the shuffle once at write time, never at read."""
    from ..sources.bucketed import write_bucketed

    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    lt, rt = f"bj_orders_{key}", f"bj_lineitem_{key}"
    if not (spark.catalog.tableExists(lt) and spark.catalog.tableExists(rt)):
        orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
        write_bucketed(
            orders.filter(F.col("o_orderkey") < 2000).select(
                "o_orderkey", "o_orderstatus"
            ),
            lt,
            ["o_orderkey"],
            8,
            sort_cols=["o_orderkey"],
        )
        write_bucketed(
            lineitem.filter(F.col("l_orderkey") < 2000)
            .select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
            rt,
            ["o_orderkey"],
            8,
            sort_cols=["o_orderkey"],
        )
    j = spark.table(lt).hint("merge").join(spark.table(rt), ["o_orderkey"])
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("o_orderstatus")
    )


OP_BUCKETED_JOIN_SQL = """
SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(l.l_quantity), 2) AS sum_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey < 2000 AND l.l_orderkey < 2000
GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
"""


def op_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-part measure columns → long (measure,
    value) rows — the inverse of op_pivot, used to normalize
    feature-matrix tables. Map-only (each input row fans out to K
    rows in place; no shuffle until the final sort)."""
    (part,) = tables(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") <= 50)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "value")
        .orderBy("p_partkey", "measure")
    )


OP_UNPIVOT_SQL = """
SELECT p_partkey, measure, value FROM (
  SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
  FROM part WHERE p_partkey <= 50
  UNION ALL
  SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
  FROM part WHERE p_partkey <= 50
)
ORDER BY p_partkey, measure
"""


def op_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization (z-score within event_type) via
    applyInPandas grouped-map — the standard training-data
    normalization op; oracle is the SQL window-function equivalent.
    Scale: one shuffle on the group key; pandas sees one group per
    call (groups must fit an executor — use salted variants for
    monster groups)."""
    import pandas as pd

    (events,) = tables(spark, sf_dir, "events")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        out = pdf[["event_id", "event_type"]].copy()
        out["z"] = ((pdf["value"] - mu) / sd).round(6)
        return out

    return (
        events.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(zscore, "event_id LONG, event_type STRING, z DOUBLE")
        .filter(F.col("event_id") < 300)
        .orderBy("event_id")
    )


OP_GROUP_ZSCORE_SQL = """
SELECT event_id, event_type,
  round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 6) AS z
FROM events
WINDOW w AS (PARTITION BY event_type)
QUALIFY event_id < 300
ORDER BY event_id
"""


def op_arrow_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: columnar batch-level transform via the Arrow C data
    interface — parity with the reference's Arrow FFI surface
    (/root/reference/src/arrow_ffi/mod.rs:1-31). The kernel runs
    pyarrow.compute on whole RecordBatches (no per-row Python)."""
    from collections.abc import Iterator

    import pyarrow as pa
    import pyarrow.compute as pc

    (lineitem,) = tables(spark, sf_dir, "lineitem")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            disc = pc.multiply(
                b.column(b.schema.get_field_index("l_extendedprice")),
                pc.subtract(
                    pa.scalar(1.0),
                    b.column(b.schema.get_field_index("l_discount")),
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(b.schema.get_field_index("l_orderkey")), disc],
                names=["l_orderkey", "disc_price"],
            )

    out = lineitem.select("l_orderkey", "l_extendedprice", "l_discount").mapInArrow(
        kernel, "l_orderkey LONG, disc_price DOUBLE"
    )
    return out.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("disc_price") * 1000000).cast("decimal(38,0)"))
        .cast("double")
        .alias("qsum"),
    )


OP_ARROW_BATCH_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000) AS DECIMAL(38,0))) AS DOUBLE) AS qsum
FROM lineitem
"""


_PART_CACHE: dict[str, str] = {}


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """events written Hive-partitioned by event_type (directory per
    value) — the write-side layout that turns a predicate on the
    partition column into directory-level pruning at read."""
    import os
    import tempfile

    key = sf_dir
    if key in _PART_CACHE and os.path.exists(_PART_CACHE[key]):
        return _PART_CACHE[key]
    path = os.path.join(
        tempfile.gettempdir(),
        "spark_partitioned",
        sf_dir.strip("/").replace("/", "_"),
        "events",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (events,) = tables(spark, sf_dir, "events")
        events.write.mode("overwrite").partitionBy("event_type").parquet(path)
    _PART_CACHE[key] = path
    return path


def op_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned read over a Hive-partitioned copy of events:
    the event_type predicate is resolved against the directory listing
    (PartitionFilters in the scan), so the files of every other type
    are never opened — at 100 TB, partitioning on the dominant filter
    column is the first-order I/O optimization, ahead of row-group
    stats. The plan shape is pinned in tests/test_plans.py."""
    path = _partitioned_events(spark, sf_dir)
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


OP_PARTITION_PRUNE_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(value), 4) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE event_type = 'click'
GROUP BY event_type
ORDER BY event_type
"""


def op_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC keep-latest: one surviving row per (user_id, event_type) —
    the newest by (ts, event_id) — the standard compaction step for
    change streams / mutable-entity snapshots before training joins.

    Expressed as max_by over a composite ordering struct instead of
    the window row_number idiom: aggregation gets map-side partial
    combine (each task keeps one candidate per key before the
    shuffle), while row_number must shuffle AND sort every full
    partition — at 100 TB that's the difference between a combine
    and a global per-key sort."""
    (events,) = tables(spark, sf_dir, "events")
    ordering = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.filter(F.col("user_id") < 100)
        .groupBy("user_id", "event_type")
        .agg(F.max_by(F.struct("event_id", "value"), ordering).alias("last"))
        .select(
            "user_id",
            "event_type",
            F.col("last.event_id").alias("event_id"),
            F.round(F.col("last.value"), 4).alias("value"),
        )
        .orderBy("user_id", "event_type")
    )


OP_DEDUP_LATEST_SQL = """
SELECT user_id, event_type, event_id, round(value, 4) AS value
FROM events
WHERE user_id < 100
QUALIFY row_number() OVER (
  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id, event_type
"""


MIX_TAU = 0.7  # mixture temperature (LLaMA-style data recipe)


def op_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data-mixing recipe: per-source sampling weights
    w_s ∝ tokens_s^τ (τ=0.7) normalized over sources, the implied
    target token share at the corpus budget, and the per-source repeat
    factor (epochs) — upsampling small high-quality sources, the
    standard pretraining mixture computation.

    Plan: ONE groupBy(source) aggregate over the corpus (partial agg →
    tiny exchange); the per-source result (a handful of rows) is
    materialized with localCheckpoint so the global-sum branch reads it
    instead of re-scanning the corpus, then cross-joins back as a
    broadcast 1-row total — never a driver collect. Scan-bound (single
    pass) at 100 TB."""
    (documents,) = tables(spark, sf_dir, "documents")
    per_src = (
        documents.select("source", F.size(F.split(F.col("text"), " ")).alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("double").alias("n_tokens"),
        )
        .withColumn("w_raw", F.pow(F.col("n_tokens"), F.lit(MIX_TAU)))
    ).localCheckpoint()
    totals = per_src.agg(
        F.sum("w_raw").alias("w_sum"), F.sum("n_tokens").alias("tok_total")
    )
    return (
        per_src.join(F.broadcast(totals))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.col("w_raw") / F.col("w_sum"), 6).alias("weight"),
            # repeat factor: tokens this source contributes at the
            # budget (= weight * corpus total) over its own tokens
            F.round(
                (F.col("w_raw") / F.col("w_sum")) * F.col("tok_total")
                / F.col("n_tokens"),
                6,
            ).alias("repeat_factor"),
        )
        .orderBy("source")
    )


OP_MIXTURE_WEIGHTS_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(length(string_split(text, ' '))) AS DOUBLE) AS n_tokens
  FROM documents GROUP BY source
), w AS (
  SELECT *, pow(n_tokens, {MIX_TAU}) AS w_raw FROM per_src
), t AS (
  SELECT SUM(w_raw) AS w_sum, SUM(n_tokens) AS tok_total FROM w
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(w_raw / t.w_sum, 6) AS weight,
       round((w_raw / t.w_sum) * t.tok_total / n_tokens, 6) AS repeat_factor
FROM w CROSS JOIN t
ORDER BY source
"""


N_SHARDS = 8  # at real scale: thousands (bounds per-shard sort size)


def op_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout: every document gets a
    shard (hash-assigned — any engine/run reproduces it), a position
    within the shard (hash order = a stable pseudo-random shuffle,
    the property training dataloaders need), and the cumulative token
    offset at which it starts — i.e. the index a shard writer emits.

    Plan: shard assignment is map-only (md5 on the key); position +
    offset are ONE window over (shard) — physically a shuffle into
    N_SHARDS groups, then a per-shard sort: exactly the layout of a
    distributed shard-writing job (one writer task per shard, stable
    order). At 100 TB you raise N_SHARDS into the thousands so each
    shard's sort stays executor-sized; assignment stays map-only.
    Returns the head (first 20 docs) of every shard."""
    (documents,) = tables(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        documents.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
            h.alias("h"),
        )
        .withColumn("shard", F.pmod(F.col("h"), F.lit(N_SHARDS)))
        .withColumn("pos", F.row_number().over(w))
        .withColumn(
            "tok_offset",
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint"),
        )
        .filter(F.col("pos") <= 20)
        .select("shard", "pos", "doc_id", "n_tokens", "tok_offset")
        .orderBy("shard", "pos")
    )


OP_TRAIN_SHARDS_SQL = f"""
WITH assigned AS (
  SELECT doc_id,
         CAST(length(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents
), positioned AS (
  SELECT h % {N_SHARDS} AS shard, doc_id, n_tokens,
         CAST(row_number() OVER w AS INTEGER) AS pos,
         CAST(SUM(n_tokens) OVER w - n_tokens AS BIGINT) AS tok_offset
  FROM assigned
  WINDOW w AS (PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id)
)
SELECT shard, pos, doc_id, n_tokens, tok_offset
FROM positioned WHERE pos <= 20
ORDER BY shard, pos
"""


Z_BITS = 10  # per-dimension rank bits: 1024 range buckets per dim


def _interleave(x, y, bits=Z_BITS):
    """Bit-interleave two non-negative int columns into a z-value:
    bit i of x lands at 2i, bit i of y at 2i+1. 2*bits shift/mask/or
    terms — plain codegen arithmetic, no UDF (well under the ~60-term
    whole-stage-codegen comfort zone measured in BENCH_SCALE r5)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def op_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering for multi-dimensional data
    skipping: rank o_custkey and the order date into 2^Z_BITS range
    buckets each, interleave the rank bits, lay the table out in
    z-value order, and report each of 16 layout buckets' min/max on
    BOTH dimensions plus row count.

    Interleaving RANKS, not raw values, is what Delta/Iceberg
    `OPTIMIZE ZORDER BY` does (range_partition_id): raw-value
    interleaving lets the dimension with wider magnitude own the high
    bits and degenerate to a single-column sort; equal-width rank bits
    give each dimension the same say, so 16 layout buckets (4 z bits =
    2 per dim) bound BOTH columns to ~1/4 of their range per bucket —
    that is the file-skipping guarantee (parquet min/max footers prune
    on either predicate column).

    Scale shape: every rank is `operators.rank.ntile_by_range` — a
    sampled range partition + per-shard rank, the same mechanism as
    Delta's OPTIMIZE ZORDER `range_partition_id` — never a global
    single-task window (the r5 verdict's scale-killer); the z math
    itself is map-side codegen. ntile ties are broken by o_orderkey so
    the oracle replays the exact layout bit-for-bit
    (tests/test_rank.py pins rank parity)."""
    (orders,) = tables(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    tiles = 1 << Z_BITS
    base = orders.select("o_orderkey", "o_custkey", "o_orderdate", day.alias("day"))
    ranked = ntile_by_range(base, tiles, ["o_custkey", "o_orderkey"], out="cr0")
    ranked = ntile_by_range(ranked, tiles, ["day", "o_orderkey"], out="dr0")
    ranked = ranked.select(
        "*",
        (F.col("cr0") - 1).cast("long").alias("cr"),
        (F.col("dr0") - 1).cast("long").alias("dr"),
    )
    z = _interleave(F.col("cr"), F.col("dr"))
    return (
        ntile_by_range(ranked.withColumn("z", z), 16, ["z", "o_orderkey"], out="b16")
        .withColumn("bucket", F.col("b16").cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min(F.col("o_orderdate").cast("string")).alias("min_date"),
            F.max(F.col("o_orderdate").cast("string")).alias("max_date"),
        )
        .orderBy("bucket")
    )


_Z_TERMS = " | ".join(
    f"(((cr >> {i}) & 1) << {2 * i}) | (((dr >> {i}) & 1) << {2 * i + 1})"
    for i in range(10)
)

OP_ZORDER_SQL = f"""
WITH zed AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day
  FROM orders
), ranked AS (
  SELECT *,
    CAST(ntile(1024) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS BIGINT) AS cr,
    CAST(ntile(1024) OVER (ORDER BY day, o_orderkey) - 1 AS BIGINT) AS dr
  FROM zed
), zv AS (
  SELECT o_orderkey, o_custkey, o_orderdate, {_Z_TERMS} AS z FROM ranked
), bucketed AS (
  SELECT *, ntile(16) OVER (ORDER BY z, o_orderkey) AS bucket FROM zv
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
       CAST(MIN(o_orderdate) AS VARCHAR) AS min_date,
       CAST(MAX(o_orderdate) AS VARCHAR) AS max_date
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


def op_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis-Spirakis
    (A-Res): each doc draws a deterministic uniform u from a salted
    md5 of its id and ranks by ln(u)/weight (monotone transform of
    u^(1/w)); the global top-K by that key IS a weighted reservoir
    sample — here weight = n_chars, the length-proportional draw a
    token-budget curator uses.

    Scale shape: the key is map-side codegen; sort(key).limit(K)
    compiles to TakeOrderedAndProject — per-partition partial top-K,
    only K rows per partition cross the exchange (never a full global
    sort). Deterministic u (hash-seeded, engine-reproducible) makes a
    distributed weighted LOTTERY replayable by any engine — the same
    md5 contract as op_hash_sample."""
    (documents,) = tables(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#ws"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars")
    sampled = (
        documents.select("doc_id", "source", "n_chars", key.alias("key"))
        .orderBy(F.col("key").desc(), "doc_id")
        .limit(20)
    )
    w = Window.orderBy(F.col("key").desc(), "doc_id")
    return sampled.select(
        "doc_id",
        "source",
        "n_chars",
        F.round("key", 9).alias("key"),
        F.row_number().over(w).cast("bigint").alias("rk"),
    ).orderBy("rk")


OP_WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
    ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ws'), 1, 8)) AS BIGINT)
        + 0.5) / 4294967296.0) / n_chars AS key
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY key DESC, doc_id) AS rk FROM keyed
)
SELECT doc_id, source, n_chars, round(key, 9) AS key, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 20 ORDER BY rk
"""


def op_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: orders and lineitem co-shuffled on
    orderkey, each key\'s two groups handed to one Python function —
    the per-entity reconciliation shape (orphan detection, per-order
    revenue vs header total) that a MERGE/join can\'t express when the
    logic needs both sides\' full groups imperatively.

    Physical shape (the point of the op): ONE exchange per side on the
    cogroup key and a FlatMapCoGroupsInPandas node — no join operator,
    no row multiplication; at 100 TB each side shuffles once, exactly
    like the equivalent SMJ, but the Python function sees aligned
    groups. Keys bounded (<500) for the oracle\'s sake only."""
    import pandas as pd

    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(F.col("o_orderkey") < 500).select("o_orderkey", "o_totalprice")
    li = lineitem.filter(F.col("l_orderkey") < 500).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )

    def recon(key, odf: "pd.DataFrame", ldf: "pd.DataFrame") -> "pd.DataFrame":
        rev = float((ldf["l_extendedprice"] * (1.0 - ldf["l_discount"])).sum())
        return pd.DataFrame(
            [
                {
                    "o_orderkey": int(key[0]),
                    "has_order": bool(len(odf)),
                    "n_lines": len(ldf),
                    "revenue": round(rev, 4),
                }
            ]
        )

    out = (
        o.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            recon,
            "o_orderkey bigint, has_order boolean, n_lines bigint, revenue double",
        )
    )
    return out.orderBy("o_orderkey")


OP_COGROUP_RECONCILE_SQL = """
WITH o AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 500
), l AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(l_extendedprice * (1.0 - l_discount)) AS rev
  FROM lineitem WHERE l_orderkey < 500 GROUP BY l_orderkey
)
SELECT COALESCE(o.o_orderkey, l.l_orderkey) AS o_orderkey,
       o.o_orderkey IS NOT NULL AS has_order,
       COALESCE(l.n_lines, 0) AS n_lines,
       round(COALESCE(l.rev, 0.0), 4) AS revenue
FROM o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
ORDER BY o_orderkey
"""


def op_udtf_installments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) via LATERAL:
    each order's total split into 1+orderkey%4 installments with the
    classic penny-allocation rule (integer cents, floor division,
    remainder on the last installment — exact in both engines, no
    float rounding ambiguity). The UDTF runs per input row and yields
    a variable-length row set — the API surface for row-expanding
    Python logic that a scalar UDF can't express. Oracle replays the
    cents math with generate_series."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="i int, amount_cents bigint")
    class Installments:
        def eval(self, total_cents: int, n: int):
            base = total_cents // n
            for i in range(n - 1):
                yield i, base
            yield n - 1, total_cents - base * (n - 1)

    spark.udtf.register("iqe_installments", Installments)
    (orders,) = tables(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") < 300).createOrReplaceTempView(
        "_udtf_orders"
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, CAST(t.i AS BIGINT) AS i,
               round(t.amount_cents / CAST(100 AS DOUBLE), 2) AS amount
        FROM _udtf_orders o,
        LATERAL iqe_installments(CAST(round(o.o_totalprice * 100) AS BIGINT),
                                 CAST(1 + o.o_orderkey % 4 AS INT)) t
        ORDER BY o_orderkey, i
        """
    )


OP_UDTF_INSTALLMENTS_SQL = """
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(1 + o_orderkey % 4 AS INTEGER) AS n
  FROM orders WHERE o_orderkey < 300
)
SELECT o_orderkey, CAST(g.i AS BIGINT) AS i,
  round(CASE WHEN g.i < n - 1 THEN cents // n
             ELSE cents - (cents // n) * (n - 1) END / 100.0, 2) AS amount
FROM o CROSS JOIN (SELECT unnest(range(4)) AS i) g
WHERE g.i < o.n
ORDER BY o_orderkey, i
"""


def op_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between each document
    source's n_chars distribution and src1's — the distribution-shift
    gate a pipeline runs before mixing a new source into training
    data. D = max |ECDF_a(x) - ECDF_b(x)| over the pooled support,
    computed with pure window algebra: per-source value counts, a
    pooled grid, running (cumulative/total) ECDFs via prefix sums,
    forward-filled with last_value IGNORE NULLS. Cost is distinct
    values x sources after the first aggregate — independent of
    document count.

    r9-opt: every downstream frame now derives from `counts` —
    totals = sum of counts per source (identical to the old second
    corpus aggregate), and the reference ECDF attaches via a
    max-over-n_chars window on the SAME dense grid instead of a
    self-join that duplicated the whole lineage — 8 documents scans
    → 4 unconditionally, → 1 above the persist_if_large gate (counts
    is values×sources-sized, trivially cacheable; below the gate the
    parallel duplicated subtrees are cheaper than the barrier)."""
    (documents,) = tables(spark, sf_dir, "documents")
    counts = persist_if_large(
        documents.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c")),
        sf_dir,
        "documents",
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    grid = counts.select("n_chars").distinct()
    sources = counts.select("source").distinct()
    dense = grid.crossJoin(sources).join(
        F.broadcast(counts), ["source", "n_chars"], "left"
    )
    w = Window.partitionBy("source").orderBy("n_chars")
    ecdf = (
        dense.withColumn(
            "cum",
            F.sum(F.coalesce(F.col("c"), F.lit(0))).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .join(F.broadcast(totals), "source")
        .select(
            "source", "n_chars", (F.col("cum") / F.col("tot")).alias("F")
        )
    )
    # every (n_chars, source) exists in the dense grid, so the window
    # max picks exactly src1's F — bit-identical to the old inner join
    wref = Window.partitionBy("n_chars")
    return (
        ecdf.withColumn(
            "F_ref",
            F.max(F.when(F.col("source") == "src1", F.col("F"))).over(wref),
        )
        .filter(F.col("source") != "src1")
        .groupBy("source")
        .agg(F.round(F.max(F.abs(F.col("F") - F.col("F_ref"))), 6).alias("ks_d"))
        .orderBy("source")
    )


OP_KS_TEST_SQL = """
WITH counts AS (
  SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars
), totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS tot FROM documents GROUP BY source
), dense AS (
  SELECT s.source, g.n_chars, COALESCE(c.c, 0) AS c
  FROM (SELECT DISTINCT n_chars FROM counts) g
  CROSS JOIN (SELECT DISTINCT source FROM counts) s
  LEFT JOIN counts c ON c.source = s.source AND c.n_chars = g.n_chars
), ecdf AS (
  SELECT d.source, d.n_chars,
    SUM(d.c) OVER (PARTITION BY d.source ORDER BY d.n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      / CAST(t.tot AS DOUBLE) AS F
  FROM dense d JOIN totals t ON t.source = d.source
)
SELECT a.source, round(MAX(abs(a.F - b.F)), 6) AS ks_d
FROM ecdf a JOIN ecdf b ON b.source = 'src1' AND b.n_chars = a.n_chars
WHERE a.source <> 'src1'
GROUP BY a.source ORDER BY a.source
"""


def op_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation (the Great-Expectations-style audit a
    pipeline runs at every ingest boundary): one scan of lineitem
    evaluates every expectation as a conditional aggregate — range
    bounds, non-null, referential key positivity, and composite-key
    uniqueness (distinct vs total) — emitting one row per check with
    violation counts and a pass verdict. Scale: a single partial+final
    aggregate pass; the uniqueness check rides the same scan via
    count_distinct. No row-level quarantine here (that's a filter on
    the same predicates); the audit is the contract's scoreboard.

    r9-opt: the one-row-per-check reshape is an explode of an inline
    struct array over the single 1-row aggregate — the previous
    5-branch union re-referenced the aggregate subtree per check and
    Catalyst re-ran the FULL corpus scan + count_distinct aggregate
    five times (5 corpus scans → 1 in the plan)."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    agg = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (~F.col("l_quantity").between(1, 50)).cast("int")
        ).alias("qty_range"),
        F.sum(
            (~F.col("l_discount").between(0.0, 0.1)).cast("int")
        ).alias("disc_range"),
        F.sum(F.col("l_shipdate").isNull().cast("int")).alias("ship_null"),
        F.sum((F.col("l_orderkey") <= 0).cast("int")).alias("key_nonpos"),
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        ).alias("dup_keys"),
    )
    checks = [
        ("quantity_in_1_50", "qty_range"),
        ("discount_in_0_0.1", "disc_range"),
        ("shipdate_not_null", "ship_null"),
        ("orderkey_positive", "key_nonpos"),
        ("orderkey_linenumber_unique", "dup_keys"),
    ]
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check"),
                        F.col(colname).cast("bigint").alias("violations"),
                        (F.col(colname) == 0).alias("passed"),
                        F.col("n").cast("bigint").alias("n_rows"),
                    )
                    for name, colname in checks
                ]
            )
        ).alias("r")
    )
    return rows.select("r.*").orderBy("check")


OP_CONTRACT_CHECK_SQL = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END)
         AS BIGINT) AS qty_range,
    CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END)
         AS BIGINT) AS disc_range,
    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS ship_null,
    CAST(SUM(CASE WHEN l_orderkey <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS key_nonpos,
    CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
      AS dup_keys
  FROM lineitem
)
SELECT "check", violations, violations = 0 AS passed, n AS n_rows FROM (
  SELECT 'quantity_in_1_50' AS "check", qty_range AS violations, n FROM agg
  UNION ALL SELECT 'discount_in_0_0.1', disc_range, n FROM agg
  UNION ALL SELECT 'shipdate_not_null', ship_null, n FROM agg
  UNION ALL SELECT 'orderkey_positive', key_nonpos, n FROM agg
  UNION ALL SELECT 'orderkey_linenumber_unique', dup_keys, n FROM agg
)
ORDER BY "check"
"""


def op_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two time slices of the order
    totalprice distribution — THE production drift monitor for a
    feature/score column (PSI < 0.1 stable, > 0.25 action). Reference
    period = orders before 1995, comparison = 1995 onward; 10
    equal-width bins over the GLOBAL min/max so both periods share the
    grid.

    Scale shape: one 1-row bounds aggregate (value min/max + the date
    MIDPOINT that splits ref/compare — data-driven, so the op is
    corpus-agnostic; broadcast as a 1-row cross, allowlisted scalar
    pattern), one partial+final count per (bin, period), and a 20-row
    reshape — the fact table crosses one exchange, bin math is
    map-side codegen. Zero-count bins contribute 0 by convention
    (documented; avoids the +epsilon fudge that makes PSI depend on
    corpus size). Shares divide as DOUBLE (ANSI-safe: a degenerate
    single-period corpus reads NaN, never a DIVIDE_BY_ZERO abort)."""
    (orders,) = tables(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_totalprice").cast("double").alias("x"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    bounds = base.agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.date_add(
            F.min("d"),
            F.floor(F.datediff(F.max("d"), F.min("d")) / 2).cast("int"),
        ).alias("mid"),
    )
    binned = base.crossJoin(F.broadcast(bounds)).select(
        (F.col("d") < F.col("mid")).alias("is_ref"),
        F.least(
            F.lit(9),
            F.floor((F.col("x") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10.0)),
        )
        .cast("int")
        .alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cmp"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cmp").alias("t_cmp")
    )
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cmp").cast("bigint").alias("n_cmp"),
        (F.col("n_ref").cast("double") / F.col("t_ref").cast("double")).alias("p_ref"),
        (F.col("n_cmp").cast("double") / F.col("t_cmp").cast("double")).alias("p_cmp"),
    )
    contrib = F.when(
        (F.col("p_ref") > 0) & (F.col("p_cmp") > 0),
        (F.col("p_ref") - F.col("p_cmp")) * F.log(F.col("p_ref") / F.col("p_cmp")),
    ).otherwise(F.lit(0.0))
    return (
        shares.select(
            "bin",
            "n_ref",
            "n_cmp",
            F.round("p_ref", 6).alias("p_ref"),
            F.round("p_cmp", 6).alias("p_cmp"),
            F.round(contrib, 6).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


OP_PSI_DRIFT_SQL = """
WITH base AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x, CAST(o_orderdate AS DATE) AS d
  FROM orders
), bounds AS (
  SELECT MIN(x) AS lo, MAX(x) AS hi,
         MIN(d) + CAST(FLOOR(date_diff('day', MIN(d), MAX(d)) / 2) AS INTEGER) AS mid
  FROM base
), binned AS (
  SELECT d < mid AS is_ref,
         CAST(LEAST(9, FLOOR((x - lo) / ((hi - lo) / 10.0))) AS INTEGER) AS bin
  FROM base CROSS JOIN bounds
), counts AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cmp
  FROM binned GROUP BY bin
), tot AS (
  SELECT SUM(n_ref) AS t_ref, SUM(n_cmp) AS t_cmp FROM counts
), shares AS (
  SELECT bin, n_ref, n_cmp,
         n_ref / CAST(t_ref AS DOUBLE) AS p_ref,
         n_cmp / CAST(t_cmp AS DOUBLE) AS p_cmp
  FROM counts CROSS JOIN tot
)
SELECT bin, n_ref, n_cmp,
       round(p_ref, 6) AS p_ref, round(p_cmp, 6) AS p_cmp,
       round(CASE WHEN p_ref > 0 AND p_cmp > 0
                  THEN (p_ref - p_cmp) * ln(p_ref / p_cmp) ELSE 0.0 END, 6)
         AS psi_contrib
FROM shares ORDER BY bin
"""


def op_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew report for orders.o_custkey: exact count
    percentiles, the max key's load, the top-5 keys' share, and the
    GINI coefficient of the per-key distribution — the diagnostic that
    decides whether a key needs salting (op_skew_join) before a 100 TB
    shuffle.

    Scale shape: one partial+final count per key, percentiles on the
    keys-sized aggregate, and the Gini's rank-weighted sum via
    operators.rank.ranked_by_range — the same distributed two-pass
    rank as ev_rfm/op_zorder (a global row_number window here would
    single-task the 10^8-key cardinality of a real fact table). The
    rank-weighted sum accumulates as DOUBLE: bigint would overflow at
    10^9 keys x 10^4 rows (rn*cnt ~ 1e13 summed), and the Gini is a
    magnitude-uniform positive ratio, so double partial-sum order
    cannot move round(.,6)."""
    (orders,) = tables(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    ranked, n = ranked_by_range(per_key, ["cnt", "o_custkey"], out="rn")
    top5 = F.sum(F.when(F.col("rn") > n - 5, F.col("cnt")).otherwise(0))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.round(F.expr("percentile(cnt, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(cnt, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.round(top5.cast("double") / F.sum("cnt"), 6).alias("top5_share"),
        F.round(
            (2.0 * F.sum(F.col("rn").cast("double") * F.col("cnt").cast("double")))
            / (F.count(F.lit(1)).cast("double") * F.sum("cnt").cast("double"))
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("gini"),
    )


OP_KEY_SKEW_SQL = """
WITH per_key AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt, o_custkey) AS rn,
         COUNT(*) OVER () AS n
  FROM per_key
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
  round(CAST(quantile_cont(cnt, 0.5) AS DOUBLE), 6) AS p50,
  round(CAST(quantile_cont(cnt, 0.9) AS DOUBLE), 6) AS p90,
  round(CAST(quantile_cont(cnt, 0.99) AS DOUBLE), 6) AS p99,
  CAST(MAX(cnt) AS BIGINT) AS max_cnt,
  round(SUM(CASE WHEN rn > n - 5 THEN cnt ELSE 0 END)
        / CAST(SUM(cnt) AS DOUBLE), 6) AS top5_share,
  round((2.0 * SUM(CAST(rn AS DOUBLE) * CAST(cnt AS DOUBLE)))
        / (COUNT(*) * SUM(cnt))
        - (COUNT(*) + 1) / CAST(COUNT(*) AS DOUBLE), 6) AS gini
FROM ranked
"""


PR_DAMPING = 0.85
PR_ITERS = 3


def op_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (nodes = event
    types, edge weights = lag-derived bigram counts), damping 0.85,
    exactly PR_ITERS iterations from a uniform start — the iterative-
    algorithm shape (influence scoring, link analysis) expressed as a
    deterministic unrolled DataFrame loop with an exact unrolled-CTE
    oracle.

    Scale shape: the ONLY fact-sized work is the bigram aggregate (one
    user-partitioned window + partial+final count, same as
    ev_path_transitions); every iteration then runs on the |types|^2
    grid (tiny broadcast joins). On a BILLION-edge graph the identical
    loop is one edges-shuffle per iteration, partitioned by dst — the
    same per-round shape as dedup_clusters' pointer-jumping CC, this
    repo's large-graph sibling. Dangling mass is redistributed
    uniformly (the standard correction), so ranks sum to 1 every
    iteration."""
    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        events.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    out_w = edges.groupBy("src").agg(F.sum("n").alias("out_n"))
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(out_w, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("n") / F.col("out_n")).alias("inflow"))
        )
        dangling = (
            ranks.join(out_w, ranks.node == out_w.src, "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - PR_DAMPING) / n_nodes)
                    + PR_DAMPING
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dang") / n_nodes)
                ).alias("r"),
            )
        )
    return ranks.select("node", F.round("r", 6).alias("pagerank")).orderBy(
        F.col("pagerank").desc(), "node"
    )


def _pagerank_oracle() -> str:
    iters = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
r{i} AS (
  SELECT node,
    (1 - {PR_DAMPING}) / nn.n_nodes
    + {PR_DAMPING} * (
        COALESCE((SELECT SUM(p.r * e.n / ow.out_n)
                  FROM {prev} p JOIN edges e ON e.src = p.node
                  JOIN out_w ow ON ow.src = p.node
                  WHERE e.dst = nodes.node), 0.0)
        + (SELECT COALESCE(SUM(p.r), 0.0) FROM {prev} p
           WHERE p.node NOT IN (SELECT src FROM out_w)) / nn.n_nodes
      ) AS r
  FROM nodes CROSS JOIN nn
)""")
        prev = f"r{i}"
    body = ",".join(iters)
    return f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), edges AS (
  SELECT prev AS src, event_type AS dst, CAST(COUNT(*) AS DOUBLE) AS n
  FROM ordered WHERE prev IS NOT NULL GROUP BY 1, 2
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst FROM edges
), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes),
out_w AS (SELECT src, SUM(n) AS out_n FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n_nodes AS r FROM nodes CROSS JOIN nn),{body}
SELECT node, round(r, 6) AS pagerank FROM {prev}
ORDER BY pagerank DESC, node
"""


# --------------------------------------------------------------------------
def op_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime revenue, global + per
    market segment — inequality/concentration report for a corpus
    (the revenue twin of op_key_skew's row-count view).

    Gini = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over revenues x sorted
    ascending with rank i. Scale shape: one shuffle to the per-customer
    aggregate, then the GLOBAL rank uses operators/rank.ranked_by_range
    (range-partitioned two-pass — never a single-partition window);
    per-segment ranks are windows PARTITIONED by segment. The final
    sums are ordinary partial+final aggregates.

    r9-opt: `rev` (the per-customer aggregate — customer-count-
    sized) is referenced by both the global and per-segment branches,
    each re-running the orders scan + aggregate + customer join.
    Above the persist_if_large gate it is lazily persisted once
    (orders/customer each scanned 2x → 1x); below it recomputation
    is cheaper than the barrier.
    """
    customer, orders = tables(spark, sf_dir, "customer", "orders")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
        .join(customer.select("c_custkey", "c_mktsegment"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_mktsegment", "revenue")
    )
    rev = persist_if_large(rev, sf_dir, "orders", "customer")
    ranked, _ = ranked_by_range(rev, ["revenue", "c_custkey"], out="rn")

    def gini_agg():
        n = F.count(F.lit(1)).cast("double")
        s = F.sum("revenue")
        s1 = F.sum(F.col("rn") * F.col("revenue"))
        return [
            F.round(F.lit(2.0) * s1 / (n * s) - (n + F.lit(1.0)) / n, 6).alias("gini"),
            F.count(F.lit(1)).alias("n_customers"),
        ]

    glob = ranked.agg(*gini_agg()).select(F.lit("GLOBAL").alias("scope"), "gini", "n_customers")
    w = Window.partitionBy("c_mktsegment").orderBy("revenue", "c_custkey")
    seg = (
        rev.withColumn("rn", F.row_number().over(w))
        .groupBy(F.col("c_mktsegment").alias("scope"))
        .agg(*gini_agg())
    )
    return glob.unionByName(seg).orderBy("scope")


OP_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey AS c_custkey, c_mktsegment, SUM(o_totalprice) AS revenue
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
g AS (
  SELECT c_mktsegment, revenue,
         row_number() OVER (ORDER BY revenue, c_custkey) AS rn,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY revenue, c_custkey) AS seg_rn
  FROM rev
)
SELECT 'GLOBAL' AS scope,
  round(2.0 * SUM(rn * revenue) / (COUNT(*) * SUM(revenue))
        - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini,
  COUNT(*) AS n_customers
FROM g
UNION ALL
SELECT c_mktsegment AS scope,
  round(2.0 * SUM(seg_rn * revenue) / (COUNT(*) * SUM(revenue))
        - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini,
  COUNT(*) AS n_customers
FROM g GROUP BY c_mktsegment
ORDER BY scope
"""


# --------------------------------------------------------------------------
IV_BIN_WIDTH = 60000.0  # fixed-width o_totalprice bins: no data-dependent edges
IV_MAX_BINS = 10


def op_iv_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value feature screen — the
    standard scorecard diagnostic for 'does this feature separate the
    target?', here target = order fully shipped (o_orderstatus = 'F').

    Two features: categorical o_orderpriority (its 5 levels are the
    bins) and numeric o_totalprice in fixed-width bins (width a
    CONSTANT, so bin edges are not data-dependent and no global
    min/max pass is needed). WOE_i = ln(good_i/good_tot ÷
    bad_i/bad_tot); IV = Σ (good_share - bad_share) * WOE.

    Scale shape: one partial+final aggregate to (feature, bin) counts
    (bin count bounded: 5 + 10), then windows PARTITIONED by feature
    over that bounded grid. Zero-count cells yield NULL woe (no
    epsilon fudge), excluded from the IV sum on both sides.
    """
    (orders,) = tables(spark, sf_dir, "orders")
    binned = orders.select(
        F.col("o_orderstatus"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("orderpriority").alias("feature"),
                    F.col("o_orderpriority").alias("bin"),
                ),
                F.struct(
                    F.lit("totalprice").alias("feature"),
                    F.format_string(
                        "bin_%02d",
                        F.least(
                            F.floor(F.col("o_totalprice") / F.lit(IV_BIN_WIDTH)),
                            F.lit(IV_MAX_BINS - 1),
                        ).cast("int"),
                    ).alias("bin"),
                ),
            )
        ).alias("fb"),
    ).select("o_orderstatus", "fb.feature", "fb.bin")
    counts = binned.groupBy("feature", "bin").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("bad"),
        F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0)).alias("good"),
    )
    w = Window.partitionBy("feature")
    shares = counts.select(
        "feature",
        "bin",
        "bad",
        "good",
        (F.col("good") / F.sum("good").over(w)).alias("gs"),
        (F.col("bad") / F.sum("bad").over(w)).alias("bs"),
    )
    woe = F.when(
        (F.col("good") > 0) & (F.col("bad") > 0), F.log(F.col("gs") / F.col("bs"))
    )
    out = shares.select(
        "feature",
        "bin",
        "bad",
        "good",
        F.round(woe, 6).alias("woe"),
        F.round(
            F.sum(
                F.when((F.col("good") > 0) & (F.col("bad") > 0),
                       (F.col("gs") - F.col("bs")) * woe).otherwise(0.0)
            ).over(w),
            6,
        ).alias("feature_iv"),
    )
    return out.orderBy("feature", "bin")


OP_IV_WOE_SQL = f"""
WITH binned AS (
  SELECT o_orderstatus, 'orderpriority' AS feature, o_orderpriority AS bin FROM orders
  UNION ALL
  SELECT o_orderstatus, 'totalprice' AS feature,
         printf('bin_%02d', CAST(least(floor(o_totalprice / {IV_BIN_WIDTH}),
                                       {IV_MAX_BINS - 1}) AS INT)) AS bin
  FROM orders
),
counts AS (
  SELECT feature, bin,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS bad,
         SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS good
  FROM binned GROUP BY 1, 2
),
shares AS (
  SELECT feature, bin, bad, good,
         good / CAST(SUM(good) OVER (PARTITION BY feature) AS DOUBLE) AS gs,
         bad / CAST(SUM(bad) OVER (PARTITION BY feature) AS DOUBLE) AS bs
  FROM counts
)
SELECT feature, bin, CAST(bad AS BIGINT) AS bad, CAST(good AS BIGINT) AS good,
  round(CASE WHEN good > 0 AND bad > 0 THEN ln(gs / bs) END, 6) AS woe,
  round(SUM(CASE WHEN good > 0 AND bad > 0 THEN (gs - bs) * ln(gs / bs)
            ELSE 0.0 END) OVER (PARTITION BY feature), 6) AS feature_iv
FROM shares
ORDER BY feature, bin
"""


# --------------------------------------------------------------------------
PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey"]


def op_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiler: per-column rows / nulls / distincts / Shannon
    entropy / modal value over selected orders columns — the first
    thing a data-curation pipeline runs on a new 100 TB drop.

    Scale shape: map-side explode to (column, value) pairs (×C rows,
    no shuffle), ONE shuffle to (column, value) counts, then a
    partial+final aggregate per column. Entropy uses the one-pass
    identity H = ln(n) − Σ c·ln(c)/n so no second scan is needed; the
    modal value is max(struct(cnt, value)) — an ordinary aggregate,
    deterministic under ties (highest count, then lexicographically
    largest value).
    """
    (orders,) = tables(spark, sf_dir, "orders")
    pairs = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.coalesce(F.col(c).cast("string"), F.lit("<null>")).alias("value"),
                        F.col(c).isNull().cast("int").alias("is_null"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.column", "p.value", "p.is_null")
    counts = pairs.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("is_null").alias("nulls")
    )
    n = F.sum("cnt")
    return (
        counts.groupBy("column")
        .agg(
            n.alias("n_rows"),
            F.sum("nulls").alias("n_nulls"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                F.log(n.cast("double"))
                - F.sum(F.col("cnt") * F.log(F.col("cnt").cast("double"))) / n,
                6,
            ).alias("entropy"),
            F.max(F.struct(F.col("cnt"), F.col("value"))).getField("value").alias("top_value"),
            F.max(F.struct(F.col("cnt"), F.col("value"))).getField("cnt").alias("top_count"),
        )
        .orderBy("column")
    )


def _profile_oracle() -> str:
    unions = " UNION ALL ".join(
        f"SELECT '{c}' AS col, COALESCE(CAST({c} AS VARCHAR), '<null>') AS value, "
        f"CASE WHEN {c} IS NULL THEN 1 ELSE 0 END AS is_null FROM orders"
        for c in PROFILE_COLS
    )
    return f"""
WITH pairs AS ({unions}),
counts AS (
  SELECT col, value, COUNT(*) AS cnt, SUM(is_null) AS nulls
  FROM pairs GROUP BY 1, 2
),
top AS (
  SELECT col, value AS top_value, cnt AS top_count,
         row_number() OVER (PARTITION BY col ORDER BY cnt DESC, value DESC) AS rk
  FROM counts
)
SELECT c.col AS "column", CAST(SUM(c.cnt) AS BIGINT) AS n_rows,
  CAST(SUM(c.nulls) AS BIGINT) AS n_nulls,
  CAST(COUNT(*) AS BIGINT) AS n_distinct,
  round(ln(CAST(SUM(c.cnt) AS DOUBLE))
        - SUM(c.cnt * ln(CAST(c.cnt AS DOUBLE))) / SUM(c.cnt), 6) AS entropy,
  MAX(t.top_value) AS top_value, CAST(MAX(t.top_count) AS BIGINT) AS top_count
FROM counts c JOIN top t ON t.col = c.col AND t.rk = 1
GROUP BY c.col
ORDER BY c.col
"""


# --------------------------------------------------------------------------
FUZZY_MAX_DIST = 3
FUZZY_PREFIX = 4  # block on the name's first 4 chars + length band


def op_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join of the part-name dictionary — the
    entity-resolution primitive (find near-identical names without the
    O(V²) cross product). Semantics are blocking-inclusive by design,
    the standard ER trade: a candidate pair must share its first
    FUZZY_PREFIX chars and sit within ±2 length, then pass
    levenshtein ≤ FUZZY_MAX_DIST.

    Scale shape: DISTINCT names first (dictionary-sized, not
    row-sized), then an EQUI-join on the block key — Catalyst shuffles
    on the prefix, so cost is Σ block² over blocks instead of V²; the
    length band and edit distance run as residual filters inside the
    join. At 100 TB the dictionary is the distinct-value count and the
    block histogram (op_key_skew) tells you if a prefix needs salting.

    r9-opt: `names` feeds both self-join sides; above the
    persist_if_large gate the dictionary (distinct-value-sized) is
    lazily persisted so the corpus scan + distinct runs once — runtime
    exchange reuse merges the two sides under collect-style actions,
    but that merge is action- and pruning-dependent (measured: it does
    NOT fire under a noop write), so the persist makes it structural.
    """
    (part,) = tables(spark, sf_dir, "part")
    names = persist_if_large(part.select("p_name").distinct(), sf_dir, "part")
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.substring("p_name", 1, FUZZY_PREFIX).alias("blk_a"),
        F.length("p_name").alias("len_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.substring("p_name", 1, FUZZY_PREFIX).alias("blk_b"),
        F.length("p_name").alias("len_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, F.col("blk_a") == F.col("blk_b"))
        .filter(
            (F.abs(F.col("len_a") - F.col("len_b")) <= 2)
            & (F.col("name_a") < F.col("name_b"))
            & (dist <= FUZZY_MAX_DIST)
        )
        .select(
            "name_a",
            "name_b",
            dist.cast("bigint").alias("edit_dist"),
            F.round(
                F.lit(1.0)
                - dist / F.greatest("len_a", "len_b").cast("double"),
                6,
            ).alias("similarity"),
        )
        .orderBy("name_a", "name_b")
    )


OP_FUZZY_JOIN_SQL = f"""
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
  round(1.0 - levenshtein(a.p_name, b.p_name)
              / CAST(greatest(length(a.p_name), length(b.p_name)) AS DOUBLE),
        6) AS similarity
FROM names a JOIN names b
  ON substr(a.p_name, 1, {FUZZY_PREFIX}) = substr(b.p_name, 1, {FUZZY_PREFIX})
WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
  AND a.p_name < b.p_name
  AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
ORDER BY name_a, name_b
"""


# --------------------------------------------------------------------------
TRIANGLE_TOP = 20


def op_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the co-purchase graph (parts
    sharing an order), by DEGREE ORIENTATION — the algorithm behind
    GraphFrames/GraphX triangleCount and every MapReduce triangle
    paper: direct each undirected edge from its lower-(degree, id)
    endpoint to the higher, so out-degree is O(√m) even on power-law
    graphs, then count wedges that close.

    Scale shape: edge build is a self-equi-join on l_orderkey (one
    co-partitioned shuffle) + DISTINCT; orientation joins the bounded
    degree table; the wedge join e1.t = e2.s carries Σ outdeg² pairs —
    the term orientation exists to bound (unoriented it would be
    Σ deg², quadratic in hub degree). Per-node participation is an
    explode + count; top-N is TakeOrderedAndProject.
    """
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    li = lineitem.select("l_orderkey", "l_partkey")
    raw = (
        li.alias("a")
        .join(li.alias("b"), F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    deg = (
        raw.select(F.col("u").alias("node"))
        .unionAll(raw.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lower = (F.struct(F.col("du.d"), F.col("u")) < F.struct(F.col("dv.d"), F.col("v")))
    dire = (
        raw.join(deg.alias("du"), F.col("u") == F.col("du.node"))
        .join(deg.alias("dv"), F.col("v") == F.col("dv.node"))
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    e1 = dire.select(F.col("s").alias("ta"), F.col("t").alias("tb"))
    e2 = dire.select(F.col("s").alias("tb2"), F.col("t").alias("tc"))
    e3 = dire.select(F.col("s").alias("ta3"), F.col("t").alias("tc3"))
    tri = (
        e1.join(e2, F.col("tb") == F.col("tb2"))
        .join(e3, (F.col("ta") == F.col("ta3")) & (F.col("tc") == F.col("tc3")))
        .select("ta", "tb", "tc")
    )
    per_node = (
        tri.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        per_node.join(deg, "node")
        .select("node", "d", "n_triangles")
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(TRIANGLE_TOP)
    )


OP_TRIANGLE_COUNT_SQL = f"""
WITH raw AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM raw UNION ALL SELECT v FROM raw)
  GROUP BY node
),
dir AS (
  SELECT CASE WHEN (du.d, r.u) < (dv.d, r.v) THEN r.u ELSE r.v END AS s,
         CASE WHEN (du.d, r.u) < (dv.d, r.v) THEN r.v ELSE r.u END AS t
  FROM raw r JOIN deg du ON du.node = r.u JOIN deg dv ON dv.node = r.v
),
tri AS (
  SELECT e1.s AS ta, e1.t AS tb, e2.t AS tc
  FROM dir e1 JOIN dir e2 ON e2.s = e1.t
  JOIN dir e3 ON e3.s = e1.s AND e3.t = e2.t
),
per_node AS (
  SELECT node, COUNT(*) AS n_triangles
  FROM (SELECT unnest([ta, tb, tc]) AS node FROM tri)
  GROUP BY node
)
SELECT p.node, CAST(g.d AS BIGINT) AS d, CAST(p.n_triangles AS BIGINT) AS n_triangles
FROM per_node p JOIN deg g ON g.node = p.node
ORDER BY n_triangles DESC, p.node
LIMIT {TRIANGLE_TOP}
"""


# --------------------------------------------------------------------------
RUNNING_EVERY = 500  # emit every Nth rank — presentation thinning only


def op_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global running revenue over the full order history — the
    classic 'cumulative revenue to date' query that is a
    single-partition `SUM() OVER (ORDER BY ...)` stall on naive
    engines. Here both the rank and the running sum are
    range-partitioned two-pass operators (operators/rank.py): shard by
    date range, per-shard cumulative window, add the shard's prefix
    total. The value is summed as DECIMAL so the distributed addition
    order is irrelevant (bit-identical to the serial oracle); every
    RUNNING_EVERY-th rank is emitted (thinning the print, not the
    computation).
    """
    from ..operators.rank import cumsum_by_range

    (orders,) = tables(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    ranked = cumsum_by_range(
        base, ["o_orderdate", "o_orderkey"], "price", out="running", rank_out="rn"
    )
    return (
        ranked.filter(F.col("rn") % RUNNING_EVERY == 0)
        .select(
            "rn",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.col("running").cast("double").alias("running"),
        )
        .orderBy("rn")
    )


OP_RUNNING_TOTAL_SQL = f"""
WITH r AS (
  SELECT o_orderkey, o_orderdate,
    row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn,
    SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      OVER (ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM orders
)
SELECT rn, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       CAST(running AS DOUBLE) AS running
FROM r WHERE rn % {RUNNING_EVERY} = 0
ORDER BY rn
"""


# --------------------------------------------------------------------------
BSJ_K = 3  # bloom hash functions
BSJ_M = 4096  # bit space = one 3-hex-char md5 slice, no modulo bias


def op_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-semi-join as an EXPLICIT operator: build a deterministic
    Bloom filter from the filtered dimension's keys (parts with 'red'
    in the name) and pre-filter the fact MAP-SIDE before the exact
    join — the reduction Spark's runtime bloom join applies when its
    cost model fires, here reproducible and oracle-verified (it is
    also what plans/rewrites.py injects into q9 at sf100).

    Scale shape (r9-opt rewrite): the FACT is scanned ONCE — the exact
    membership flag rides the probe pass as a broadcast LEFT join on
    the (unique-keyed) dim instead of a second fact scan + leftsemi
    (runtime executed plan: 4 FileScans → 3, the removed one being the
    corpus-sized fact). Every probe joins the IDENTICAL bits subtree,
    making the single broadcast build structural in the initial plan
    rather than recovered by runtime exchange reuse (the old aliased
    loop planned 3 separate bits lineages; AQE canonicalization
    happened to merge them at runtime — now nothing depends on that).
    Probing stays BSJ_K O(1)-lookup broadcast hash joins — map-only
    over the fact, NO fact shuffle (an array_contains probe against a
    collapsed bit array was measured 5× SLOWER here: it linear-scans
    ≤ BSJ_M elements per probe per row). No-false-negative stays a
    structural guarantee (n_pass ≥ n_true always).
    """
    part, lineitem = tables(spark, sf_dir, "part", "lineitem")
    dim = part.filter(F.col("p_name").like("%red%")).select("p_partkey")

    def positions(c):
        return [
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"j{i}:"), c.cast("string"))), 1, 3
                ),
                16,
                10,
            ).cast("bigint")
            for i in range(BSJ_K)
        ]

    bits = (
        dim.select(F.explode(F.array(*positions(F.col("p_partkey")))).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    fact = lineitem.select("l_partkey", "l_returnflag")
    probed = fact
    verdict = None
    for i, p in enumerate(positions(F.col("l_partkey"))):
        # same broadcast subtree every iteration → one build, reused
        probed = (
            probed.withColumn("pos", p)
            .join(F.broadcast(bits), "pos", "left")
            .withColumnRenamed("hit", f"hit{i}")
            .drop("pos")
        )
        hit = F.coalesce(F.col(f"hit{i}"), F.lit(False))
        verdict = hit if verdict is None else (verdict & hit)
    # p_partkey is unique (part PK), so the LEFT join attaches an
    # is-true flag without duplicating fact rows — replaces the old
    # second lineitem scan + leftsemi with the same broadcast build
    flagged = probed.withColumn("passed", verdict).join(
        broadcast_if_small(dim.withColumn("_true", F.lit(1)), sf_dir, "part"),
        F.col("l_partkey") == F.col("p_partkey"),
        "left",
    )
    return (
        flagged.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_fact"),
            F.sum(F.col("passed").cast("int")).cast("bigint").alias("n_pass"),
            F.sum(F.coalesce(F.col("_true"), F.lit(0)))
            .cast("bigint")
            .alias("n_true"),
        )
        .select(
            "l_returnflag",
            "n_fact",
            "n_pass",
            "n_true",
            F.round(
                (F.col("n_pass") - F.col("n_true")) / F.col("n_pass"), 6
            ).alias("fp_share_of_pass"),
            (F.col("n_pass") >= F.col("n_true")).alias("no_false_negative"),
        )
        .orderBy("l_returnflag")
    )


OP_BLOOM_SEMI_JOIN_SQL = f"""
WITH dim AS (
  SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
),
bits AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5('j' || g.i || ':' || CAST(p_partkey AS VARCHAR)), 1, 3))
         AS BIGINT) AS pos
  FROM dim CROSS JOIN (SELECT unnest(range({BSJ_K})) AS i) g
),
keys AS (SELECT DISTINCT l_partkey FROM lineitem),
key_verdict AS (
  SELECT l_partkey,
    ((SELECT COUNT(*) FROM (SELECT unnest(range({BSJ_K})) AS i) g
      WHERE CAST(('0x' || substr(md5('j' || g.i || ':'
                 || CAST(l_partkey AS VARCHAR)), 1, 3)) AS BIGINT)
            IN (SELECT pos FROM bits)) = {BSJ_K}) AS passed,
    EXISTS (SELECT 1 FROM dim d WHERE d.p_partkey = keys.l_partkey) AS is_true
  FROM keys
)
SELECT l.l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_fact,
  CAST(SUM(CASE WHEN kv.passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  CAST(SUM(CASE WHEN kv.is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  round((SUM(CASE WHEN kv.passed THEN 1 ELSE 0 END)
         - SUM(CASE WHEN kv.is_true THEN 1 ELSE 0 END))
        / CAST(SUM(CASE WHEN kv.passed THEN 1 ELSE 0 END) AS DOUBLE), 6)
    AS fp_share_of_pass,
  SUM(CASE WHEN kv.passed THEN 1 ELSE 0 END)
    >= SUM(CASE WHEN kv.is_true THEN 1 ELSE 0 END) AS no_false_negative
FROM lineitem l JOIN key_verdict kv ON kv.l_partkey = l.l_partkey
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


# --------------------------------------------------------------------------
FI_MIN_SUPPORT = 3  # absolute pair-support floor (sf-dependent; ~60 pairs at sf0.01)
FI_TOP = 25


def op_freq_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item pairs with lift (A-Priori's second pass, the
    market-basket primitive): parts co-occurring in ≥ FI_MIN_SUPPORT
    orders, scored by lift = P(ab)/(P(a)·P(b)).

    Scale shape: the pair stream is one co-partitioned self-join on
    the order key (map-side pair emission, partial+final count) —
    never an all-pairs product over the catalog; item supports are one
    aggregate; the support floor prunes BEFORE the lift join (the
    A-Priori downward-closure trick), so the join input is
    frequent-pairs-sized. Top-N is TakeOrderedAndProject.

    r9-opt: the deduplicated basket table `li` is referenced five
    times (both self-join sides, both item supports, the order
    denominator) and Catalyst re-runs the lineitem scan + distinct
    exchange for each. Above the persist_if_large gate it is lazily
    persisted once (5 corpus scans + 5 corpus-sized distinct shuffles
    → 1 + 1, the dedup_simhash self-join precedent); below it the
    parallel re-runs are cheaper than the materialization barrier.
    """
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    li = persist_if_large(
        lineitem.select("l_orderkey", "l_partkey").distinct(), sf_dir, "lineitem"
    )
    # 1-row denominator stays IN the plan (crossJoin(broadcast) below),
    # matching the repo-wide pattern — no separate driver-side job
    n_orders = li.select(
        F.count_distinct(F.col("l_orderkey")).cast("double").alias("n_orders")
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("item_a"),
            F.col("b.l_partkey").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= FI_MIN_SUPPORT)
    )
    items = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("item_n")
    )
    return (
        pairs.join(items.withColumnRenamed("item", "item_a")
                   .withColumnRenamed("item_n", "n_a"), "item_a")
        .join(items.withColumnRenamed("item", "item_b")
              .withColumnRenamed("item_n", "n_b"), "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "support",
            F.round(
                (F.col("support") / F.col("n_orders"))
                / ((F.col("n_a") / F.col("n_orders"))
                   * (F.col("n_b") / F.col("n_orders"))),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("support").desc(), "item_a", "item_b")
        .limit(FI_TOP)
    )


OP_FREQ_ITEMSETS_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM li),
pairs AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS support
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {FI_MIN_SUPPORT}
),
items AS (SELECT l_partkey AS item, COUNT(*) AS item_n FROM li GROUP BY 1)
SELECT p.item_a, p.item_b, CAST(p.support AS BIGINT) AS support,
  round((p.support / n.n_orders)
        / ((ia.item_n / n.n_orders) * (ib.item_n / n.n_orders)), 6) AS lift
FROM pairs p
JOIN items ia ON ia.item = p.item_a
JOIN items ib ON ib.item = p.item_b
CROSS JOIN n
ORDER BY support DESC, item_a, item_b
LIMIT {FI_TOP}
"""


# --------------------------------------------------------------------------
def op_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC change stream (I/U/D ops with sequence numbers) to a
    base table in ONE batch — the Debezium-consumer primitive. The
    change log is synthesized deterministically from orders: every
    20th key gets an Update (+10% price), every 30th a Delete, keys
    900..949 are Inserts; sequence = the change's rank for the key.

    Semantics: latest change per key wins (max sequence); D removes the
    row; U/I upserts. Scale shape: latest-change reduction is ONE
    aggregate on the key (max_by struct — no window), the apply is a
    full outer join base⟗changes — both sides shuffle once on the key,
    exactly the MERGE INTO physical shape.
    """
    (orders,) = tables(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") < 900).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(
        (F.col("o_orderkey") < 900) & (F.col("o_orderkey") % 20 == 0)
    ).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        F.round(F.col("o_totalprice") * 1.1, 2).alias("new_price"),
    )
    deletes = orders.filter(
        (F.col("o_orderkey") < 900) & (F.col("o_orderkey") % 30 == 0)
    ).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
        F.lit(None).cast("double").alias("new_price"),
    )
    inserts = orders.filter(F.col("o_orderkey").between(900, 949)).select(
        "o_orderkey",
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
        F.col("o_totalprice").alias("new_price"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    latest = changes.groupBy("o_orderkey").agg(
        F.max(F.struct("seq", "op", "new_price")).alias("c")
    ).select(
        "o_orderkey",
        F.col("c.op").alias("op"),
        F.col("c.new_price").alias("new_price"),
    )
    applied = (
        base.join(latest, "o_orderkey", "full_outer")
        .filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            "o_orderkey",
            F.round(
                F.coalesce(F.col("new_price"), F.col("o_totalprice")), 2
            ).alias("price"),
            F.coalesce(F.col("op"), F.lit("=")).alias("last_op"),
        )
    )
    return (
        applied.groupBy("last_op")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("price"), 2).alias("total_price"),
        )
        .orderBy("last_op")
    )


OP_CDC_APPLY_SQL = """
WITH base AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 900
),
changes AS (
  SELECT o_orderkey, 'U' AS op, 1 AS seq,
         round(o_totalprice * 1.1, 2) AS new_price
  FROM orders WHERE o_orderkey < 900 AND o_orderkey % 20 = 0
  UNION ALL
  SELECT o_orderkey, 'D', 2, NULL
  FROM orders WHERE o_orderkey < 900 AND o_orderkey % 30 = 0
  UNION ALL
  SELECT o_orderkey, 'I', 1, o_totalprice
  FROM orders WHERE o_orderkey BETWEEN 900 AND 949
),
latest AS (
  SELECT o_orderkey, op, new_price FROM (
    SELECT o_orderkey, op, new_price,
           row_number() OVER (PARTITION BY o_orderkey
                              ORDER BY seq DESC, op DESC,
                                       new_price DESC NULLS LAST) AS rk
    FROM changes
  ) WHERE rk = 1
),
applied AS (
  SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS o_orderkey,
         round(COALESCE(l.new_price, b.o_totalprice), 2) AS price,
         COALESCE(l.op, '=') AS last_op
  FROM base b FULL OUTER JOIN latest l ON l.o_orderkey = b.o_orderkey
  WHERE l.op IS NULL OR l.op <> 'D'
)
SELECT last_op, CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(SUM(price), 2) AS total_price
FROM applied GROUP BY last_op ORDER BY last_op
"""


# --------------------------------------------------------------------------
def op_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-key join decomposed into a UNION of equi-joins — the rewrite
    engines need because a join on `a.x = b.x OR a.y = b.y` has no
    single hash key and falls back to a nested-loop product. Here:
    customer matches supplier when they share a nation OR share the
    exact account-balance cent value.

    Scale shape: two independent shuffled equi-joins (each
    hash-partitioned on its own key) + a distinct to dedupe rows
    matching BOTH arms — cost is the sum of two hash joins instead of
    |A|×|B|. The plan gate proves no BroadcastNestedLoopJoin/
    CartesianProduct survives; the oracle runs DuckDB's native OR join
    to pin equivalence.
    """
    customer, supplier = tables(spark, sf_dir, "customer", "supplier")
    c = customer.select(
        F.col("c_custkey"), F.col("c_nationkey"), F.col("c_acctbal")
    )
    s = supplier.select(
        F.col("s_suppkey"), F.col("s_nationkey"), F.col("s_acctbal")
    )
    arm_nation = c.join(s, c.c_nationkey == s.s_nationkey).select(
        "c_custkey", "s_suppkey"
    )
    arm_bal = c.join(s, c.c_acctbal == s.s_acctbal).select(
        "c_custkey", "s_suppkey"
    )
    matched = arm_nation.unionByName(arm_bal).distinct()
    return (
        matched.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
        .orderBy(F.col("n_suppliers").desc(), "c_custkey")
        .limit(30)
    )


OP_DISJUNCTIVE_JOIN_SQL = """
SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers
FROM (
  SELECT DISTINCT c.c_custkey, s.s_suppkey
  FROM customer c JOIN supplier s
    ON c.c_nationkey = s.s_nationkey OR c.c_acctbal = s.s_acctbal
)
GROUP BY c_custkey
ORDER BY n_suppliers DESC, c_custkey
LIMIT 30
"""


# --------------------------------------------------------------------------
SPLIT_TEST_PCT = 10  # hash buckets 0-9 of 100 → test


def op_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free grouped train/test split: EVERY row of a customer
    lands in the same split (hash the GROUP key, never the row), the
    invariant that keeps a user's history out of both sides of an ML
    split. Deterministic (md5 — any engine/run reproduces it; never
    rand()).

    Scale shape: split assignment is map-only on the fact; the
    leakage audit (does any customer straddle?) is one aggregate on
    the group key counting distinct splits — partial+final, no window,
    no self-join. Output: per-split row/group counts + the straddler
    count, which must be 0 by construction.
    """
    (orders,) = tables(spark, sf_dir, "orders")
    split = F.when(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 100 < SPLIT_TEST_PCT,
        "test",
    ).otherwise("train")
    tagged = orders.select("o_orderkey", "o_custkey", split.alias("split"))
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_groups"),
    )
    straddlers = (
        tagged.groupBy("o_custkey")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)).alias("s"))
        .select(F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("n_straddlers"))
    )
    return (
        per_split.crossJoin(F.broadcast(straddlers))
        .select("split", "n_rows", "n_groups", "n_straddlers")
        .orderBy("split")
    )


OP_GROUP_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT o_orderkey, o_custkey,
    CASE WHEN CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 < {SPLIT_TEST_PCT}
         THEN 'test' ELSE 'train' END AS split
  FROM orders
),
per_split AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_groups
  FROM tagged GROUP BY split
),
straddle AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_straddlers
  FROM (SELECT o_custkey, COUNT(DISTINCT split) AS n_splits
        FROM tagged GROUP BY o_custkey)
)
SELECT split, n_rows, n_groups, n_straddlers
FROM per_split CROSS JOIN straddle
ORDER BY split
"""


# --------------------------------------------------------------------------
HIST_BUCKETS = 8


def op_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of o_totalprice (equal row counts per
    bucket, data-driven edges — the optimizer-statistics histogram, vs
    op_psi_drift's fixed-width bins): bucket by the exact distributed
    ntile (operators/rank.ntile_by_range — no single-partition window),
    then one aggregate for min/max/count per bucket.
    """
    from ..operators.rank import ntile_by_range

    (orders,) = tables(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice")
    bucketed = ntile_by_range(
        base, HIST_BUCKETS, ["o_totalprice", "o_orderkey"], out="bucket"
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .select(F.col("bucket").cast("bigint").alias("bucket"), "n", "lo", "hi")
        .orderBy("bucket")
    )


OP_EQUIDEPTH_HIST_SQL = f"""
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
  round(MIN(o_totalprice), 2) AS lo, round(MAX(o_totalprice), 2) AS hi
FROM (
  SELECT o_totalprice,
         ntile({HIST_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
GROUP BY bucket
ORDER BY bucket
"""


# --------------------------------------------------------------------------
def op_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts: minimize retail price,
    maximize size — no other part is ≤ price AND ≥ size with at least
    one strict. The classic multi-criteria operator relational engines
    lack.

    Scale shape: the distributive skyline reduction — each partition
    computes its LOCAL skyline (mapInPandas, O(rows·|local skyline|)),
    and the global skyline of the union of local skylines equals the
    global skyline (dominance is transitive; a globally dominated row
    is dominated by some local-skyline row). The final pass runs over
    Σ|local skylines| rows, typically orders of magnitude smaller than
    the table. Oracle: the quadratic NOT EXISTS dominance definition.
    """
    import pandas as pd

    (part,) = tables(spark, sf_dir, "part")
    base = part.select("p_partkey", "p_retailprice", "p_size")

    def skyline(batches, exact: bool):
        """exact=False: per-partition SUPERSET (cheap prune — keeps any
        row not strictly dominated in its partition, ties inclusive).
        exact=True: one pass over ALL rows (concatenated) applying the
        strict-dominance rule: keep r iff r.size equals its price
        group's max AND exceeds the max size of every cheaper price."""
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True).sort_values(
            ["p_retailprice", "p_size"], ascending=[True, False]
        ).reset_index(drop=True)
        keep = []
        best_cheaper = None  # max size among strictly cheaper prices
        group_price = None
        group_max = None
        for r in pdf.itertuples():
            if group_price is None or r.p_retailprice != group_price:
                best_cheaper = group_max if best_cheaper is None else (
                    group_max if group_max is not None and group_max > best_cheaper
                    else best_cheaper
                )
                group_price, group_max = r.p_retailprice, r.p_size
            if exact:
                ok = (r.p_size == group_max) and (
                    best_cheaper is None or r.p_size > best_cheaper
                )
            else:
                ok = best_cheaper is None or r.p_size >= best_cheaper
            if ok:
                keep.append(r.Index)
        yield pdf.loc[keep]

    schema = "p_partkey bigint, p_retailprice double, p_size int"
    local = base.mapInPandas(lambda it: skyline(it, exact=False), schema)
    # final exact pass over the candidate union — Σ|local skylines|
    # rows, orders of magnitude below the table. repartition(1), NOT
    # coalesce(1): coalesce collapses the upstream scan+prune into the
    # single task too (no stage boundary), serializing the whole job;
    # repartition shuffles only the pruned candidates into it.
    final = local.repartition(1).mapInPandas(lambda it: skyline(it, exact=True), schema)
    return final.select(
        "p_partkey", F.round("p_retailprice", 2).alias("price"), "p_size"
    ).orderBy("price", "p_partkey")


OP_SKYLINE_SQL = """
SELECT p_partkey, round(p_retailprice, 2) AS price, p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
ORDER BY price, p_partkey
"""


# --------------------------------------------------------------------------
def op_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness monitor: per event source (event_type), the last
    event time, its lag behind the corpus watermark, and the trailing
    24 h volume — the first alert any ingestion pipeline wires up
    (source went quiet = lag grows, volume drops).

    Scale shape: the 1-row corpus watermark is broadcast onto the raw
    rows FIRST (allowlisted BNLJ class — it must be visible row-level
    so the trailing-24h test can be a conditional aggregate), then ONE
    partial+final aggregate computes all per-source stats. No windows,
    no second scan.
    """
    (events,) = tables(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    wm = events.agg(F.max(F.unix_timestamp(ts)).alias("corpus_wm"))
    per_src = events.select(
        "event_type", F.unix_timestamp(ts).alias("t")
    ).crossJoin(F.broadcast(wm)).groupBy("event_type").agg(
        F.max("t").alias("last_t"),
        F.max("corpus_wm").alias("corpus_wm"),
        F.sum(
            F.when(F.col("t") >= F.col("corpus_wm") - 24 * 3600, 1).otherwise(0)
        ).cast("bigint").alias("rows_last_24h"),
    )
    return per_src.select(
        "event_type",
        F.timestamp_seconds(F.col("last_t")).cast("string").alias("last_event"),
        (F.col("corpus_wm") - F.col("last_t")).cast("bigint").alias("lag_s"),
        "rows_last_24h",
    ).orderBy("event_type")


OP_FRESHNESS_SQL = """
WITH wm AS (
  SELECT CAST(floor(epoch(MAX(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS corpus_wm
  FROM events
)
SELECT event_type,
  CAST(make_timestamp(MAX(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT))
       * 1000000) AS VARCHAR) AS last_event,
  CAST(wm.corpus_wm
       - MAX(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS BIGINT) AS lag_s,
  CAST(SUM(CASE WHEN CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
            >= wm.corpus_wm - 24 * 3600 THEN 1 ELSE 0 END) AS BIGINT)
    AS rows_last_24h
FROM events CROSS JOIN wm
GROUP BY event_type, wm.corpus_wm
ORDER BY event_type
"""


# --------------------------------------------------------------------------
def op_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on o_totalprice: observed first-digit
    shares vs log10(1+1/d), with each digit's chi-square contribution —
    the classic anomaly/fraud smoke test for any numeric column.

    Scale shape: first-digit extraction is map-only INTEGER arithmetic
    — the amount is taken in exact cents (round(x·100) as BIGINT) so
    no engine's float-to-string rendering is in the comparison path;
    counts left-join the literal 1..9 grid, so ABSENT digits
    contribute their full expected chi-square term (N·q_d) instead of
    silently vanishing; the windows run over the fixed 9-row grid.
    Expected shares are closed-form constants, identical on both
    engines.
    """
    (orders,) = tables(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    counts = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n0"))
    )
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    filled = grid.join(counts, "d", "left").select(
        "d", F.coalesce(F.col("n0"), F.lit(0)).cast("bigint").alias("n")
    )
    w = Window.partitionBy()  # 9-row grid — bounded by construction
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    share = F.col("n") / F.sum("n").over(w)
    return (
        filled.select(
            "d",
            "n",
            F.round(share, 6).alias("observed"),
            F.round(expected, 6).alias("expected"),
            F.round(
                F.pow(share - expected, 2) / expected * F.sum("n").over(w), 6
            ).alias("chi2_term"),
        )
        .orderBy("d")
    )


OP_BENFORD_SQL = """
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS d,
         COUNT(*) AS n0
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
),
filled AS (
  SELECT g.d, CAST(COALESCE(c.n0, 0) AS BIGINT) AS n
  FROM (SELECT unnest(range(1, 10)) AS d) g
  LEFT JOIN counts c ON c.d = g.d
)
SELECT d, n,
  round(n / CAST(SUM(n) OVER () AS DOUBLE), 6) AS observed,
  round(log10(1.0 + 1.0 / d), 6) AS expected,
  round(pow(n / CAST(SUM(n) OVER () AS DOUBLE) - log10(1.0 + 1.0 / d), 2)
        / log10(1.0 + 1.0 / d) * SUM(n) OVER (), 6) AS chi2_term
FROM filled
ORDER BY d
"""


# --------------------------------------------------------------------------
K_ANON_THRESHOLD = 5


def op_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy gate: k-anonymity audit of customer quasi-identifiers at
    three generalization levels of the standard lattice — (segment,
    nation, $1000-balance-bucket) → (segment, nation) → (segment).
    For each level: the achieved k (smallest equivalence class), class
    count, and how many rows sit in classes below the k=5 re-ID
    threshold — the numbers a release-review asks for before a customer
    extract ships to a training pipeline.

    Scale shape: ONE shuffle — the whole lattice comes from a single
    ROLLUP (Spark's Expand feeds one hash aggregate, no per-level
    re-scan); the level summary then aggregates class-count rows
    (|classes|, not |rows|). At 100 TB this is a single pass over the
    table regardless of how many lattice levels are audited.
    """
    (customer,) = tables(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    classes = (
        customer.select(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").alias("nat"),
            bucket.alias("bal"),
        )
        .rollup("seg", "nat", "bal")
        .agg(F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("gid"))
        .filter(F.grouping_id() < 7)  # drop the grand-total row
    )
    level = (
        F.when(F.col("gid") == 0, "seg+nation+bal_bucket")
        .when(F.col("gid") == 1, "seg+nation")
        .otherwise("seg")
    )
    k = F.lit(K_ANON_THRESHOLD)
    return (
        classes.groupBy(level.alias("level"))
        .agg(
            F.min("cnt").cast("bigint").alias("k_anonymity"),
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("cnt") < k, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
            F.round(
                F.sum(F.when(F.col("cnt") < k, F.col("cnt")).otherwise(0))
                / F.sum("cnt").cast("double")
                * 100,
                4,
            ).alias("risk_pct"),
        )
        .orderBy("level")
    )


OP_K_ANONYMITY_SQL = f"""
WITH classes AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal,
         COUNT(*) AS cnt,
         GROUPING(c_mktsegment) * 4 + GROUPING(c_nationkey) * 2
           + GROUPING(CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS gid
  FROM customer
  GROUP BY ROLLUP (c_mktsegment, c_nationkey,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
)
SELECT CASE WHEN gid = 0 THEN 'seg+nation+bal_bucket'
            WHEN gid = 1 THEN 'seg+nation' ELSE 'seg' END AS level,
  CAST(MIN(cnt) AS BIGINT) AS k_anonymity,
  CAST(COUNT(*) AS BIGINT) AS n_classes,
  CAST(SUM(CASE WHEN cnt < {K_ANON_THRESHOLD} THEN cnt ELSE 0 END) AS BIGINT)
    AS rows_at_risk,
  round(SUM(CASE WHEN cnt < {K_ANON_THRESHOLD} THEN cnt ELSE 0 END)
        / CAST(SUM(cnt) AS DOUBLE) * 100, 4) AS risk_pct
FROM classes
WHERE gid < 7
GROUP BY 1
ORDER BY level
"""


# --------------------------------------------------------------------------
COMPACTION_TARGET_CHARS = 4096


def op_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the layout step of Iceberg's
    rewrite_data_files / binpack): treat each document as a data file
    of `n_chars` bytes, and within each source partition assign files
    to output bins next-fit in key order until a bin crosses the
    target size. Emits the per-bin plan (file count, bytes, fill
    ratio) a compaction executor would run.

    Scale shape: binning is a cumulative sum within (source) — a
    PARTITIONED window, exactly the per-partition planning Iceberg's
    binpack does (compaction never bins across partitions, so no
    global coordination exists to serialize on). At 100 TB each
    partition's file list is metadata-sized; the plan aggregate is
    |files|, not |rows|.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    t = F.lit(COMPACTION_TARGET_CHARS)
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binned = documents.select(
        "source",
        "doc_id",
        "n_chars",
        F.floor((F.sum("n_chars").over(w) - F.col("n_chars")) / t)
        .cast("bigint")
        .alias("bin"),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").cast("bigint").alias("bytes"),
            F.round(F.sum("n_chars") / t.cast("double"), 4).alias("fill_ratio"),
        )
        .orderBy("source", "bin")
    )


OP_COMPACTION_PLAN_SQL = f"""
WITH binned AS (
  SELECT source, doc_id, n_chars,
    CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) - n_chars)
         / {COMPACTION_TARGET_CHARS}.0) AS BIGINT) AS bin
  FROM documents
)
SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
  CAST(SUM(n_chars) AS BIGINT) AS bytes,
  round(SUM(n_chars) / {COMPACTION_TARGET_CHARS}.0, 4) AS fill_ratio
FROM binned
GROUP BY source, bin
ORDER BY source, bin
"""


# --------------------------------------------------------------------------
def op_data_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table diff — the reconciliation primitive behind data-
    validation gates and migration sign-offs: classify every key of two
    table versions as unchanged / changed / added / removed, with
    per-class counts and value drift. Versions are deterministic slices
    of orders: v1 = keys < 900; v2 = keys 100..999 with every 50th
    price bumped 5 % — so all four classes are populated.

    Distinct from op_cdc_apply (which APPLIES a change log); this
    DERIVES the change set from two materialized states — what you run
    when there is no log to trust.

    Scale shape: ONE full outer join on the key (both sides shuffle
    once; at 100 TB both sides bucketed on the key make it
    exchange-free), then a |classes|-sized aggregate. Values compare
    inside the join projection — no second pass.
    """
    (orders,) = tables(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") < 900).select(
        "o_orderkey", F.col("o_totalprice").alias("p1")
    )
    v2 = orders.filter(F.col("o_orderkey").between(100, 999)).select(
        "o_orderkey",
        F.round(
            F.when(
                F.col("o_orderkey") % 50 == 0, F.col("o_totalprice") * 1.05
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("p2"),
    )
    joined = v1.join(v2, "o_orderkey", "full_outer")
    cls = (
        F.when(F.col("p1").isNull(), "added")
        .when(F.col("p2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(cls.alias("class"), "p1", "p2")
        .groupBy("class")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.round(
                F.sum(F.coalesce(F.col("p2"), F.lit(0.0)))
                - F.sum(F.coalesce(F.col("p1"), F.lit(0.0))),
                2,
            ).alias("value_drift"),
        )
        .orderBy("class")
    )


OP_DATA_DIFF_SQL = """
WITH v1 AS (
  SELECT o_orderkey, o_totalprice AS p1 FROM orders WHERE o_orderkey < 900
), v2 AS (
  SELECT o_orderkey,
    round(CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice * 1.05
               ELSE o_totalprice END, 2) AS p2
  FROM orders WHERE o_orderkey BETWEEN 100 AND 999
), joined AS (
  SELECT CASE WHEN p1 IS NULL THEN 'added'
              WHEN p2 IS NULL THEN 'removed'
              WHEN p1 <> p2 THEN 'changed'
              ELSE 'unchanged' END AS class, p1, p2
  FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
)
SELECT class, CAST(COUNT(*) AS BIGINT) AS n_keys,
  round(SUM(COALESCE(p2, 0.0)) - SUM(COALESCE(p1, 0.0)), 2) AS value_drift
FROM joined
GROUP BY class
ORDER BY class
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "op_data_diff": op_data_diff,
    "op_k_anonymity": op_k_anonymity,
    "op_compaction_plan": op_compaction_plan,
    "op_benford": op_benford,
    "op_freshness": op_freshness,
    "op_skyline": op_skyline,
    "op_group_split": op_group_split,
    "op_equidepth_hist": op_equidepth_hist,
    "op_disjunctive_join": op_disjunctive_join,
    "op_freq_itemsets": op_freq_itemsets,
    "op_cdc_apply": op_cdc_apply,
    "op_bloom_semi_join": op_bloom_semi_join,
    "op_running_total": op_running_total,
    "op_triangle_count": op_triangle_count,
    "op_fuzzy_join": op_fuzzy_join,
    "op_gini": op_gini,
    "op_iv_woe": op_iv_woe,
    "op_profile": op_profile,
    "op_psi_drift": op_psi_drift,
    "op_key_skew": op_key_skew,
    "op_pagerank": op_pagerank,
    "op_asof_join": op_asof_join,
    "op_mixture_weights": op_mixture_weights,
    "op_range_join": op_range_join,
    "op_hash_sample": op_hash_sample,
    "op_stratified_sample": op_stratified_sample,
    "op_pivot": op_pivot,
    "op_unpivot": op_unpivot,
    "op_zorder": op_zorder,
    "op_cogroup_reconcile": op_cogroup_reconcile,
    "op_udtf_installments": op_udtf_installments,
    "op_ks_test": op_ks_test,
    "op_contract_check": op_contract_check,
    "op_weighted_sample": op_weighted_sample,
    "op_bucketed_join": op_bucketed_join,
    "op_skew_agg": op_skew_agg,
    "op_skew_join": op_skew_join,
    "op_group_zscore": op_group_zscore,
    "op_arrow_batch": op_arrow_batch,
    "op_dedup_latest": op_dedup_latest,
    "op_partition_prune": op_partition_prune,
    "op_train_shards": op_train_shards,
}

ORACLE: dict[str, str] = {
    "op_data_diff": OP_DATA_DIFF_SQL,
    "op_k_anonymity": OP_K_ANONYMITY_SQL,
    "op_compaction_plan": OP_COMPACTION_PLAN_SQL,
    "op_benford": OP_BENFORD_SQL,
    "op_freshness": OP_FRESHNESS_SQL,
    "op_skyline": OP_SKYLINE_SQL,
    "op_group_split": OP_GROUP_SPLIT_SQL,
    "op_equidepth_hist": OP_EQUIDEPTH_HIST_SQL,
    "op_disjunctive_join": OP_DISJUNCTIVE_JOIN_SQL,
    "op_freq_itemsets": OP_FREQ_ITEMSETS_SQL,
    "op_cdc_apply": OP_CDC_APPLY_SQL,
    "op_bloom_semi_join": OP_BLOOM_SEMI_JOIN_SQL,
    "op_running_total": OP_RUNNING_TOTAL_SQL,
    "op_triangle_count": OP_TRIANGLE_COUNT_SQL,
    "op_fuzzy_join": OP_FUZZY_JOIN_SQL,
    "op_gini": OP_GINI_SQL,
    "op_iv_woe": OP_IV_WOE_SQL,
    "op_profile": _profile_oracle(),
    "op_psi_drift": OP_PSI_DRIFT_SQL,
    "op_key_skew": OP_KEY_SKEW_SQL,
    "op_pagerank": _pagerank_oracle(),
    "op_asof_join": OP_ASOF_JOIN_SQL,
    "op_mixture_weights": OP_MIXTURE_WEIGHTS_SQL,
    "op_range_join": OP_RANGE_JOIN_SQL,
    "op_hash_sample": OP_HASH_SAMPLE_SQL,
    "op_stratified_sample": OP_STRATIFIED_SAMPLE_SQL,
    "op_pivot": OP_PIVOT_SQL,
    "op_unpivot": OP_UNPIVOT_SQL,
    "op_zorder": OP_ZORDER_SQL,
    "op_cogroup_reconcile": OP_COGROUP_RECONCILE_SQL,
    "op_udtf_installments": OP_UDTF_INSTALLMENTS_SQL,
    "op_ks_test": OP_KS_TEST_SQL,
    "op_contract_check": OP_CONTRACT_CHECK_SQL,
    "op_weighted_sample": OP_WEIGHTED_SAMPLE_SQL,
    "op_bucketed_join": OP_BUCKETED_JOIN_SQL,
    "op_skew_agg": OP_SKEW_AGG_SQL,
    "op_skew_join": OP_SKEW_JOIN_SQL,
    "op_group_zscore": OP_GROUP_ZSCORE_SQL,
    "op_arrow_batch": OP_ARROW_BATCH_SQL,
    "op_dedup_latest": OP_DEDUP_LATEST_SQL,
    "op_partition_prune": OP_PARTITION_PRUNE_SQL,
    "op_train_shards": OP_TRAIN_SHARDS_SQL,
}
