"""Structured Streaming jobs over the events table.

The reference has NO stream processing ("Streaming Execution" in its
README means incremental batch streams — SURVEY.md §2.9); its roadmap
lists streaming as future work (/root/reference/README.md:277-281).
Here the same event-analytics logic as queries/events_suite.py runs
incrementally: file-source readStream → watermarked windowed/
sessionized aggregation → memory sink, driven to completion with an
availableNow trigger so results are deterministic and oracle-checkable
against the batch twin's SQL.

Scale notes: in production the source is Kafka/files-on-object-store;
state lives in the state store keyed by (window, group) — watermarks
bound it. The availableNow trigger here replays the full file in
micro-batches, exactly the backfill pattern used on a real cluster.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import scratch_dir


def _event_ts_physical_type(sf_dir: str) -> str:
    """Read the parquet footer's type for events.ts (e.g. 'timestamp[us]').

    Same footer-driven detection as sources/registry._normalize_ns_timestamps:
    the stream schema must match what the file actually stores, never a
    hardcoded assumption.
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    target = path
    if os.path.isdir(path):
        inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if not inner:
            return "timestamp[us]"
        target = os.path.join(path, inner[0])
    try:
        return str(pq.read_schema(target).field("ts").type)
    except Exception:
        return "timestamp[us]"


def _event_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table.

    The ts decode is footer-driven: timestamp[us] files are declared as
    TIMESTAMP directly (session TZ is UTC so ltz == the batch layer's
    TIMESTAMP_NTZ values); timestamp[ns] files are read as LONG (via
    spark.sql.legacy.parquet.nanosAsLong) and integer-divided to µs —
    exactly the batch registry's conversion, so the streaming twins and
    their DuckDB oracles agree on event time.
    """
    phys = _event_ts_physical_type(sf_dir)
    if phys.startswith("timestamp[ns"):
        raw = (
            spark.readStream.schema(_event_schema(T.LongType()))
            .option("pathGlobFilter", "events.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(sf_dir)
        )
        # Exact integer division (float loses µs precision on ns epochs).
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("`ts` div 1000"))
        )
    # timestamp[us] (the testdata's encoding): declare TIMESTAMP and let
    # the vectorized reader decode natively. Watermarks require ltz.
    # recursiveFileLookup: new files may arrive in dated subdirectories
    # (the standard landing-zone layout); schema is explicit, so no
    # partition inference is lost.
    return (
        spark.readStream.schema(_event_schema(T.TimestampType()))
        .option("pathGlobFilter", "events.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(sf_dir)
    )


def _run_to_completion(
    df: DataFrame,
    name: str,
    mode: str = "complete",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> None:
    """Drive a stream over all available data, then stop. The sink is
    the in-memory table `name` in output mode `mode`, or `foreach_batch`
    when given. The checkpoint is private to this run and removed once
    the query has terminated, whether or not it failed."""
    ckpt = os.path.join(tempfile.gettempdir(), "sg_ckpt", f"{name}-{uuid.uuid4().hex}")
    w = df.writeStream.option("checkpointLocation", ckpt).trigger(availableNow=True)
    if foreach_batch is None:
        w = w.format("memory").queryName(name).outputMode(mode)
    else:
        w = w.foreachBatch(foreach_batch)
    q = None
    try:
        q = w.start()
        q.awaitTermination()
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_tumbling: watermark + 1h tumbling windows."""
    events = read_event_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    name = "mem_stream_tumbling"
    _run_to_completion(agg, name)
    return (
        spark.table(name)
        .select(
            F.col("w").getField("start").alias("wstart"),
            "event_type",
            "n",
            F.round(F.col("sv"), 4).alias("sum_value"),
        )
        .orderBy("wstart", "event_type")
    )


def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_ewma: the hourly per-type means are
    maintained INCREMENTALLY by a watermarked tumbling-window stream
    (state = open windows only, grid-sized); the sequential EWMA
    recursion then runs per type on the sink table via the SAME
    applyInPandas kernel as the batch twin — the smoother's cost is
    the hourly grid, never the raw event volume. Shares EV_EWMA_SQL.
    """
    from ..queries.events_suite import EWMA_ALPHA, ewma_kernel

    events = read_event_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.avg("value").alias("av"))
    )
    name = "mem_stream_ewma"
    _run_to_completion(agg, name)
    hourly = spark.table(name).select(
        "event_type",
        F.unix_timestamp(F.col("w").getField("start")).alias("t"),
        F.round(F.col("av"), 6).alias("v"),
    )
    return (
        hourly.groupBy("event_type")
        .applyInPandas(
            ewma_kernel(EWMA_ALPHA),
            "event_type string, t bigint, v double, ewma double",
        )
        .orderBy("event_type", "t")
    )


def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_anomaly: the hourly per-type counts are
    maintained INCREMENTALLY by a watermarked tumbling-window stream
    (state = open windows only); the rolling-baseline z-score pass
    then runs on the sink table — windows-per-type rows, thousands at
    any event volume. This is the production monitor split: heavy
    counting is streaming state, anomaly scoring is a cheap batch pass
    per trigger. Same oracle as the batch twin (EV_ANOMALY_SQL)."""
    events = read_event_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "mem_stream_anomaly"
    _run_to_completion(agg, name)
    from pyspark.sql import Window

    counts = spark.table(name).select(
        "event_type",
        F.col("w").getField("start").cast("string").alias("wstart"),
        "n",
    )
    base = Window.partitionBy("event_type").orderBy("wstart").rowsBetween(-24, -1)
    scored = counts.select(
        "event_type",
        "wstart",
        "n",
        F.count("n").over(base).alias("n_base"),
        F.avg("n").over(base).alias("mu"),
        F.stddev_samp("n").over(base).alias("sigma"),
    ).filter((F.col("n_base") >= 12) & (F.col("sigma") > 0))
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    rk = Window.partitionBy("event_type").orderBy(F.abs(z).desc(), "wstart")
    return (
        scored.withColumn("rk", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("event_type", "wstart", "n", F.round(z, 6).alias("z"), "rk")
        .orderBy("event_type", "rk")
    )


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ev_sliding: 2-hour windows sliding by 1 hour
    under a watermark (each event lands in two windows)."""
    events = read_event_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("user_id").alias("_users_approx"),
        )
    )
    name = "mem_stream_sliding"
    _run_to_completion(agg, name)
    # exact-count oracle parity: streaming distinct-count is approximate
    # by design, so the driver-checked columns are window + row count
    return (
        spark.table(name)
        .select(F.col("w").getField("start").alias("wstart"), "n")
        .orderBy("wstart")
    )


STREAM_SLIDING_SQL = """
SELECT wstart, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart FROM events
  UNION ALL
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS wstart
  FROM events
)
GROUP BY wstart
ORDER BY wstart
"""


def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each purchase
    joined to the same user's clicks in the preceding hour. Both sides
    watermarked so state is evicted once the window passes — the
    bounded-state property that makes stream joins viable at scale."""
    purchases = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    name = "mem_stream_join"
    _run_to_completion(joined, name, mode="append")
    return (
        spark.table(name)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


STREAM_JOIN_SQL = """
SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
      WHERE event_type = 'purchase') p
JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
      WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts
GROUP BY p.user_id
ORDER BY p.user_id
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the streaming events feed joined to a
    STATIC dimension (customer → market segment) before a windowless
    aggregate — the most common production streaming shape (Kafka
    facts + warehouse dims). The static side needs no watermark and no
    state: Spark broadcasts it per micro-batch (re-read each batch, so
    slowly-changing dims pick up updates between batches), keeping the
    join map-side; only the small post-join aggregate is stateful.
    Scale: state is bounded by |segments|, not |events| — this shape
    runs indefinitely at any throughput."""
    purchases = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )
    customers = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    enriched = purchases.join(F.broadcast(customers), "user_id")
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    name = "mem_stream_static_enrich"
    _run_to_completion(agg, name)
    return spark.table(name).orderBy("segment")


STREAM_STATIC_ENRICH_SQL = """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       round(SUM(e.value), 4) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY c.c_mktsegment
ORDER BY segment
"""


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) — stateful streaming session
    aggregation; per-user session stats."""
    events = read_event_stream(spark, sf_dir)
    sess = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = "mem_stream_sessionize"
    _run_to_completion(sess, name)
    per_sess = spark.table(name).select(
        "user_id",
        "n_events",
        (
            F.unix_timestamp(F.col("w").getField("end").cast("timestamp"))
            - F.unix_timestamp(F.col("w").getField("start").cast("timestamp"))
        ).alias("span_s"),
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("total_events"),
        )
        .orderBy("user_id")
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on a content key while the
    stream replays — the online-dedup primitive."""
    events = read_event_stream(spark, sf_dir)
    deduped = events.withWatermark("ts", "2 hours").dropDuplicates(["user_id", "event_type"])
    name = "mem_stream_dedup"
    _run_to_completion(deduped, name, mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


# Oracles: the batch twins (DuckDB SQL on the same parquet).
STREAM_TUMBLING_SQL = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart, event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  round(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY wstart, event_type
"""

# session_window uses half-open [start, end) windows: a gap of exactly
# 30min starts a NEW session (>=), unlike the batch lag-based variant (>).
STREAM_SESSIONIZE_SQL = """
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
         WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
              >= INTERVAL 30 MINUTE THEN 1
         ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), sessed AS (
  SELECT user_id,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM ordered
), per_sess AS (
  SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sessed GROUP BY user_id, sess_id
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
  CAST(SUM(n_events) AS BIGINT) AS total_events
FROM per_sess GROUP BY user_id ORDER BY user_id
"""

STREAM_DEDUP_SQL = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def stream_foreach_batch_to_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> int:
    """foreachBatch sink: arbitrary per-micro-batch logic (dedupe +
    enrich + parquet append) — the custom-sink escape hatch. Returns
    the number of micro-batches processed."""
    events = read_event_stream(spark, sf_dir)
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        n_batches["n"] += 1
        (
            batch_df.dropDuplicates(["event_id"])
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    _run_to_completion(events, "feb", foreach_batch=sink)
    return n_batches["n"]


def upsert_user_totals_sink(path: str):
    """foreachBatch callback factory: fold a batch's per-user event
    totals into the iceberg-lite table at `path`. Reads the CURRENT
    totals for touched keys, adds the increments, upserts only those
    keys — correct under any micro-batch split of the input."""
    from ..sources.iceberg_lite import IcebergLiteTable, upsert_snapshot, write_snapshot

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        inc = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
        )
        if os.path.exists(os.path.join(path, "metadata", "v0.metadata.json")):
            t = IcebergLiteTable(path)
            cur = t.read(batch_df.sparkSession).join(
                inc.select("user_id"), "user_id", "semi"
            )
            combined = (
                cur.unionByName(inc)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_value").alias("total_value"),
                )
            )
            upsert_snapshot(batch_df.sparkSession, path, combined, ["user_id"])
        else:
            write_snapshot(inc, path)

    return sink


def stream_upsert_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE: per micro-batch, fold per-user event totals into
    an iceberg-lite table with upsert_snapshot (equality-delete + data
    manifests in one commit) — the standard CDC/metrics sink pattern
    (Kafka → foreachBatch → MERGE INTO).

    Each batch reads the CURRENT totals for the touched keys, adds the
    batch increments, and upserts only those keys — correct under any
    micro-batch split of the input, so availableNow replay is
    deterministic and oracle-checkable. Scale notes: the per-batch
    upsert touches only changed keys (delete file + data file), never
    rewrites the table; compact() bounds read amplification. The table
    lives in a `materialize.scratch_dir`: the returned frame reads it
    lazily, and `materialize.release()` removes it after the action."""
    from ..sources.iceberg_lite import IcebergLiteTable

    path = os.path.join(scratch_dir("sg_stream_ice"), "user_totals")
    events = read_event_stream(spark, sf_dir)
    _run_to_completion(events, "ui", foreach_batch=upsert_user_totals_sink(path))
    t = IcebergLiteTable(path)
    return (
        t.read(spark)
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round(F.col("total_value"), 6).alias("total_value"),
        )
        .orderBy("user_id")
    )


STREAM_UPSERT_ICEBERG_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       round(SUM(value), 6) AS total_value
FROM events WHERE user_id < 50
GROUP BY user_id ORDER BY user_id
"""
