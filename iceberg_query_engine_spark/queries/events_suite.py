"""Event-stream analytics suite over the `events` table (batch side).

The reference has no stream processing (SURVEY.md §2.9) — these are
the windowed/sessionized event ops a training-data/telemetry pipeline
needs, expressed as batch DataFrame plans; `streaming/` runs the same
logic incrementally via Structured Streaming (stream_* entries share
oracles with their batch twins here).

Scale notes: tumbling/sliding windows are groupBy on a derived window
key → one shuffle, partial+final agg. Sessionization shuffles once on
user_id then sorts within partition (Spark window fn) — at 100 TB
user_id partitioning distributes; no global sort.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rank import ntile_by_range
from ..materialize import broadcast_if_small, persist_if_large
from .tpch import tables

SESSION_GAP_MIN = 30


def sessionized(events: DataFrame, *extra: str) -> DataFrame:
    """Shared 30-min-gap sessionizer (the ev_sessionize semantics):
    one lag window per user, gap measured on FLOORED epoch seconds
    (sub-second parts must not flip a session split differently than
    the oracles, which floor too). Returns (user_id, ts, event_id,
    *extra, sess_id). Single implementation — ev_sessionize,
    ev_pattern_match, and ev_concurrency all build on it, so the gap
    rule cannot drift between them."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_gap = events.select(
        "user_id",
        "ts",
        "event_id",
        *extra,
        (
            F.coalesce(
                (F.unix_timestamp(F.col("ts").cast("timestamp"))
                 - F.unix_timestamp(F.lag("ts").over(w).cast("timestamp")))
                > SESSION_GAP_MIN * 60,
                F.lit(True),
            )
        )
        .cast("int")
        .alias("new_sess"),
    )
    return with_gap.withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("new_sess")


def _sess_sql_cte(extra_def: str = "", extra_ref: str = "") -> str:
    """DuckDB CTE fragment mirroring `sessionized` (floored epochs) —
    yields a relation `sess(user_id, ts, event_id{extra}, sess_id)`.
    `extra_def` is the projected expression list for the first CTE
    (e.g. ", substr(event_type,1,1) AS ini"), `extra_ref` its bare
    column names for the second (e.g. ", ini")."""
    return f"""
gaps AS (
  SELECT user_id, ts, event_id{extra_def},
    CASE WHEN lag(ts) OVER w IS NULL THEN 1
         WHEN CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
            - CAST(floor(epoch(lag(CAST(ts AS TIMESTAMP)) OVER w)) AS BIGINT)
            > {SESSION_GAP_MIN * 60} THEN 1
         ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id{extra_ref},
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_id
  FROM gaps
)"""


# --------------------------------------------------------------------------
def ev_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows: count + sum(value) per event_type."""
    (events,) = tables(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").getField("start").alias("wstart"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("wstart", "event_type")
    )


EV_TUMBLING_SQL = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart, event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  round(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY wstart, event_type
"""


# --------------------------------------------------------------------------
def ev_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour (each event in 2 windows)."""
    (events,) = tables(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").getField("start").alias("wstart"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
        .orderBy("wstart")
    )


EV_SLIDING_SQL = """
SELECT wstart, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
FROM (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart, user_id FROM events
  UNION ALL
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS wstart, user_id
  FROM events
)
GROUP BY wstart
ORDER BY wstart
"""


# --------------------------------------------------------------------------
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): per-user session
    count, mean session length (events), mean duration seconds."""
    (events,) = tables(spark, sf_dir, "events")
    sess = sessionized(events)
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts").cast("timestamp"))
            - F.unix_timestamp(F.min("ts").cast("timestamp"))
        ).alias("dur_s"),
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.avg("n_events"), 6).alias("mean_events"),
            F.round(F.avg("dur_s"), 6).alias("mean_dur_s"),
        )
        .orderBy("user_id")
    )


EV_SESSIONIZE_SQL = f"""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
         WHEN CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
            - CAST(floor(epoch(lag(CAST(ts AS TIMESTAMP)) OVER w)) AS BIGINT)
            > {SESSION_GAP_MIN * 60} THEN 1
         ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), sessed AS (
  SELECT user_id, t, new_sess,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM ordered
), per_sess AS (
  SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(floor(epoch(MAX(t))) AS BIGINT) - CAST(floor(epoch(MIN(t))) AS BIGINT) AS dur_s
  FROM sessed GROUP BY user_id, sess_id
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
  round(avg(n_events), 6) AS mean_events,
  round(avg(dur_s), 6) AS mean_dur_s
FROM per_sess
GROUP BY user_id
ORDER BY user_id
"""


# --------------------------------------------------------------------------
def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: users whose first 'signup' is followed by a
    'purchase' within 24h; conversion stats per signup day."""
    (events,) = tables(spark, sf_dir, "events")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    conv = (
        signups.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("signup_ts"))
            & (
                F.unix_timestamp(F.col("purchase_ts").cast("timestamp"))
                - F.unix_timestamp(F.col("signup_ts").cast("timestamp"))
                <= 86400
            ),
            "left_semi",
        )
        .select("user_id", "signup_ts")
        .withColumn("converted", F.lit(1))
    )
    return (
        signups.join(conv.select("user_id", "converted"), "user_id", "left")
        .groupBy(F.col("signup_ts").cast("date").cast("string").alias("signup_day"))
        .agg(
            F.count(F.lit(1)).alias("signups"),
            F.sum(F.coalesce(F.col("converted"), F.lit(0))).cast("bigint").alias("conversions"),
        )
        .orderBy("signup_day")
    )


EV_FUNNEL_SQL = """
WITH signups AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT DISTINCT s.user_id
  FROM signups s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
   AND CAST(e.ts AS TIMESTAMP) > s.signup_ts
   AND CAST(floor(epoch(CAST(e.ts AS TIMESTAMP))) AS BIGINT)
     - CAST(floor(epoch(s.signup_ts)) AS BIGINT) <= 86400
)
SELECT CAST(CAST(s.signup_ts AS DATE) AS VARCHAR) AS signup_day,
  CAST(COUNT(*) AS BIGINT) AS signups,
  CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS conversions
FROM signups s LEFT JOIN conv c ON s.user_id = c.user_id
GROUP BY 1
ORDER BY signup_day
"""


# --------------------------------------------------------------------------
def ev_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-0 cohort retention: of users first seen on day d, how many
    return 1..3 days later."""
    (events,) = tables(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    active = events.select(
        F.col("user_id").alias("a_user"), F.col("ts").cast("date").alias("day")
    ).distinct()
    j = first_day.join(active, F.col("user_id") == F.col("a_user"))
    day_n = F.datediff(F.col("day"), F.col("d0"))
    return (
        j.groupBy(F.col("d0").cast("string").alias("d0"))
        .agg(
            F.countDistinct("user_id").alias("cohort"),
            F.countDistinct(F.when(day_n == 1, F.col("user_id"))).alias("d1"),
            F.countDistinct(F.when(day_n == 2, F.col("user_id"))).alias("d2"),
            F.countDistinct(F.when(day_n == 3, F.col("user_id"))).alias("d3"),
        )
        .orderBy("d0")
    )


EV_RETENTION_SQL = """
WITH first_day AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id AS a_user, CAST(ts AS DATE) AS day FROM events
)
SELECT CAST(d0 AS VARCHAR) AS d0,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort,
  CAST(COUNT(DISTINCT CASE WHEN datediff('day', d0, day) = 1 THEN user_id END) AS BIGINT) AS d1,
  CAST(COUNT(DISTINCT CASE WHEN datediff('day', d0, day) = 2 THEN user_id END) AS BIGINT) AS d2,
  CAST(COUNT(DISTINCT CASE WHEN datediff('day', d0, day) = 3 THEN user_id END) AS BIGINT) AS d3
FROM first_day JOIN active ON user_id = a_user
GROUP BY d0
ORDER BY d0
"""


# --------------------------------------------------------------------------
def ev_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top spenders with per-type breakdown via pivot-style conditional agg."""
    (events,) = tables(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 4).alias("total_value"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)),
                4,
            ).alias("purchase_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.col("total_value").desc(), "user_id")
        .limit(10)
    )


EV_TOPK_USERS_SQL = """
SELECT user_id, round(SUM(value), 4) AS total_value,
  round(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 4) AS purchase_value,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
ORDER BY total_value DESC, user_id
LIMIT 10
"""


# --------------------------------------------------------------------------
def ev_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (hypertable-style): day + hour level
    aggregates in ONE pass via GROUPING SETS on truncation levels —
    at 100 TB this replaces N separate scans with one."""
    (events,) = tables(spark, sf_dir, "events")
    t = F.col("ts").cast("timestamp")
    base = events.select(
        F.date_trunc("day", t).alias("day"),
        F.date_trunc("hour", t).alias("hour"),
        "value",
    )
    base.createOrReplaceTempView("__rollup_events")
    return spark.sql("""
        SELECT day, hour, CAST(COUNT(*) AS BIGINT) AS n,
               round(SUM(value), 4) AS sum_value,
               CAST(grouping(hour) AS INT) AS is_day_level
        FROM __rollup_events
        GROUP BY GROUPING SETS ((day), (day, hour))
        ORDER BY day, is_day_level DESC, hour
    """)


EV_MULTI_ROLLUP_SQL = """
SELECT day, hour, CAST(COUNT(*) AS BIGINT) AS n,
       round(SUM(value), 4) AS sum_value,
       CAST(grouping(hour) AS INT) AS is_day_level
FROM (
  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
         value
  FROM events
)
GROUP BY GROUPING SETS ((day), (day, hour))
ORDER BY day, is_day_level DESC, hour
"""


def ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the same
    user's most recent PRIOR click (by (ts, event_id) total order);
    purchases with no prior click stay unattributed (NULL).

    Expressed as one window pass (last ... IGNORE NULLS over rows
    preceding) instead of a purchase×click self-join: one shuffle on
    user_id, per-user streaming order — the self-join form shuffles
    both sides and explodes on active users. At 100 TB user_id
    partitioning distributes; no global sort."""
    (events,) = tables(spark, sf_dir, "events")
    ev = events.filter(
        (F.col("event_type").isin("click", "purchase")) & (F.col("user_id") < 300)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    return (
        ev.withColumn(
            "click_id", F.last(F.when(is_click, F.col("event_id")), True).over(w)
        )
        .withColumn(
            "click_ts", F.last(F.when(is_click, F.col("ts")), True).over(w)
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "click_id",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("click_ts").cast("timestamp"))
            ).alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


EV_ATTRIBUTION_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
  FROM events
  WHERE event_type IN ('click', 'purchase') AND user_id < 300
), attr AS (
  SELECT event_id, user_id, event_type, ts,
    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      OVER w AS click_id,
    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      OVER w AS click_ts
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS purchase_id, user_id, click_id,
       epoch_us(ts) - epoch_us(click_ts) AS gap_us
FROM attr WHERE event_type = 'purchase'
ORDER BY purchase_id
"""


def ev_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-baseline anomaly detection: hourly event-type counts
    scored against the mean/stddev of their preceding 24 windows
    (z-score); the top-3 |z| windows per type (>= 12-window warmup)
    are the flagged anomalies — the volume-spike/drop monitor every
    event pipeline runs.

    Scale shape: the tumbling agg is a partial+final count (one
    shuffle on (type, hour)); the rolling stats window then operates
    on WINDOWS-per-type rows (thousands, not events) — its cost is
    independent of event volume. Deterministic: fixed frame, stddev
    over counts, ties broken by window start."""
    (events,) = tables(spark, sf_dir, "events")
    counts = events.groupBy(
        F.window("ts", "1 hour").getField("start").alias("wstart"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    base = Window.partitionBy("event_type").orderBy("wstart").rowsBetween(-24, -1)
    scored = counts.select(
        "event_type",
        F.col("wstart").cast("string").alias("wstart"),
        "n",
        F.count("n").over(base).alias("n_base"),
        F.avg("n").over(base).alias("mu"),
        F.stddev_samp("n").over(base).alias("sigma"),
    ).filter((F.col("n_base") >= 12) & (F.col("sigma") > 0))
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    rk = Window.partitionBy("event_type").orderBy(
        F.abs(z).desc(), "wstart"
    )
    return (
        scored.withColumn("rk", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("event_type", "wstart", "n", F.round(z, 6).alias("z"), "rk")
        .orderBy("event_type", "rk")
    )


EV_ANOMALY_SQL = """
WITH counts AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, CAST(wstart AS VARCHAR) AS wstart, n,
    COUNT(n) OVER w AS n_base,
    AVG(n) OVER w AS mu,
    STDDEV_SAMP(n) OVER w AS sigma
  FROM counts
  WINDOW w AS (PARTITION BY event_type ORDER BY wstart
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
), ranked AS (
  SELECT event_type, wstart, n, (n - mu) / sigma AS z,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY abs((n - mu) / sigma) DESC, wstart) AS rk
  FROM scored WHERE n_base >= 12 AND sigma > 0
)
SELECT event_type, wstart, n, round(z, 6) AS z, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
ORDER BY event_type, rk
"""


def ev_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path analysis: the most common event-type transitions
    (lag-derived bigrams) within a user's event stream, with their
    share of all transitions — the "what do users do next" readout
    product analytics runs after sessionization.

    Scale shape: ONE user-partitioned window (the same shuffle
    sessionize pays) derives the predecessor type; the bigram count is
    a partial+final aggregate on (prev, curr) — 25 keys here, never
    more than |types|² anywhere. Share uses a window over the tiny
    aggregate, not a second scan."""
    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            "event_id",
            "ts",
            F.lag("event_type").over(w).alias("prev"),
            F.col("event_type").alias("curr"),
        )
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", "curr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy()
    return (
        pairs.select(
            "prev",
            "curr",
            "n",
            F.round(F.col("n") / F.sum("n").over(tot), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), "prev", "curr")
        .limit(10)
    )


EV_PATH_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id
           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev,
         event_type AS curr
  FROM events
), counted AS (
  SELECT prev, curr, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE prev IS NOT NULL GROUP BY prev, curr
)
SELECT prev, curr, n, round(n / SUM(n) OVER (), 6) AS share
FROM counted
ORDER BY n DESC, prev, curr
LIMIT 10
"""


def ev_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill + interpolate (TimescaleDB's
    time_bucket_gapfill / interpolate): hourly avg(value) per
    event_type on a DENSE hour grid — missing hours are synthesized
    and filled by linear interpolation between the nearest observed
    neighbors (exterior gaps stay NULL). The resampling primitive
    every time-series pipeline needs before models see the data.

    Scale shape: the observed aggregate is partial+final on
    (type, hour); the dense grid is sequence+explode over the GLOBAL
    hour range (a metadata-sized 1-row subquery, broadcast) — grid
    size is hours x types regardless of event volume, and the
    interpolation windows run on that small grid, not on events.
    To keep the demo's grid sparse, only midnight-to-05:59 events
    enter (hours 6-23 become the gaps)."""
    (events,) = tables(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts").cast("timestamp"))
    obs = (
        events.filter(F.hour(F.col("ts").cast("timestamp")) < 6)
        .groupBy(hour.alias("h"), "event_type")
        .agg(F.avg("value").alias("v"))
    )
    rng = obs.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    types = obs.select("event_type").distinct()
    grid = (
        types.join(F.broadcast(rng))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    g = grid.join(obs, ["event_type", "h"], "left")
    w = Window.partitionBy("event_type").orderBy("h")
    prev_v = F.last("v", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_t = F.last(F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_v = F.first("v", ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    next_t = F.first(F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    frac = (
        (F.unix_timestamp("h") - F.unix_timestamp(prev_t)).cast("double")
        / (F.unix_timestamp(next_t) - F.unix_timestamp(prev_t)).cast("double")
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        )
    )
    return (
        g.select(
            "event_type",
            F.col("h").cast("string").alias("h"),
            F.round(filled, 6).alias("v"),
            F.col("v").isNotNull().alias("observed"),
        )
        .orderBy("event_type", "h")
    )


EV_GAPFILL_SQL = """
WITH obs AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         AVG(value) AS v
  FROM events
  WHERE EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) < 6
  GROUP BY 1, 2
), rng AS (
  SELECT MIN(h) AS h0, MAX(h) AS h1 FROM obs
), grid AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM obs) t
  CROSS JOIN (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM rng
  ) g
), joined AS (
  SELECT grid.event_type, grid.h, obs.v FROM grid
  LEFT JOIN obs ON obs.event_type = grid.event_type AND obs.h = grid.h
), ctx AS (
  SELECT event_type, h, v,
    last_value(v IGNORE NULLS) OVER wp AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS pt,
    first_value(v IGNORE NULLS) OVER wf AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wf AS nt
  FROM joined
  WINDOW
    wp AS (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, CAST(h AS VARCHAR) AS h,
  round(CASE WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv)
                  * (CAST(floor(epoch(h)) AS DOUBLE) - CAST(floor(epoch(pt)) AS DOUBLE))
                  / (CAST(floor(epoch(nt)) AS DOUBLE) - CAST(floor(epoch(pt)) AS DOUBLE))
        END, 6) AS v,
  v IS NOT NULL AS observed
FROM ctx
ORDER BY event_type, h
"""


LTTB_K = 12  # points kept per series


def ev_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling, per event_type:
    the standard time-series decimator for visualization (Steinarsson
    2013) — keep first and last, split the middle into K-2 buckets,
    and from each bucket keep the point forming the largest triangle
    with the previously KEPT point and the next bucket's centroid.
    Inherently sequential per series (each choice depends on the
    previous), so the kernel is applyInPandas per event_type over the
    ALREADY-AGGREGATED hourly series — group size is hours, not
    events; the oracle replays the recursion with a recursive CTE.

    Determinism: inputs are rounded (v to 6), areas are rounded to 6
    before argmax, ties break to the earliest timestamp, and the
    bucket assignment uses the same floor((i-1)*(K-2)/(n-2)) float
    formula in both engines."""
    import numpy as np
    import pandas as pd

    (events,) = tables(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type",
            F.unix_timestamp(
                F.date_trunc("hour", F.col("ts").cast("timestamp"))
            ).alias("t"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    k = LTTB_K

    def lttb(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("t").reset_index(drop=True)
        n = len(pdf)
        t = pdf["t"].to_numpy(dtype=np.float64)
        v = pdf["v"].to_numpy(dtype=np.float64)
        if n <= k:
            sel = list(range(n))
        else:
            b = np.floor((np.arange(1, n - 1) - 1) * (k - 2) / (n - 2)).astype(int)
            sel = [0]
            for step in range(k - 2):
                cand = np.where(b == step)[0] + 1
                nxt = np.where(b == step + 1)[0] + 1
                if len(nxt):
                    tn, vn = np.round(t[nxt].mean(), 6), np.round(v[nxt].mean(), 6)
                else:
                    tn, vn = t[n - 1], v[n - 1]
                tp, vp = t[sel[-1]], v[sel[-1]]
                area = np.round(
                    np.abs((tp - tn) * (v[cand] - vp) - (tp - t[cand]) * (vn - vp)),
                    6,
                )
                sel.append(int(cand[int(np.argmax(area))]))
            sel.append(n - 1)
        out = pdf.iloc[sel].copy()
        out["step"] = np.arange(len(sel), dtype=np.int64)
        return out[["event_type", "step", "t", "v"]]

    return (
        hourly.groupBy("event_type")
        .applyInPandas(lttb, "event_type string, step bigint, t bigint, v double")
        .orderBy("event_type", "step")
    )


EV_LTTB_DOWNSAMPLE_SQL = f"""
WITH RECURSIVE
hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS t,
         round(AVG(value), 6) AS v
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, t, v,
         row_number() OVER (PARTITION BY event_type ORDER BY t) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
mid AS (
  SELECT *, CAST(floor((idx - 1) * {LTTB_K - 2}.0 / (n - 2)) AS BIGINT) AS b
  FROM base WHERE idx BETWEEN 1 AND n - 2
),
nxt AS (
  SELECT event_type, b, round(avg(CAST(t AS DOUBLE)), 6) AS tn,
         round(avg(v), 6) AS vn
  FROM mid GROUP BY event_type, b
),
lastp AS (
  SELECT event_type, t, v FROM base WHERE idx = n - 1
),
sel AS (
  SELECT event_type, 0 AS step, t, v FROM base WHERE idx = 0
  UNION ALL
  (SELECT m.event_type, sel.step + 1, m.t, m.v
   FROM sel
   JOIN mid m ON m.event_type = sel.event_type AND m.b = sel.step
   LEFT JOIN nxt nx ON nx.event_type = sel.event_type AND nx.b = sel.step + 1
   JOIN lastp lp ON lp.event_type = sel.event_type
   WHERE sel.step < {LTTB_K - 2}
   QUALIFY row_number() OVER (
     PARTITION BY m.event_type
     ORDER BY round(abs(
         (CAST(sel.t AS DOUBLE) - COALESCE(nx.tn, CAST(lp.t AS DOUBLE)))
           * (m.v - sel.v)
       - (CAST(sel.t AS DOUBLE) - CAST(m.t AS DOUBLE))
           * (COALESCE(nx.vn, lp.v) - sel.v)
     ), 6) DESC, m.t ASC) = 1)
)
SELECT event_type, CAST(step AS BIGINT) AS step, t, v FROM sel
UNION ALL
SELECT event_type, {LTTB_K - 1}, t, v FROM lastp
ORDER BY event_type, step
"""


HOLT_ALPHA = 0.5  # level smoothing (exactly representable)
HOLT_BETA = 0.3  # trend smoothing
HOLT_H = 6  # forecast horizon (hours)


def ev_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per event_type over the
    hourly series, forecasting the next HOLT_H hours — the classic
    level+trend forecaster a capacity monitor runs on its counters.
    The recursion (l_t = a*y + (1-a)(l+b); b_t = B(l_t - l) + (1-B)b)
    is sequential per series, so the kernel is applyInPandas over the
    ALREADY-AGGREGATED series; the oracle replays it with a recursive
    CTE — verified bit-exact (identical IEEE op order both sides;
    inputs rounded to 6 first, outputs rounded to 6 last)."""
    import numpy as np
    import pandas as pd

    (events,) = tables(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type",
            F.unix_timestamp(
                F.date_trunc("hour", F.col("ts").cast("timestamp"))
            ).alias("t"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    a, bb, hh = HOLT_ALPHA, HOLT_BETA, HOLT_H

    def holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("t").reset_index(drop=True)
        y = pdf["v"].to_numpy(dtype=np.float64)
        if len(y) < 2:
            # Trend needs two points; the recursive-CTE oracle's seed
            # requires idx=1 so it OMITS single-point series — match
            # that omission instead of crashing in the executor
            # (ADVICE r5).
            return pd.DataFrame(
                {
                    "event_type": pd.Series(dtype=object),
                    "h": pd.Series(dtype=np.int64),
                    "yhat": pd.Series(dtype=np.float64),
                }
            )
        lvl, tr = y[0], y[1] - y[0]
        for i in range(1, len(y)):
            nl = a * y[i] + (1 - a) * (lvl + tr)
            tr = bb * (nl - lvl) + (1 - bb) * tr
            lvl = nl
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "h": np.arange(1, hh + 1, dtype=np.int64),
                "yhat": [round(lvl + k * tr, 6) for k in range(1, hh + 1)],
            }
        )

    return (
        hourly.groupBy("event_type")
        .applyInPandas(holt, "event_type string, h bigint, yhat double")
        .orderBy("event_type", "h")
    )


EV_HOLT_FORECAST_SQL = f"""
WITH RECURSIVE
hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS t,
         round(AVG(value), 6) AS v
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY t) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
hw AS (
  SELECT b0.event_type, 0 AS idx, b0.v AS l, b1.v - b0.v AS b, b0.n
  FROM base b0 JOIN base b1
    ON b1.event_type = b0.event_type AND b1.idx = 1
  WHERE b0.idx = 0
  UNION ALL
  SELECT s.event_type, s.idx,
         {HOLT_ALPHA} * s.v + {1 - HOLT_ALPHA} * (hw.l + hw.b),
         {HOLT_BETA} * ({HOLT_ALPHA} * s.v + {1 - HOLT_ALPHA} * (hw.l + hw.b)
                        - hw.l) + {1 - HOLT_BETA} * hw.b,
         hw.n
  FROM hw JOIN base s
    ON s.event_type = hw.event_type AND s.idx = hw.idx + 1
),
final AS (
  SELECT event_type, l, b FROM hw WHERE idx = n - 1
)
SELECT f.event_type, CAST(g.h AS BIGINT) AS h,
       round(f.l + g.h * f.b, 6) AS yhat
FROM final f CROSS JOIN (SELECT unnest(range(1, {HOLT_H + 1})) AS h) g
ORDER BY event_type, h
"""


def ev_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event_type: the hour where the
    cumulative sum of deviations from the series mean attains its
    maximum magnitude is the most likely mean-shift point — the
    at-most-one-changepoint estimator monitors run over counters.
    Pure window algebra (prefix sum over the hourly aggregate, argmax
    via rank) — no recursion, no Python; window cost is hours x
    types, independent of event volume. Ties break to the earliest
    hour; magnitudes rounded to 6 for cross-engine argmax parity."""
    (events,) = tables(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type",
            F.unix_timestamp(
                F.date_trunc("hour", F.col("ts").cast("timestamp"))
            ).alias("t"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    wall = Window.partitionBy("event_type")
    word = Window.partitionBy("event_type").orderBy("t")
    demeaned = hourly.select(
        "event_type",
        "t",
        (F.col("v") - F.avg("v").over(wall)).alias("dev"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    cusum = F.sum("dev").over(word.rowsBetween(Window.unboundedPreceding, 0))
    scored = demeaned.select(
        "event_type", "t", F.round(F.abs(cusum), 6).alias("mag"), "n"
    )
    rk = Window.partitionBy("event_type").orderBy(F.col("mag").desc(), "t")
    return (
        scored.withColumn("r", F.row_number().over(rk))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.from_unixtime("t").cast("string").alias("change_at"),
            "mag",
            F.col("n").cast("bigint").alias("n_hours"),
        )
        .orderBy("event_type")
    )


EV_CHANGEPOINT_SQL = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS t,
         round(AVG(value), 6) AS v
  FROM events GROUP BY 1, 2
), demeaned AS (
  SELECT event_type, t,
         v - AVG(v) OVER (PARTITION BY event_type) AS dev,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
), scored AS (
  SELECT event_type, t,
    round(abs(SUM(dev) OVER (
      PARTITION BY event_type ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS mag,
    n
  FROM demeaned
)
SELECT event_type,
  CAST(strftime(to_timestamp(t), '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS change_at,
  mag, CAST(n AS BIGINT) AS n_hours
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY mag DESC, t) AS r
  FROM scored
) WHERE r = 1
ORDER BY event_type
"""


def ev_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministic experiment arms
    (user_id parity as the assignment hash): conversion = the user
    fired at least one purchase event. Reports per-arm n/conversions/
    rate and the pooled-variance z statistic — the readout every
    experimentation pipeline computes. One per-user aggregate, then a
    2-row arm aggregate; z is driver-free arithmetic on those 2 rows
    pivoted via conditional aggregation."""
    (events,) = tables(spark, sf_dir, "events")
    # conversion = above-mean purchase count: data-relative, so the
    # arms stay interior (0 < rate < 1) at every scale factor; the
    # mean is exact-integer-sum / exact-count in both engines
    pc = events.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("np")
    )
    per_user = pc.join(F.broadcast(pc.agg(F.avg("np").alias("mu")))).select(
        "user_id", (F.col("np") > F.col("mu")).cast("int").alias("converted")
    )
    arms = (
        per_user.withColumn("arm", (F.col("user_id") % 2).cast("int"))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("converted").cast("bigint").alias("conv"),
        )
    )
    a = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    var = pp * (1 - pp) * (1 / F.col("n0") + 1 / F.col("n1"))
    # degenerate arms (all or none converted) have zero pooled
    # variance -> z undefined; report NULL rather than dividing
    z = F.when(var > 0, (p0 - p1) / F.sqrt(var))
    return a.select(
        F.col("n0").cast("bigint").alias("n0"),
        F.col("c0").cast("bigint").alias("conv0"),
        F.round(p0, 6).alias("rate0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("c1").cast("bigint").alias("conv1"),
        F.round(p1, 6).alias("rate1"),
        F.round(z, 6).alias("z"),
    )


EV_AB_TEST_SQL = """
WITH pc AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
  FROM events GROUP BY user_id
), per_user AS (
  SELECT user_id,
         CASE WHEN np > (SELECT AVG(np) FROM pc) THEN 1 ELSE 0 END AS converted
  FROM pc
), arms AS (
  SELECT CAST(user_id % 2 AS INTEGER) AS arm,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(converted) AS BIGINT) AS conv
  FROM per_user GROUP BY 1
), piv AS (
  SELECT
    SUM(CASE WHEN arm = 0 THEN n END) AS n0,
    SUM(CASE WHEN arm = 0 THEN conv END) AS c0,
    SUM(CASE WHEN arm = 1 THEN n END) AS n1,
    SUM(CASE WHEN arm = 1 THEN conv END) AS c1
  FROM arms
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS conv0,
  round(c0 / CAST(n0 AS DOUBLE), 6) AS rate0,
  CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS conv1,
  round(c1 / CAST(n1 AS DOUBLE), 6) AS rate1,
  round(CASE WHEN ((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                  * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                  * (1.0 / n0 + 1.0 / n1) > 0
        THEN (c0 / CAST(n0 AS DOUBLE) - c1 / CAST(n1 AS DOUBLE))
           / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                  * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                  * (1.0 / n0 + 1.0 / n1)) END, 6) AS z
FROM piv
"""


def ev_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, Recency (last purchase ts),
    Frequency (purchase count), Monetary (purchase value sum), each
    quintiled into 1-5 scores (exact ntile semantics, tie-broken by
    user_id), then segment counts over the 3-digit RFM code — the
    classic customer segmentation every growth team runs.

    Scale shape: a global `ntile().over(Window.orderBy(...))` would
    push every user through ONE task (the r5 verdict's scale-killer);
    each quintile here is `operators.rank.ntile_by_range` — a
    range-partitioned two-pass rank that stays distributed at 10^8+
    users and replays the oracle's single-partition ntile bit-exactly
    (tests/test_rank.py). Segment rollup is a tiny partial+final
    count."""
    (events,) = tables(spark, sf_dir, "events")
    per_user = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_timestamp(F.col("ts").cast("timestamp"))).alias("last_ts"),
            F.count(F.lit(1)).alias("freq"),
            F.round(F.sum("value"), 4).alias("money"),
        )
    )
    scored = per_user
    for out, keys in (
        ("r", ["last_ts", "user_id"]),
        ("f", ["freq", "user_id"]),
        ("m", ["money", "user_id"]),
    ):
        scored = ntile_by_range(scored, 5, keys, out=out)
    scored = scored.select("user_id", "r", "f", "m")
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
            .cast("bigint")
            .alias("rfm"),
            "n_users",
        )
        .orderBy("rfm")
    )


EV_RFM_SQL = """
WITH per_user AS (
  SELECT user_id,
    CAST(floor(epoch(MAX(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS last_ts,
    CAST(COUNT(*) AS BIGINT) AS freq,
    round(SUM(value), 4) AS money
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), scored AS (
  SELECT user_id,
    ntile(5) OVER (ORDER BY last_ts, user_id) AS r,
    ntile(5) OVER (ORDER BY freq, user_id) AS f,
    ntile(5) OVER (ORDER BY money, user_id) AS m
  FROM per_user
)
SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM scored GROUP BY r, f, m ORDER BY rfm
"""


def ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by signup week, then
    cumulative purchase revenue per user at week offsets 0..3 — the
    growth metric behind every acquisition-spend decision (pairs with
    ev_retention's activity view).

    Scale shape: one signup aggregate (per-user min — partial+final),
    one purchases⋈cohort hash join on user_id, one (cohort, offset)
    partial+final aggregate; the cumulative sum runs on the tiny
    cohort×4 grid with a PARTITIONED window (never event-sized)."""
    (events,) = tables(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    cohorts = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.to_date(F.date_trunc("week", F.min(ts))).alias("cohort"))
    )
    sizes = cohorts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.to_date(F.date_trunc("week", ts)).alias("pweek"),
        "value",
    )
    j = purchases.join(cohorts, F.col("p_user") == F.col("user_id")).select(
        "cohort",
        (F.datediff(F.col("pweek"), F.col("cohort")) / 7).cast("int").alias("week_offset"),
        "value",
        "p_user",
    )
    per = (
        j.filter((F.col("week_offset") >= 0) & (F.col("week_offset") <= 3))
        .groupBy("cohort", "week_offset")
        .agg(
            F.countDistinct("p_user").alias("n_buyers"),
            F.round(F.sum("value"), 4).alias("revenue"),
        )
    )
    w = Window.partitionBy("cohort").orderBy("week_offset")
    return (
        per.join(sizes, "cohort")
        .withColumn("cum_revenue", F.round(F.sum("revenue").over(w), 4))
        .select(
            F.col("cohort").cast("string").alias("cohort"),
            F.col("week_offset").cast("bigint").alias("week_offset"),
            F.col("n_buyers").cast("bigint").alias("n_buyers"),
            "revenue",
            F.round(F.col("cum_revenue") / F.col("cohort_users"), 6).alias(
                "ltv_per_user"
            ),
        )
        .orderBy("cohort", "week_offset")
    )


EV_COHORT_LTV_SQL = """
WITH cohorts AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM cohorts GROUP BY cohort
), purchases AS (
  SELECT user_id AS p_user,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS pweek,
         value
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT cohort,
         CAST(FLOOR(date_diff('day', cohort, pweek) / 7) AS INTEGER) AS week_offset,
         value, p_user
  FROM purchases JOIN cohorts ON p_user = user_id
), per AS (
  SELECT cohort, week_offset,
         CAST(COUNT(DISTINCT p_user) AS BIGINT) AS n_buyers,
         round(SUM(value), 4) AS revenue
  FROM j WHERE week_offset BETWEEN 0 AND 3
  GROUP BY cohort, week_offset
)
SELECT CAST(per.cohort AS VARCHAR) AS cohort,
       CAST(week_offset AS BIGINT) AS week_offset, n_buyers, revenue,
       round(SUM(revenue) OVER (PARTITION BY per.cohort ORDER BY week_offset)
             / cohort_users, 6) AS ltv_per_user
FROM per JOIN sizes ON per.cohort = sizes.cohort
ORDER BY cohort, week_offset
"""


def ev_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality matrix: event volume and average value by
    (day-of-week, hour-of-day), with each weekday's peak hour flagged —
    the capacity-planning heatmap behind autoscaling schedules.

    Scale shape: one partial+final aggregate over a 7×24 grid; the
    peak-hour rank is a window PARTITIONED by dow over ≤24 rows per
    group. DOW uses Spark's 1=Sunday convention (DuckDB's 0=Sunday
    shifted by +1 in the oracle)."""
    (events,) = tables(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    grid = (
        events.select(
            F.dayofweek(ts).alias("dow"), F.hour(ts).alias("hour"), "value"
        )
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )
    rk = Window.partitionBy("dow").orderBy(F.col("n_events").desc(), "hour")
    return (
        grid.withColumn("is_peak", F.row_number().over(rk) == 1)
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            F.col("hour").cast("bigint").alias("hour"),
            F.col("n_events").cast("bigint").alias("n_events"),
            "avg_value",
            "is_peak",
        )
        .orderBy("dow", "hour")
    )


EV_SEASONALITY_SQL = """
WITH grid AS (
  SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
         CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         round(AVG(value), 6) AS avg_value
  FROM events GROUP BY 1, 2
)
SELECT dow, hour, n_events, avg_value,
       row_number() OVER (PARTITION BY dow ORDER BY n_events DESC, hour) = 1
         AS is_peak
FROM grid ORDER BY dow, hour
"""


def ev_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, rolled into a
    streak-length histogram — the classic GAPS-AND-ISLANDS shape
    (engagement/DAU-streak analytics). Island anchor = day −
    row_number(days) per user: consecutive days share an anchor.

    Scale shape: one distinct over (user, day) (partial+final), one
    row_number window PARTITIONED by user (per-user day counts are
    tiny), two grid-sized aggregates. Never an unpartitioned window —
    the catalog plan gate checks."""
    (events,) = tables(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    best = islands.groupBy("user_id").agg(F.max("len").alias("best"))
    return (
        best.groupBy("best")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("best").cast("bigint").alias("streak_days"),
            F.col("n_users").cast("bigint").alias("n_users"),
        )
        .orderBy("streak_days")
    )


EV_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), anchored AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS anchor
  FROM days
), islands AS (
  SELECT user_id, anchor, COUNT(*) AS len FROM anchored GROUP BY 1, 2
), best AS (
  SELECT user_id, MAX(len) AS best FROM islands GROUP BY user_id
)
SELECT CAST(best AS BIGINT) AS streak_days,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM best GROUP BY best ORDER BY streak_days
"""


# --------------------------------------------------------------------------
CHURN_HORIZON_DAYS = 7  # silent ≥ this long before corpus end => churned


def ev_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (days from first
    to last event). Users still active within CHURN_HORIZON_DAYS of
    the corpus end are right-CENSORED — the estimator the retention
    team runs instead of a naive churn-rate.

    S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) with d_i churn events at
    lifetime t_i and n_i the at-risk count (lifetime ≥ t_i). Scale
    shape: one shuffle to the per-user (first, last) aggregate, one
    more to the per-lifetime (d, c) table, which is CALENDAR-BOUNDED
    (≤ corpus day-span rows, independent of user count) — the
    cumulative windows run over that bounded grid. The product is
    exp(Σ ln(1−d/n)); a d=n final row would be ln(0), so both sides
    substitute −1000 (exp ≡ 0.0 in IEEE double) to stay engine-portable
    (Spark ln(0) is NULL, DuckDB's is -inf).
    """
    (events,) = tables(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("timestamp")).alias("first_ts"),
        F.max(F.col("ts").cast("timestamp")).alias("last_ts"),
    )
    bounds = events.agg(F.max(F.col("ts").cast("timestamp")).alias("corpus_end"))
    lives = per_user.crossJoin(F.broadcast(bounds)).select(
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts")).alias("t"),
        (
            F.col("last_ts")
            < F.col("corpus_end") - F.expr(f"INTERVAL {CHURN_HORIZON_DAYS} DAYS")
        ).cast("int").alias("churned"),
    )
    grid = lives.groupBy("t").agg(
        F.sum("churned").alias("d"),
        F.sum(F.lit(1) - F.col("churned")).alias("c"),
    )
    w_ord = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    at_risk = (
        F.sum(F.col("d") + F.col("c")).over(w_all)
        - F.sum(F.col("d") + F.col("c")).over(w_ord)
        + F.col("d")
        + F.col("c")
    )
    term = F.when(
        F.col("d") >= F.col("n_risk"), F.lit(-1000.0)
    ).otherwise(F.log(F.lit(1.0) - F.col("d") / F.col("n_risk")))
    return (
        grid.withColumn("n_risk", at_risk)
        .withColumn("survival", F.round(F.exp(F.sum(term).over(w_ord)), 6))
        .select(
            "t",
            F.col("d").cast("bigint").alias("d"),
            F.col("c").cast("bigint").alias("c"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            "survival",
        )
        .orderBy("t")
    )


EV_SURVIVAL_SQL = f"""
WITH per_user AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
         MAX(CAST(ts AS TIMESTAMP)) AS last_ts
  FROM events GROUP BY user_id
),
bounds AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS corpus_end FROM events),
lives AS (
  SELECT datediff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE)) AS t,
         CASE WHEN last_ts < corpus_end - INTERVAL {CHURN_HORIZON_DAYS} DAY
              THEN 1 ELSE 0 END AS churned
  FROM per_user CROSS JOIN bounds
),
grid AS (
  SELECT t, SUM(churned) AS d, SUM(1 - churned) AS c FROM lives GROUP BY t
),
risk AS (
  SELECT t, d, c,
         SUM(d + c) OVER () - SUM(d + c) OVER (ORDER BY t) + d + c AS n_risk
  FROM grid
)
SELECT t, CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
  CAST(n_risk AS BIGINT) AS n_risk,
  round(exp(SUM(CASE WHEN d >= n_risk THEN -1000.0
                ELSE ln(1.0 - d / CAST(n_risk AS DOUBLE)) END)
            OVER (ORDER BY t)), 6) AS survival
FROM risk
ORDER BY t
"""


# --------------------------------------------------------------------------
EWMA_ALPHA = 0.25  # exactly representable in binary


def ewma_kernel(alpha: float):
    """The per-series EWMA applyInPandas kernel, shared by ev_ewma and
    streaming.jobs.stream_ewma (both validate against EV_EWMA_SQL — a
    divergent copy would silently split the twins). Rounds
    half-AWAY-from-zero to match DuckDB: with α dyadic and y exact
    6-dp decimals, s hits exact .5 ties at the 7th digit structurally,
    so python round's half-even diverges."""
    import numpy as np
    import pandas as pd

    def ewma(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("t").reset_index(drop=True)
        y = pdf["v"].to_numpy(dtype=np.float64)
        s = np.empty(len(y), dtype=np.float64)
        s[0] = y[0]
        for i in range(1, len(y)):
            s[i] = alpha * y[i] + (1 - alpha) * s[i - 1]
        scaled = s * 1e6
        rounded = (
            np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5))
            / 1e6
        )
        return pd.DataFrame(
            {"event_type": pdf["event_type"], "t": pdf["t"], "v": y, "ewma": rounded}
        )

    return ewma


def ev_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per event_type over the
    hourly mean-value series (s_t = α·y_t + (1−α)·s_{t−1}, s_1 = y_1)
    — the smoother behind every ops dashboard's trend line.

    The recursion is sequential per series, so like ev_holt_forecast
    the kernel is applyInPandas over the ALREADY-AGGREGATED hourly
    series (cost independent of raw event volume; one shuffle to the
    hourly grid, one to group series). Inputs rounded to 6 first and
    outputs rounded to 6 last so the recursive-CTE oracle replays the
    identical IEEE sequence.
    """
    (events,) = tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias("t"),
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    return (
        hourly.groupBy("event_type")
        .applyInPandas(
            ewma_kernel(EWMA_ALPHA),
            "event_type string, t bigint, v double, ewma double",
        )
        .orderBy("event_type", "t")
    )


EV_EWMA_SQL = f"""
WITH RECURSIVE
hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS t,
         round(AVG(value), 6) AS v
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, t, v,
         row_number() OVER (PARTITION BY event_type ORDER BY t) - 1 AS idx
  FROM hourly
),
rec AS (
  SELECT event_type, t, v, idx, v AS s FROM base WHERE idx = 0
  UNION ALL
  SELECT b.event_type, b.t, b.v, b.idx,
         {EWMA_ALPHA} * b.v + {1 - EWMA_ALPHA} * rec.s
  FROM rec JOIN base b
    ON b.event_type = rec.event_type AND b.idx = rec.idx + 1
)
SELECT event_type, t, v, round(s, 6) AS ewma
FROM rec
ORDER BY event_type, t
"""


# --------------------------------------------------------------------------
# MATCH_RECOGNIZE-style sequence patterns over per-session event strings.
# Initials are unique across the 5 event types (signup error click view
# purchase → s e c v p).
SEQ_PATTERNS = [
    ("view_to_purchase", "v.*p"),
    ("clean_funnel", "v[^e]*p"),  # view→purchase with no error between
    ("double_error", "e.*e"),
]


def ev_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (SQL MATCH_RECOGNIZE's common cases):
    sessionize (30-min gap), render each session as its event-initial
    string in (ts, event_id) order, then count sessions whose string
    matches each regex — the funnel/journey analysis a product team
    writes in MATCH_RECOGNIZE on engines that have it.

    Scale shape: sessionization is the standard one-shuffle-per-user
    lag window; the per-session string is collect_list over a session
    (human-scale by construction — the 30-min gap bounds it); the
    regex evaluation is map-only JVM (rlike); the final rollup is one
    tiny aggregate. Patterns ride an explode so the output is one row
    per pattern.
    """
    (events,) = tables(spark, sf_dir, "events")
    sess = sessionized(events, F.substring("event_type", 1, 1).alias("ini"))
    seqs = sess.groupBy("user_id", "sess_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ini"))),
                lambda x: x.getField("ini"),
            ),
            "",
        ).alias("seq")
    )
    flags = seqs.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        *[
            F.sum(F.col("seq").rlike(rx).cast("int")).alias(f"m_{name}")
            for name, rx in SEQ_PATTERNS
        ],
    )
    return (
        flags.select(
            "n_sessions",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("pattern"),
                            F.col(f"m_{name}").alias("n_matched"),
                        )
                        for name, _ in SEQ_PATTERNS
                    ]
                )
            ).alias("pm"),
        )
        .select(
            F.col("pm.pattern").alias("pattern"),
            F.col("pm.n_matched").cast("bigint").alias("n_matched"),
            F.col("n_sessions").cast("bigint").alias("n_sessions"),
            F.round(F.col("pm.n_matched") / F.col("n_sessions"), 6).alias("share"),
        )
        .orderBy("pattern")
    )


def _pattern_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT '{name}' AS pattern, '{rx}' AS rx" for name, rx in SEQ_PATTERNS
    )
    return f"""
WITH pats AS ({rows}),
{_sess_sql_cte(", substr(event_type, 1, 1) AS ini", ", ini")},
seqs AS (
  SELECT user_id, sess_id,
         string_agg(ini, '' ORDER BY ts, event_id) AS seq
  FROM sess GROUP BY user_id, sess_id
)
SELECT p.pattern,
  CAST(SUM(CASE WHEN regexp_matches(s.seq, p.rx) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_matched,
  CAST(COUNT(*) AS BIGINT) AS n_sessions,
  round(SUM(CASE WHEN regexp_matches(s.seq, p.rx) THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE), 6) AS share
FROM seqs s CROSS JOIN pats p
GROUP BY p.pattern
ORDER BY p.pattern
"""


# --------------------------------------------------------------------------
STL_HALF = 12  # centered 24h moving-average trend window (rows -12..+11)


def ev_stl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style decomposition of the hourly event-count series per
    type: trend = centered 24h moving average, seasonal = mean
    detrended residual per hour-of-day, remainder variance share —
    the classic-decomposition version (one MA pass + one grouped
    mean) of what statsmodels' seasonal_decompose computes.

    Scale shape: the hourly grid is calendar-bounded; the MA is a
    window PARTITIONED by event_type; the seasonal mean is one grouped
    aggregate on (type, hour-of-day) — 24 rows per type. Counts are
    INTEGERS so the sliding-frame additions are exact in double and
    engine-portable; divisions happen once per output value.
    """
    (events,) = tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias("t"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(-STL_HALF, STL_HALF - 1)
    )
    detr = hourly.select(
        "event_type",
        "t",
        "n",
        (F.col("n") - F.avg("n").over(w)).alias("resid"),
    )
    return (
        detr.groupBy(
            "event_type", F.pmod(F.floor(F.col("t") / 3600), F.lit(24)).alias("hod")
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("resid"), 6).alias("seasonal"),
        )
        .orderBy("event_type", "hod")
    )


EV_STL_SQL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS t,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
detr AS (
  SELECT event_type, t, n,
    n - AVG(n) OVER (PARTITION BY event_type ORDER BY t
                     ROWS BETWEEN {STL_HALF} PRECEDING
                     AND {STL_HALF - 1} FOLLOWING) AS resid
  FROM hourly
)
SELECT event_type, CAST(floor(t / 3600) % 24 AS BIGINT) AS hod,
  CAST(COUNT(*) AS BIGINT) AS n_points,
  round(AVG(resid), 6) AS seasonal
FROM detr
GROUP BY 1, 2
ORDER BY event_type, hod
"""


# --------------------------------------------------------------------------
def ev_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: hours from a user's FIRST view
    to their first purchase AFTER it, summarized as exact quartiles +
    conversion share — the funnel's "how long" companion (ev_funnel
    answers "how many").

    Scale shape: two per-user aggregates (one shuffle each on
    user_id — the second filter-joins purchases after the first view),
    then ONE exact-percentile aggregate over the per-user delays
    (users-sized input into a single partial+final agg, no window, no
    sort of the raw stream).
    """
    (events,) = tables(spark, sf_dir, "events")
    # fractional epoch seconds (unix_timestamp TRUNCATES sub-second
    # parts; DuckDB's epoch() keeps them — cast-to-double matches)
    ts = F.col("ts").cast("timestamp").cast("double")
    first_view = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ts).alias("t_view"))
    )
    purch = events.filter(F.col("event_type") == "purchase").select(
        "user_id", ts.alias("t_p")
    )
    delays = (
        first_view.join(purch, "user_id", "left")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(F.when(F.col("t_p") >= F.col("t_view"), F.col("t_p"))).alias(
                "t_conv"
            )
        )
        .select(
            "user_id",
            ((F.col("t_conv") - F.col("t_view")) / 3600.0).alias("delay_h"),
        )
    )
    return delays.agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.count("delay_h").alias("n_converted"),
        F.round(F.count("delay_h") / F.count(F.lit(1)), 6).alias("conversion"),
        F.round(F.percentile("delay_h", F.lit(0.25)), 6).alias("p25_h"),
        F.round(F.percentile("delay_h", F.lit(0.5)), 6).alias("median_h"),
        F.round(F.percentile("delay_h", F.lit(0.75)), 6).alias("p75_h"),
    )


EV_TIME_TO_CONVERT_SQL = """
WITH first_view AS (
  SELECT user_id, MIN(epoch(CAST(ts AS TIMESTAMP))) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
delays AS (
  SELECT fv.user_id,
    (MIN(CASE WHEN epoch(CAST(p.ts AS TIMESTAMP)) >= fv.t_view
         THEN epoch(CAST(p.ts AS TIMESTAMP)) END) - fv.t_view) / 3600.0 AS delay_h
  FROM first_view fv
  LEFT JOIN events p ON p.user_id = fv.user_id AND p.event_type = 'purchase'
  GROUP BY fv.user_id, fv.t_view
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers,
  CAST(COUNT(delay_h) AS BIGINT) AS n_converted,
  round(COUNT(delay_h) / CAST(COUNT(*) AS DOUBLE), 6) AS conversion,
  round(quantile_cont(delay_h, 0.25), 6) AS p25_h,
  round(quantile_cont(delay_h, 0.5), 6) AS median_h,
  round(quantile_cont(delay_h, 0.75), 6) AS p75_h
FROM delays
"""


# --------------------------------------------------------------------------
WF_WINDOW_H = 72  # funnel completion window (hours from step-1)
WF_STEPS = ["signup", "view", "purchase"]


def ev_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel (ClickHouse windowFunnel): the deepest
    ordered prefix of signup → view → purchase a user completes with
    every step inside WF_WINDOW_H hours of their FIRST signup — unlike
    ev_funnel's unordered ever-did-step counts, order and the clock
    both matter.

    Scale shape: one aggregate per funnel level, each a key-partitioned
    shuffle on user_id (level k's timestamps condition on level k-1's
    via a broadcast-sized join of per-user step times — user-count
    rows, not event rows). No windows, no collect of event streams.
    Output: users at each completed level (0..3).

    t1 and t2 are each referenced twice (the next level's gate AND
    the final levels attach) and Catalyst re-runs the whole lineage
    per reference — 7 events scans instead of the 4 distinct passes
    the funnel needs (the three step-filtered scans + distinct
    users). Above the persist_if_large gate they are lazily persisted
    once (user-count-sized frames); below it recomputation is cheaper
    than the barrier (r9-opt measurement). The per-user frames keep
    their broadcast joins via SIZE-GATED hints (broadcast_if_small —
    a persisted frame's RDD-backed stats would otherwise fall back to
    sort-merge at this scale, while a hard hint would OOM the build
    side at corpus scale where distinct users outgrow a broadcast).
    """
    (events,) = tables(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp").cast("double")
    ev = events.select("user_id", "event_type", ts.alias("t"))
    t1 = persist_if_large(
        ev.filter(F.col("event_type") == WF_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("t").alias("t1")),
        sf_dir,
        "events",
    )
    win = WF_WINDOW_H * 3600.0
    t2 = (
        ev.filter(F.col("event_type") == WF_STEPS[1])
        .join(broadcast_if_small(t1, sf_dir, "events"), "user_id")
        .filter((F.col("t") >= F.col("t1")) & (F.col("t") <= F.col("t1") + win))
        .groupBy("user_id")
        # t1 is constant per user — carrying it through saves t3 a
        # redundant user-sized re-join on t1
        .agg(F.min("t").alias("t2"), F.min("t1").alias("t1"))
    )
    t2 = persist_if_large(t2, sf_dir, "events")
    t3 = (
        ev.filter(F.col("event_type") == WF_STEPS[2])
        .join(broadcast_if_small(t2, sf_dir, "events"), "user_id")
        .filter((F.col("t") >= F.col("t2")) & (F.col("t") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    all_users = ev.select("user_id").distinct()
    levels = (
        all_users.join(broadcast_if_small(t1, sf_dir, "events"), "user_id", "left")
        .join(
            broadcast_if_small(t2.select("user_id", "t2"), sf_dir, "events"),
            "user_id",
            "left",
        )
        .join(
            broadcast_if_small(t3.select("user_id", "t3"), sf_dir, "events"),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .alias("level"),
        )
    )
    return (
        levels.groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("level").cast("bigint").alias("level"), "n_users")
        .orderBy("level")
    )


EV_WINDOW_FUNNEL_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch(CAST(ts AS TIMESTAMP)) AS t FROM events
),
t1 AS (
  SELECT user_id, MIN(t) AS t1 FROM ev
  WHERE event_type = '{WF_STEPS[0]}' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, MIN(e.t) AS t2, MIN(t1.t1) AS t1
  FROM ev e JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = '{WF_STEPS[1]}'
    AND e.t >= t1.t1 AND e.t <= t1.t1 + {WF_WINDOW_H * 3600.0}
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, MIN(e.t) AS t3
  FROM ev e JOIN t2 ON t2.user_id = e.user_id
  WHERE e.event_type = '{WF_STEPS[2]}'
    AND e.t >= t2.t2 AND e.t <= t2.t1 + {WF_WINDOW_H * 3600.0}
  GROUP BY e.user_id
),
levels AS (
  SELECT u.user_id,
    CASE WHEN t3.t3 IS NOT NULL THEN 3
         WHEN t2.t2 IS NOT NULL THEN 2
         WHEN t1.t1 IS NOT NULL THEN 1
         ELSE 0 END AS level
  FROM (SELECT DISTINCT user_id FROM ev) u
  LEFT JOIN t1 ON t1.user_id = u.user_id
  LEFT JOIN t2 ON t2.user_id = u.user_id
  LEFT JOIN t3 ON t3.user_id = u.user_id
)
SELECT CAST(level AS BIGINT) AS level, CAST(COUNT(*) AS BIGINT) AS n_users
FROM levels GROUP BY level ORDER BY level
"""


# --------------------------------------------------------------------------
FE_HOLDOUT = 24  # backtest horizon: last 24 hourly points held out


def ev_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST: refit ev_holt_forecast's model per type on
    everything but the last FE_HOLDOUT hourly points, forecast the
    holdout, and score MAPE against the actuals — the eval loop that
    must accompany any forecaster before anyone trusts it.

    Scale shape: identical to ev_holt_forecast (applyInPandas over the
    ALREADY-AGGREGATED series; train/forecast/score all inside the
    per-type kernel — no second pass over raw events). Holdout indexing
    is positional on the hourly grid, so the recursive-CTE oracle
    replays the identical IEEE sequence (inputs rounded 6 first).
    """
    import numpy as np
    import pandas as pd

    (events,) = tables(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias("t"),
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    a, bb, hold = HOLT_ALPHA, HOLT_BETA, FE_HOLDOUT

    def backtest(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("t").reset_index(drop=True)
        y = pdf["v"].to_numpy(dtype=np.float64)
        n = len(y)
        if n < hold + 2:  # need >=2 training points
            return pd.DataFrame(
                {
                    "event_type": pd.Series(dtype=object),
                    "n_eval": pd.Series(dtype=np.int64),
                    "mape": pd.Series(dtype=np.float64),
                }
            )
        tr_y = y[: n - hold]
        lvl, tr = tr_y[0], tr_y[1] - tr_y[0]
        for i in range(1, len(tr_y)):
            nl = a * tr_y[i] + (1 - a) * (lvl + tr)
            tr = bb * (nl - lvl) + (1 - bb) * tr
            lvl = nl
        err, cnt = 0.0, 0
        for k in range(1, hold + 1):  # strict left-to-right accumulation
            actual = y[n - hold + k - 1]
            if actual == 0.0:
                continue  # APE undefined at 0 — oracle filters v <> 0 too
            err += abs((lvl + k * tr - actual) / actual)
            cnt += 1
        if cnt == 0:  # all-zero holdout: omit, matching the oracle's GROUP BY
            return pd.DataFrame(
                {
                    "event_type": pd.Series(dtype=object),
                    "n_eval": pd.Series(dtype=np.int64),
                    "mape": pd.Series(dtype=np.float64),
                }
            )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_eval": np.array([cnt], dtype=np.int64),
                "mape": [round(err / cnt, 6)],
            }
        )

    return (
        hourly.groupBy("event_type")
        .applyInPandas(backtest, "event_type string, n_eval bigint, mape double")
        .orderBy("event_type")
    )


def _forecast_eval_oracle() -> str:
    return f"""
WITH RECURSIVE
hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS t,
         round(AVG(value), 6) AS v
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY t) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
train AS (
  SELECT event_type, v, idx, n - {FE_HOLDOUT} AS n_train
  FROM base WHERE idx < n - {FE_HOLDOUT} AND n >= {FE_HOLDOUT} + 2
),
hw AS (
  SELECT b0.event_type, 0 AS idx, b0.v AS l, b1.v - b0.v AS b, b0.n_train
  FROM train b0 JOIN train b1
    ON b1.event_type = b0.event_type AND b1.idx = 1
  WHERE b0.idx = 0
  UNION ALL
  SELECT s.event_type, s.idx,
         {HOLT_ALPHA} * s.v + {1 - HOLT_ALPHA} * (hw.l + hw.b),
         {HOLT_BETA} * ({HOLT_ALPHA} * s.v + {1 - HOLT_ALPHA} * (hw.l + hw.b)
                        - hw.l) + {1 - HOLT_BETA} * hw.b,
         hw.n_train
  FROM hw JOIN train s
    ON s.event_type = hw.event_type AND s.idx = hw.idx + 1
),
final AS (
  SELECT event_type, l, b, n_train FROM hw WHERE idx = n_train - 1
),
scored AS (
  SELECT f.event_type,
         abs((f.l + g.h * f.b - a.v) / a.v) AS ape,
         g.h
  FROM final f
  CROSS JOIN (SELECT unnest(range(1, {FE_HOLDOUT + 1})) AS h) g
  JOIN base a ON a.event_type = f.event_type
             AND a.idx = f.n_train + g.h - 1
  WHERE a.v <> 0
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
       round(SUM(ape ORDER BY h) / COUNT(*), 6) AS mape
FROM scored GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
def ev_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by SWEEP LINE: each session
    (30-min-gap, as ev_sessionize) emits +1 at its start and −1 one
    second after its end; the running sum over the merged boundary
    stream is the instantaneous concurrency, maxed per day — the
    'how many users at once' question interval self-joins answer
    quadratically.

    Scale shape: session intervals are the standard per-user lag
    window (shared `sessionized`); boundaries pre-aggregate per
    timestamp (kills ordering ties AND bounds the stream at
    distinct-seconds); a zero-delta SENTINEL at every midnight in the
    corpus range samples the running level at day START, so a day
    whose peak is concurrency carried over midnight (no boundary of
    its own) still reports it; the global running sum is
    operators/rank.cumsum_by_range — INTEGER deltas, so the
    distributed partial sums replay the serial oracle exactly. No
    interval self-join at any scale.

    r9-opt: `intervals` (session-count-sized, downstream of the
    per-user sessionize window over the corpus) is referenced by the
    boundary stream and the day grid; both ±1 boundaries now come from
    ONE explode instead of a two-branch union (2 references → 1 for
    the boundary side), and above the persist_if_large gate the frame
    is lazily persisted so the sessionize pass runs once.
    """
    from ..operators.rank import cumsum_by_range

    (events,) = tables(spark, sf_dir, "events")
    sess = sessionized(events)
    intervals = persist_if_large(
        sess.groupBy("user_id", "sess_id").agg(
            F.unix_timestamp(F.min("ts").cast("timestamp")).alias("t_start"),
            (F.unix_timestamp(F.max("ts").cast("timestamp")) + 1).alias("t_end"),
        ),
        sf_dir,
        "events",
    )
    boundaries = intervals.select(
        F.explode(
            F.array(
                F.struct(F.col("t_start").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("t_end").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("b")
    ).select("b.t", "b.d")
    day_grid = (
        intervals.agg(F.min("t_start").alias("t0"), F.max("t_end").alias("t1"))
        .select(
            F.explode(
                F.sequence(
                    F.to_date(F.timestamp_seconds("t0")),
                    F.to_date(F.timestamp_seconds("t1")),
                )
            ).alias("d0")
        )
        .select(
            F.unix_timestamp(F.col("d0").cast("timestamp")).alias("t"),
            F.lit(0).alias("d"),
        )
    )
    deltas = (
        boundaries.unionByName(day_grid).groupBy("t").agg(F.sum("d").alias("delta"))
    )
    running = cumsum_by_range(deltas, ["t"], "delta", out="conc")
    return (
        running.groupBy(
            F.to_date(F.timestamp_seconds(F.col("t"))).cast("string").alias("day")
        )
        .agg(F.max("conc").cast("bigint").alias("peak_concurrent"))
        .orderBy("day")
    )


EV_CONCURRENCY_SQL = f"""
WITH {_sess_sql_cte()},
intervals AS (
  SELECT user_id, sess_id,
    CAST(floor(epoch(MIN(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS t_start,
    CAST(floor(epoch(MAX(CAST(ts AS TIMESTAMP)))) AS BIGINT) + 1 AS t_end
  FROM sess GROUP BY user_id, sess_id
),
day_grid AS (
  SELECT CAST(floor(epoch(CAST(d0 AS TIMESTAMP))) AS BIGINT) AS t, 0 AS d
  FROM (
    SELECT unnest(generate_series(
      CAST(make_timestamp((SELECT MIN(t_start) FROM intervals) * 1000000) AS DATE),
      CAST(make_timestamp((SELECT MAX(t_end) FROM intervals) * 1000000) AS DATE),
      INTERVAL 1 DAY)) AS d0
  )
),
deltas AS (
  SELECT t, SUM(d) AS delta FROM (
    SELECT t_start AS t, 1 AS d FROM intervals
    UNION ALL
    SELECT t_end, -1 FROM intervals
    UNION ALL
    SELECT t, d FROM day_grid
  ) GROUP BY t
),
running AS (
  SELECT t, SUM(delta) OVER (ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM deltas
)
SELECT CAST(CAST(make_timestamp(t * 1000000) AS DATE) AS VARCHAR) AS day,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrent
FROM running GROUP BY 1 ORDER BY day
"""


# --------------------------------------------------------------------------
def ev_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU + stickiness (DAU/MAU) per active day — the
    engagement dashboard's backbone. Trailing windows (7 d / 30 d) are
    DISTINCT-user counts, which cannot partial-aggregate over a sliding
    frame; the distributed shape is map-side EXPANSION: each distinct
    (user, day) pair emits its ≤30 anchor days, then ONE shuffle per
    metric counts distinct users per anchor — cost is pairs×30 map-side
    rows (pairs = users×active-days, already dedup'd), never a range
    join or a per-day scan.

    `pairs` is referenced five times (dau, the two trailing
    expansions, active_days) and Catalyst does not de-duplicate
    subtrees — so on a large corpus the events scan + distinct would
    re-run five times. Above the persist_if_large gate the frame
    (users×active-days — orders of magnitude smaller than events) is
    lazily persisted and computed once; below it the duplicated
    subtrees run parallel and are cheaper than a materialization
    barrier (measured r9-opt). The trailing joins and the final
    dau⋈wau⋈mau joins get explicit broadcast hints: those sides are
    day-count-sized (calendar-bounded, tiny at any corpus size), and
    a persisted frame's RDD-backed size stats would otherwise push
    the planner to sort-merge.
    """
    (events,) = tables(spark, sf_dir, "events")
    pairs = persist_if_large(
        events.select(
            "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day")
        ).distinct(),
        sf_dir,
        "events",
    )
    active_days = pairs.select("day").distinct()

    def trailing(n_days: int, name: str) -> DataFrame:
        expanded = pairs.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), n_days - 1))
            ).alias("anchor"),
        )
        return (
            expanded.join(
                F.broadcast(active_days.withColumnRenamed("day", "anchor")), "anchor"
            )
            .groupBy("anchor")
            .agg(F.countDistinct("user_id").alias(name))
        )

    dau = pairs.groupBy(F.col("day").alias("anchor")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    out = (
        dau.join(F.broadcast(trailing(7, "wau")), "anchor")
        .join(F.broadcast(trailing(30, "mau")), "anchor")
        .select(
            F.col("anchor").cast("string").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )
    return out


EV_DAU_WAU_MAU_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM pairs)
SELECT CAST(d.day AS VARCHAR) AS day,
  CAST((SELECT COUNT(DISTINCT p.user_id) FROM pairs p
        WHERE p.day = d.day) AS BIGINT) AS dau,
  CAST((SELECT COUNT(DISTINCT p.user_id) FROM pairs p
        WHERE p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day) AS BIGINT) AS wau,
  CAST((SELECT COUNT(DISTINCT p.user_id) FROM pairs p
        WHERE p.day BETWEEN d.day - INTERVAL 29 DAY AND d.day) AS BIGINT) AS mau,
  round((SELECT COUNT(DISTINCT p.user_id) FROM pairs p WHERE p.day = d.day)
        / CAST((SELECT COUNT(DISTINCT p.user_id) FROM pairs p
                WHERE p.day BETWEEN d.day - INTERVAL 29 DAY AND d.day) AS DOUBLE),
        6) AS stickiness
FROM days d
ORDER BY day
"""


# --------------------------------------------------------------------------
def ev_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: for each user's
    consecutive same-type events, the gap in seconds; reported per type
    as gap count, mean, median, and p90 — the load-model / burstiness
    profile capacity planning reads off an event stream.

    Scale shape: the lag runs in a window PARTITIONED by (user, type)
    — one shuffle on the natural key, every partition independent; the
    per-type percentile is a second small aggregate over |types| groups
    (exact percentile is fine because the reduce is per-type; at
    open-ended cardinality swap in approx_percentile, same plan).
    """
    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        events.select(
            "event_type",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_s"), 4).alias("mean_gap_s"),
            F.round(F.expr("percentile(gap_s, 0.5)"), 4).alias("median_gap_s"),
            F.round(F.expr("percentile(gap_s, 0.9)"), 4).alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


EV_INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT event_type,
    date_diff('second',
              LAG(ts) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id),
              ts) AS gap_s
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
  round(AVG(gap_s), 4) AS mean_gap_s,
  round(CAST(quantile_cont(gap_s, 0.5) AS DOUBLE), 4) AS median_gap_s,
  round(CAST(quantile_cont(gap_s, 0.9) AS DOUBLE), 4) AS p90_gap_s
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ev_interarrival": ev_interarrival,
    "ev_dau_wau_mau": ev_dau_wau_mau,
    "ev_concurrency": ev_concurrency,
    "ev_forecast_eval": ev_forecast_eval,
    "ev_window_funnel": ev_window_funnel,
    "ev_time_to_convert": ev_time_to_convert,
    "ev_stl": ev_stl,
    "ev_pattern_match": ev_pattern_match,
    "ev_survival": ev_survival,
    "ev_ewma": ev_ewma,
    "ev_streaks": ev_streaks,
    "ev_cohort_ltv": ev_cohort_ltv,
    "ev_seasonality": ev_seasonality,
    "ev_anomaly": ev_anomaly,
    "ev_path_transitions": ev_path_transitions,
    "ev_gapfill": ev_gapfill,
    "ev_lttb_downsample": ev_lttb_downsample,
    "ev_holt_forecast": ev_holt_forecast,
    "ev_changepoint": ev_changepoint,
    "ev_ab_test": ev_ab_test,
    "ev_rfm": ev_rfm,
    "ev_tumbling": ev_tumbling,
    "ev_sliding": ev_sliding,
    "ev_sessionize": ev_sessionize,
    "ev_funnel": ev_funnel,
    "ev_retention": ev_retention,
    "ev_topk_users": ev_topk_users,
    "ev_multi_rollup": ev_multi_rollup,
    "ev_attribution": ev_attribution,
}

ORACLE: dict[str, str] = {
    "ev_interarrival": EV_INTERARRIVAL_SQL,
    "ev_dau_wau_mau": EV_DAU_WAU_MAU_SQL,
    "ev_concurrency": EV_CONCURRENCY_SQL,
    "ev_forecast_eval": _forecast_eval_oracle(),
    "ev_window_funnel": EV_WINDOW_FUNNEL_SQL,
    "ev_time_to_convert": EV_TIME_TO_CONVERT_SQL,
    "ev_stl": EV_STL_SQL,
    "ev_pattern_match": _pattern_oracle(),
    "ev_survival": EV_SURVIVAL_SQL,
    "ev_ewma": EV_EWMA_SQL,
    "ev_streaks": EV_STREAKS_SQL,
    "ev_cohort_ltv": EV_COHORT_LTV_SQL,
    "ev_seasonality": EV_SEASONALITY_SQL,
    "ev_anomaly": EV_ANOMALY_SQL,
    "ev_path_transitions": EV_PATH_TRANSITIONS_SQL,
    "ev_gapfill": EV_GAPFILL_SQL,
    "ev_lttb_downsample": EV_LTTB_DOWNSAMPLE_SQL,
    "ev_holt_forecast": EV_HOLT_FORECAST_SQL,
    "ev_changepoint": EV_CHANGEPOINT_SQL,
    "ev_ab_test": EV_AB_TEST_SQL,
    "ev_rfm": EV_RFM_SQL,
    "ev_tumbling": EV_TUMBLING_SQL,
    "ev_sliding": EV_SLIDING_SQL,
    "ev_sessionize": EV_SESSIONIZE_SQL,
    "ev_funnel": EV_FUNNEL_SQL,
    "ev_retention": EV_RETENTION_SQL,
    "ev_topk_users": EV_TOPK_USERS_SQL,
    "ev_multi_rollup": EV_MULTI_ROLLUP_SQL,
    "ev_attribution": EV_ATTRIBUTION_SQL,
}
