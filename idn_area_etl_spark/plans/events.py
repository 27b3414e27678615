"""Event-stream analytics (batch expressions of streaming shapes).

The reference's chunk loop is a bounded micro-batch stream
(SURVEY.md §2.9); these queries cover the streaming-shaped semantics —
tumbling windows, sessionization, first-seen state, JSON props — as
deterministic batch plans (the Structured Streaming variants live in
idn_area_etl_spark/streaming/).

``value`` sums use the fixed-point scaled-long form (see
``plans/tpch.py:fp_dsum`` for the full rationale): event values are
non-negative 2-dp money-typed doubles, so ``(v*1e6 + 0.5)::long``
round-half-up is exact, skips the per-row BigDecimal cast, and the
``decimal(38,0)`` accumulation is order-independent and
overflow-safe — value-identical to the DuckDB decimal oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

SESSION_GAP_SECONDS = 1800


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation by event type.

    Scale: map-side combine; key space = hours × types, tiny shuffle.
    Streaming twin: ``groupBy(window(ts, '1 hour'), event_type)`` with
    a watermark.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(((F.col("value") * 1_000_000) + F.lit(0.5)).cast("long").cast("decimal(38,0)")) / 1_000_000).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        # no final orderBy: a global sort is a pure presentation
        # artifact here (range exchange + sampling job); sinks that
        # need order sort at write time, and the oracle compare is
        # order-insensitive
    )


Q_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS total_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window
    functions: lag → new-session flag → running count → per-session agg.

    Scale: one shuffle on user_id; state bounded per user.  Streaming
    twin: ``session_window(ts, '30 minutes')``.
    """
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microseconds: whole-second unix_timestamp would merge a
    # 1800.05 s gap whose whole seconds differ by exactly 1800
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order_w))
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_SECONDS * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = ev.withColumn(
        "session_no",
        F.sum(new_session).over(
            order_w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.sum(((F.col("value") * 1_000_000) + F.lit(0.5)).cast("long").cast("decimal(38,0)")) / 1_000_000).cast("double").alias("session_value"),
        )
        # no final orderBy (see q_events_hourly note) — the global
        # sort doubled this query's wall-clock at sf0.1
    )


Q_EVENTS_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > {SESSION_GAP_SECONDS}
           OR LAG(ts) OVER w IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, event_id, ts, value,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
  COUNT(*) AS n_events,
  MIN(ts) AS session_start,
  MAX(ts) AS session_end,
  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS session_value
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""


def q_events_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per user — the batch expression of the reference's
    first-seen stateful dedup (A1, extractors.py:110-112,166-169)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
        .orderBy("user_id")
    )


Q_EVENTS_FIRST_SEEN_SQL = """
SELECT user_id, event_id, ts, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation (semi-structured surface)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("k_total"),
            F.max(k).alias("k_max"),
            F.count(F.when(k > 50, 1)).alias("n_big_k"),
        )
        .orderBy("event_type")
    )


Q_EVENTS_JSON_SQL = """
SELECT event_type,
  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_total,
  MAX(CAST(props->>'k' AS BIGINT)) AS k_max,
  COUNT(CASE WHEN CAST(props->>'k' AS BIGINT) > 50 THEN 1 END) AS n_big_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_events_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user cumulative value over time (analytic frame).

    Decimal accumulation keeps the running sum exact and
    order-independent of partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        (
            F.sum(
                ((F.col("value") * 1_000_000) + F.lit(0.5))
                .cast("long")
                .cast("decimal(38,0)")
            ).over(w)
            / 1_000_000
        )
        .cast("double")
        .alias("running_value"),
    )  # no final orderBy (see q_events_hourly note)


Q_EVENTS_RUNNING_SQL = """
SELECT user_id, event_id, ts,
  CAST(SUM(CAST(value AS DECIMAL(24,6)))
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
FROM events
ORDER BY user_id, ts, event_id
"""


SPECS = [
    QuerySpec("q_events_hourly", q_events_hourly, Q_EVENTS_HOURLY_SQL,
              headline=True, doc="tumbling 1h window agg", tags=("events",)),
    QuerySpec("q_events_sessionize", q_events_sessionize,
              Q_EVENTS_SESSIONIZE_SQL, headline=True,
              doc="30-min gap sessionization", tags=("events", "window")),
    QuerySpec("q_events_first_seen", q_events_first_seen,
              Q_EVENTS_FIRST_SEEN_SQL,
              doc="first-seen per key (A1 analog)", tags=("events",)),
    QuerySpec("q_events_json_props", q_events_json_props, Q_EVENTS_JSON_SQL,
              doc="JSON prop extraction + agg", tags=("events",)),
    QuerySpec("q_events_running_value", q_events_running_value,
              Q_EVENTS_RUNNING_SQL,
              doc="running cumulative analytic window", tags=("events", "window")),
]
