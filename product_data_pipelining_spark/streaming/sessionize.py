"""Event sessionization + windowed stream aggregation.

Batch and streaming twins of the same semantics:

- Batch (oracle-checked): gap-based sessionization as a ranking window +
  running sum — one shuffle on user_id, reused by both windows and the
  final per-session aggregate.
- Streaming: ``readStream`` → watermark → ``F.session_window`` (native
  gap sessionization) / tumbling ``F.window`` — same results on closed
  windows. Tested by replaying the events parquet through a file stream
  into a memory sink (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load_table
from ..functions.rounding import duck_round
from ..registry import register

SESSION_GAP_SECONDS = 1800  # 30 min


@register(
    "ev02_sessionize",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events
    ),
    ordered AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_SECONDS} * 1000000
                  THEN 1 ELSE 0 END AS is_start
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM ordered
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def ev02_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity splits sessions).

    lag → gap flag → running sum = session id; one hash shuffle on
    user_id serves both window functions and the final groupBy (Catalyst
    reuses the partitioning). The streaming twin is
    :func:`streaming_sessionize`.

    Floor evidence: this query's legs in FLOOR_PROBE.json.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.lag("ts_us").over(w)
    is_start = F.when(
        lag_us.isNull()
        | (F.col("ts_us") - lag_us > SESSION_GAP_SECONDS * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.withColumn("is_start", is_start).withColumn(
        "session_seq", F.sum("is_start").over(run)
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        F.count("*").alias("n_events"),
        duck_round(F.sum("value"), 2).alias("total_value"),
    )


def streaming_sessionize(events_stream: DataFrame) -> DataFrame:
    """Streaming twin: native session windows with a watermark.

    ``F.session_window(ts, gap)`` merges events within the gap into one
    window; the 1-hour watermark bounds state for late data. Feed it any
    streaming DataFrame with (ts, user_id, value).
    """
    return (
        events_stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            duck_round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_windowed_counts(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of ev01_windowed_counts: tumbling 1-hour windows."""
    return (
        events_stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            duck_round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


ATTRIBUTION_WINDOW_SECONDS = 1800  # purchase attributed to a click ≤30 min prior


def streaming_attribution_join(
    clicks_stream: DataFrame, purchases_stream: DataFrame
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    click(s) by the same user within the preceding 30 minutes.

    The canonical Structured Streaming two-stream join: watermarks on
    BOTH sides plus a bounded time-range predicate let Spark expire
    per-key state — without the interval bound the join state would
    grow forever. State is keyed by user_id, so at production rates the
    store holds ≤ (watermark + window) of events per user, independent
    of total stream length. The batch twin (same predicate as a plain
    join) is the oracle in tests.
    """
    c = (
        clicks_stream.withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases_stream.withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts")
            + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_SECONDS} SECONDS")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def streaming_sliding_counts(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of ev04_sliding_windows: 2-hour windows every hour.

    Same watermark/emission rules as the tumbling twin; each event is
    replicated into size/slide = 2 open windows map-side, and state is
    bounded by (watermark + window size) per key.
    """
    return (
        events_stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            duck_round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_enrich_static(
    events_stream: DataFrame, customer: DataFrame
) -> DataFrame:
    """Stream-static enrichment: per-event dimension lookup, stateless.

    The static side is planned as a broadcast hash join against every
    micro-batch — no state store, no watermark, and the stream side
    never shuffles; at cluster scale the dimension broadcast is built
    once per batch from the (cacheable) static DataFrame. This is the
    streaming counterpart of the batch star-enrich join (j01): same
    result row-for-row, which the test asserts with no emission-horizon
    carve-outs because a stateless join emits everything it reads.
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("user_segment"),
    )
    return events_stream.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "user_name", "user_segment", "event_type", "value"
    )
