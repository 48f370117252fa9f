"""Temporal joins Spark lacks natively: as-of and bounded range joins.

Both are composed from shuffle-friendly primitives (SURVEY.md §7's
"composition of existing DataFrame ops" tier) rather than inequality
joins, which Spark would execute as a broadcast nested loop:

- **as-of**: union both sides, one window pass per key carries the
  latest right-side values forward — one shuffle on the key, O(n) work,
  no pair blow-up. DuckDB's native ``ASOF LEFT JOIN`` is the oracle.
- **range**: quantize time into window-width bins; each probe row looks
  at its bin and the next, turning the band predicate into an equi-join
  with a residual filter — the standard interval-join decomposition
  (used by every streaming interval join) that hash-partitions instead
  of cross-multiplying.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..functions.rounding import det_sum, duck_round, sql_det_sum
from ..registry import register

RANGE_WINDOW_US = 600_000_000  # 10 minutes


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """For every left row, the latest right row with ``ts <= left.ts``.

    Right must be unique per (by, ts) — pre-aggregate otherwise. The
    union trick: tag sides, sort (ts, right-first) within each key, and
    ``last(..., ignorenulls)`` carries right values forward; left rows
    then read the nearest preceding right row, ties (equal ts) included,
    matching ASOF ``>=`` semantics. One shuffle, no pair explosion.
    """
    l_tag = left.withColumn("__side", F.lit(0))
    for c in value_cols:
        l_tag = l_tag.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    r_tag = right.withColumn("__side", F.lit(1))
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    u = l_tag.unionByName(r_tag.select(*l_tag.columns))
    w = (
        Window.partitionBy(*by)
        .orderBy(F.asc(ts_col), F.desc("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry (ts, values) as ONE struct: the struct is non-null exactly at
    # right rows, so last(..., ignorenulls) lands on the MATCHED row and a
    # NULL value there stays NULL — carrying each value column separately
    # with last(c, ignorenulls) would read an older non-null value while
    # __asof_ts points at the matched row (DuckDB ASOF returns the matched
    # row's NULL). A NULL-ts right row matches nothing under `>=` and is
    # excluded from the carry, same as the oracle.
    carried = F.last(
        F.when(
            (F.col("__side") == 1) & F.col(ts_col).isNotNull(),
            F.struct(
                F.col(ts_col).alias("__ts"),
                *[F.col(c).alias(c) for c in value_cols],
            ),
        ),
        ignorenulls=True,
    ).over(w)
    out = u.withColumn("__c", carried).withColumn(
        "__asof_ts", F.col("__c.__ts")
    )
    for c in value_cols:
        out = out.withColumn(c, F.col(f"__c.{c}"))
    return out.filter(F.col("__side") == 0).drop("__side", "__c")


def range_join_candidates(
    probe: DataFrame,
    build: DataFrame,
    by: Sequence[str],
    probe_ts: str,
    build_ts: str,
    window_us: int,
) -> DataFrame:
    """Equi-join decomposition of ``build.ts ∈ [probe.ts, probe.ts+W]``.

    Build rows land in bin ``ts div W``; a probe row's matches can only
    sit in its own bin or the next, so the probe side explodes into two
    (key, bin) probes and the band predicate becomes a residual filter
    after a plain hash join. Fan-out is exactly 2× the probe side —
    independent of data volume — where a naive inequality join is a
    nested loop over every same-key pair.
    """
    b = build.withColumn("__bin", (F.col(build_ts) / window_us).cast("long"))
    p = probe.withColumn(
        "__bin",
        F.explode(
            F.array(
                (F.col(probe_ts) / window_us).cast("long"),
                (F.col(probe_ts) / window_us).cast("long") + 1,
            )
        ),
    )
    joined = p.join(b, [*by, "__bin"])
    residual = F.col(build_ts).between(
        F.col(probe_ts), F.col(probe_ts) + window_us
    )
    return joined.filter(residual).drop("__bin")


@register(
    "j05_asof_join",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             ROUND(MAX(value), 2) AS p_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
    )
    SELECT v.user_id, v.event_id, v.ts_us,
           p.ts_us AS p_ts_us, p.p_value
    FROM v ASOF LEFT JOIN p
      ON v.user_id = p.user_id AND v.ts_us >= p.ts_us
    """,
)
def j05_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each view event ↔ the user's latest prior purchase.

    DuckDB's native ASOF LEFT JOIN is the oracle; the Spark side is the
    union+window composition (see :func:`asof_join`).
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(duck_round(F.max("value"), 2).alias("p_value"))
    )
    out = asof_join(
        views, purchases, by=["user_id"], ts_col="ts_us", value_cols=["p_value"]
    )
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        F.col("__asof_ts").alias("p_ts_us"),
        "p_value",
    )


@register(
    "j06_range_join",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           c.ts_us - p.ts_us AS lag_us
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts_us BETWEEN p.ts_us AND p.ts_us + {RANGE_WINDOW_US}
    """,
)
def j06_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks within 10 minutes after each purchase.

    The oracle states the band predicate directly; the Spark side runs
    the bin-decomposed equi-join (:func:`range_join_candidates`) — same
    rows, hash-partitioned execution.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("p_ts_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("c_ts_us"),
    )
    out = range_join_candidates(
        purchases, clicks, by=["user_id"],
        probe_ts="p_ts_us", build_ts="c_ts_us", window_us=RANGE_WINDOW_US,
    )
    return out.select(
        "user_id",
        "purchase_id",
        "click_id",
        (F.col("c_ts_us") - F.col("p_ts_us")).alias("lag_us"),
    )


@register(
    "tp01_scd2_history",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      FROM events
    ), changes AS (
      SELECT user_id, ts, event_id, event_type
      FROM (
        SELECT *, lag(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM ev
      ) WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type AS state,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM changes
    """,
)
def tp01_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from a change stream.

    The reference carries price validity ranges
    (``effective_date``/``expiration_date``, ``main_pipeline.py:312-313``);
    this generalizes that pattern: collapse consecutive duplicate states
    per key (lag), then derive each version's validity interval (lead)
    and current flag — the standard slowly-changing-dimension build.
    Both window passes and the implicit dedup share ONE hash shuffle on
    user_id (identical partitioning and ordering), so at 100 TB the
    cost is a single exchange of the change stream, never a self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "ts", "event_id", "event_type")
    )
    nxt = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


@register(
    "dt02_calendar_dimension",
    oracle="""
    SELECT CAST(d AS VARCHAR) AS day,
           CAST(year(d) AS BIGINT) AS year,
           CAST(month(d) AS BIGINT) AS month,
           CAST(isodow(d) - 1 AS BIGINT) AS weekday,
           CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS is_weekend,
           CAST(strftime(d, '%Y-%m') AS VARCHAR) AS year_month
    FROM (SELECT CAST(unnest(generate_series(DATE '2024-01-01',
                                             DATE '2024-12-31',
                                             INTERVAL 1 DAY)) AS DATE) AS d)
    """,
)
def dt02_calendar_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation: one row per day, derived attributes.

    Built from ``spark.range`` + ``date_add`` — a Range scan is
    partitioned across executors with zero input and zero shuffle, so
    the same plan generates a century of days or a millisecond spine
    for an as-of join (j05) without a driver-side loop. Weekday uses
    ``F.weekday`` (0 = Monday), mirrored as ``isodow - 1`` in the
    oracle — the cross-engine-stable formulation (``dayofweek``'s week
    start differs between engines).
    """
    n_days = 366  # 2024 is a leap year
    start = F.lit("2024-01-01").cast("date")
    d = F.date_add(start, F.col("id").cast("int"))
    return spark.range(n_days).select(
        d.cast("string").alias("day"),
        F.year(d).cast("long").alias("year"),
        F.month(d).cast("long").alias("month"),
        F.weekday(d).cast("long").alias("weekday"),
        F.when(F.weekday(d) >= 5, F.lit(1)).otherwise(F.lit(0)).alias(
            "is_weekend"
        ),
        F.date_format(d, "yyyy-MM").alias("year_month"),
    )


@register(
    "tp02_resample_gapfill",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             {sql_det_sum("value")} AS day_value
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), bounds AS (
      SELECT event_type, MIN(CAST(ts AS DATE)) AS mn,
             MAX(CAST(ts AS DATE)) AS mx
      FROM events GROUP BY event_type
    ), spine AS (
      SELECT event_type,
             CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM bounds
    )
    SELECT s.event_type,
           CAST(s.day AS VARCHAR) AS day,
           d.day_value IS NOT NULL AS observed,
           last_value(d.day_value IGNORE NULLS)
             OVER (PARTITION BY s.event_type ORDER BY s.day) AS filled_value
    FROM spine s
    LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
    """,
)
def tp02_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a daily grid + forward-fill of gaps.

    The canonical prep step for ML feature windows and dashboards over
    irregular event streams: aggregate to the target grain, densify
    against a complete calendar spine, and carry the last observation
    forward across gaps.

    Scale shape: the heavy stage is the daily aggregation — one
    exchange on (type, day) with map-side partials; everything after
    runs on type x days rows (output-sized, independent of event
    volume). The spine is generated per key from its own [min, max]
    bounds via ``sequence`` + ``explode`` — no driver loop, no cross
    join of a global calendar against the key dimension. The
    forward-fill window partitions by type and orders by day; values
    are deterministic-rounded day sums, so the fill copies
    engine-identical numbers and the oracle matches exactly.

    Floor evidence: this query's legs in FLOOR_PROBE.json.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day"), "value"
    )
    daily = ev.groupBy("event_type", "day").agg(
        det_sum("value").alias("day_value")
    )
    spine = (
        ev.groupBy("event_type")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        # string day for cross-engine dtype stability (repo convention);
        # the window above still orders by the true DATE column
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("day_value").isNotNull().alias("observed"),
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "tp03_ohlc_bars",
    oracle=f"""
    WITH keyed AS (
      SELECT event_type,
             date_trunc('hour', ts) AS bar_hour,
             value,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
      FROM events
    )
    SELECT event_type,
           CAST(bar_hour AS VARCHAR) AS bar_hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_det_sum("value")} AS volume,
           arg_min(value, ord_key) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ord_key) AS close
    FROM keyed
    GROUP BY event_type, bar_hour
    """,
)
def tp03_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the telemetry/market rollup.

    open/high/low/close + volume per (type, hour): the standard
    downsampling that turns a raw event stream into chartable bars.
    First/last are ``min_by``/``max_by`` on a packed fixed-width
    (micros-rendered ts, event_id) string key — a PARTIAL-AGGREGABLE
    arg-min/arg-max, so the whole bar computes in one exchange with
    map-side combine and no per-key sort window (the naive
    row_number-rank formulation shuffles AND sorts every partition).
    The packed key makes first/last deterministic under same-timestamp
    ties on both engines; open/high/low/close carry raw stored doubles
    (no arithmetic — exact cross-engine equality), and volume is the
    order-independent decimal-accumulated ``det_sum``.

    Scale shape: identical to any group-agg — one exchange on
    (type, hour), state per group is five scalars; 100 TB of events
    roll up map-side before the shuffle moves anything.
    """
    ev = load_table(spark, sf_dir, "events")
    # fixed-width micros-precision render: identical strings on both
    # engines, lexicographic == chronological, timezone-free (ts is
    # TIMESTAMP_NTZ — unix_micros would need a session-tz cast)
    ord_key = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    keyed = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
        "value",
        ord_key.alias("ord_key"),
    )
    return keyed.groupBy("event_type", "bar_hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        det_sum("value").alias("volume"),
        F.min_by("value", "ord_key").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ord_key").alias("close"),
    ).select(
        "event_type",
        F.col("bar_hour").cast("string").alias("bar_hour"),
        "n_events",
        "volume",
        "open",
        "high",
        "low",
        "close",
    )
