"""Registry entries for the reference's full model pipeline.

Every dbt model (``/root/reference/dbt_pipeline_demo/models/*``) and
every dashboard analytic query (``portfolio_app/app.py:81-439``) is
registered as an oracle-checked query. The Spark side builds the lazy
model chain from the synthetic raw fixtures
(:mod:`..sources.synthetic`); the DuckDB oracle replays the *same*
chain — load gate → keyed upsert → staging SQL → marts SQL — as one CTE
prelude over the identical parquet files, so the comparison covers the
entire reference dataflow end-to-end, not just the last operator.

Output normalization (both sides identically): DECIMAL → DOUBLE, DATE →
ISO string, ``fetched_at`` dropped (ingest metadata). The Spark side
applies it as one schema-driven rule (:func:`_canon`) to the model or
to the :data:`..runner.DASHBOARD` frame; rounded floats use the
duck_round/ROUND twins (see :mod:`..functions.rounding`).

The ``sf_dir`` argument is ignored: these queries exercise the
reference's Kroger-shaped raw layer, whose edge cases (FIXTURES.md) the
TPC-H-ish tables don't contain. Fixture generation is deterministic
(seeded) and idempotent; files live in ``fixtures/`` at the repo root.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, DecimalType, StructField

from ..functions.rounding import duck_round
from ..registry import register
from ..sources.synthetic import write_raw_tables
from .runner import DASHBOARD, build_models, load_raw

_FIXTURE_DIR = str(Path(__file__).resolve().parents[2] / "fixtures")


def ensure_fixtures() -> str:
    """Write the synthetic raw tables once; same seed → same bytes."""
    if not os.path.exists(os.path.join(_FIXTURE_DIR, "raw_product_prices.parquet")):
        write_raw_tables(_FIXTURE_DIR)
    return _FIXTURE_DIR


ensure_fixtures()  # oracle SQL below reads these paths


def _models(spark: SparkSession) -> dict[str, DataFrame]:
    return build_models(load_raw(spark, _FIXTURE_DIR))


def _canon(df: DataFrame) -> DataFrame:
    """Output normalization by ``df``'s schema: DECIMAL → DOUBLE, DATE →
    ``yyyy-MM-dd`` string, ``fetched_at`` dropped, column order kept."""

    def out(field: StructField) -> Column:
        c = F.col(field.name)
        if isinstance(field.dataType, DecimalType):
            c = c.cast("double")
        elif isinstance(field.dataType, DateType):
            c = F.date_format(c, "yyyy-MM-dd")
        return c.alias(field.name)

    return df.select([out(f) for f in df.schema.fields if f.name != "fetched_at"])


def _model(spark: SparkSession, name: str) -> DataFrame:
    return _canon(_models(spark)[name])


def _frame(spark: SparkSession, name: str) -> DataFrame:
    return _canon(DASHBOARD[name](_models(spark)))


# --- DuckDB oracle prelude: the full reference dataflow as CTEs -------------
# Mirrors runner._load (null gate S8 + last-writer-wins upsert S5/S6,
# main_pipeline.py:326-435) then the nine dbt models verbatim
# (models/staging/*.sql, models/marts/*.sql). fetched_at is unique within
# every upsert key group in the fixtures, so the window order is total.
_PRELUDE = f"""
WITH
loc_u AS (
  SELECT * EXCLUDE (__rn) FROM (
    SELECT *, row_number() OVER (
      PARTITION BY location_id ORDER BY fetched_at DESC) AS __rn
    FROM '{_FIXTURE_DIR}/raw_locations.parquet' WHERE location_id IS NOT NULL
  ) WHERE __rn = 1
),
prod_u AS (
  SELECT * EXCLUDE (__rn) FROM (
    SELECT *, row_number() OVER (
      PARTITION BY product_id ORDER BY fetched_at DESC) AS __rn
    FROM '{_FIXTURE_DIR}/raw_products.parquet' WHERE product_id IS NOT NULL
  ) WHERE __rn = 1
),
px_u AS (
  SELECT * EXCLUDE (__rn) FROM (
    SELECT *, row_number() OVER (
      PARTITION BY product_id, location_id, item_id
      ORDER BY fetched_at DESC) AS __rn
    FROM '{_FIXTURE_DIR}/raw_product_prices.parquet'
    WHERE regular_price IS NOT NULL
  ) WHERE __rn = 1
),
stg_locations AS (
  SELECT location_id, name, chain, address_line1, city, state, zip_code,
         latitude, longitude, fetched_at
  FROM loc_u
  WHERE location_id IS NOT NULL AND latitude IS NOT NULL
),
stg_products AS (
  SELECT product_id, description, brand,
         json_extract_string(categories, '$[0]') AS primary_category,
         categories, fetched_at
  FROM prod_u
  WHERE product_id IS NOT NULL
),
stg_prices AS (
  SELECT product_id, location_id, item_id, size, regular_price, promo_price,
         regular_price - COALESCE(promo_price, regular_price) AS discount_amount,
         CASE WHEN promo_price IS NOT NULL AND promo_price < regular_price
              THEN ROUND((CAST(regular_price AS DOUBLE)
                          - CAST(promo_price AS DOUBLE))
                         / CAST(regular_price AS DOUBLE) * 100, 2)
              ELSE CAST(0 AS DOUBLE) END AS discount_pct,
         TRY_CAST(effective_date AS DATE) AS effective_date,
         TRY_CAST(expiration_date AS DATE) AS expiration_date,
         fulfillment_instore, fulfillment_delivery, fulfillment_curbside,
         fulfillment_shiptohome, stock_level, fetched_at
  FROM px_u
  WHERE regular_price > 0
),
dim_locations AS (
  SELECT location_id, name, chain, city, state, zip_code, latitude, longitude
  FROM stg_locations
),
dim_products AS (
  SELECT DISTINCT product_id, description, brand,
         primary_category AS category, categories
  FROM stg_products
),
fact_prices AS (
  SELECT sp.product_id, sp.location_id, sp.item_id,
         dp.description, dp.brand, dp.category,
         dl.city, dl.state, dl.latitude, dl.longitude,
         sp.regular_price, sp.promo_price, sp.discount_amount,
         sp.discount_pct, sp.effective_date,
         sp.fulfillment_instore, sp.fulfillment_delivery,
         sp.fulfillment_curbside, sp.fulfillment_shiptohome, sp.stock_level
  FROM stg_prices sp
  LEFT JOIN dim_products dp ON sp.product_id = dp.product_id
  LEFT JOIN dim_locations dl ON sp.location_id = dl.location_id
),
mart_category_distribution AS (
  SELECT category,
         COUNT(DISTINCT product_id) AS product_count,
         ROUND(CAST(SUM(regular_price) AS DOUBLE) / COUNT(regular_price), 2)
           AS avg_regular_price,
         ROUND(CAST(SUM(promo_price) AS DOUBLE) / COUNT(promo_price), 2)
           AS avg_promo_price
  FROM fact_prices
  WHERE category IS NOT NULL
  GROUP BY category
),
loc_fulfillment AS (
  SELECT location_id,
         COUNT(DISTINCT CASE WHEN fulfillment_instore OR fulfillment_curbside
                             THEN product_id END) AS physical_count,
         COUNT(DISTINCT CASE WHEN fulfillment_delivery OR fulfillment_shiptohome
                             THEN product_id END) AS online_count,
         COUNT(DISTINCT product_id) AS total_products,
         ROUND(CAST(SUM(regular_price) AS DOUBLE) / COUNT(regular_price), 2)
           AS avg_price
  FROM fact_prices
  GROUP BY location_id
),
mart_location_sales AS (
  SELECT dl.location_id, dl.name, dl.city, dl.state, dl.zip_code,
         dl.latitude, dl.longitude,
         lf.physical_count, lf.online_count, lf.total_products, lf.avg_price
  FROM dim_locations dl
  JOIN loc_fulfillment lf ON dl.location_id = lf.location_id
),
mart_price_by_category AS (
  SELECT category, effective_date,
         ROUND(CAST(SUM(regular_price) AS DOUBLE) / COUNT(regular_price), 2)
           AS avg_regular_price,
         ROUND(CAST(SUM(COALESCE(promo_price, regular_price)) AS DOUBLE)
               / COUNT(COALESCE(promo_price, regular_price)), 2)
           AS avg_promo_price,
         ROUND(CAST(SUM(CAST(discount_pct AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(discount_pct), 2) AS avg_discount_pct,
         COUNT(DISTINCT product_id) AS product_count,
         MIN(regular_price) AS min_price,
         MAX(regular_price) AS max_price,
         PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY regular_price)
           AS q1_price,
         PERCENTILE_CONT(0.50) WITHIN GROUP (ORDER BY regular_price)
           AS median_price,
         PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY regular_price)
           AS q3_price
  FROM fact_prices
  WHERE category IS NOT NULL AND regular_price > 0
  GROUP BY category, effective_date
)
"""


# --- model-layer queries ----------------------------------------------------


@register(
    "m01_stg_locations",
    oracle=_PRELUDE
    + """
    SELECT location_id, name, chain, address_line1, city, state, zip_code,
           latitude, longitude
    FROM stg_locations
    """,
)
def m01_stg_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 + S5/S9: staging projection & not-null gate after keyed load
    (``models/staging/stg_locations.sql``)."""
    return _model(spark, "stg_locations")


@register(
    "m02_stg_products",
    oracle=_PRELUDE
    + """
    SELECT product_id, description, brand, primary_category, categories
    FROM stg_products
    """,
)
def m02_stg_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8: JSON ``$[0]`` extraction + key gate
    (``models/staging/stg_products.sql``)."""
    return _model(spark, "stg_products")


@register(
    "m03_stg_prices",
    oracle=_PRELUDE
    + """
    SELECT product_id, location_id, item_id, size,
           CAST(regular_price AS DOUBLE) AS regular_price,
           CAST(promo_price AS DOUBLE) AS promo_price,
           CAST(discount_amount AS DOUBLE) AS discount_amount,
           discount_pct,
           strftime(effective_date, '%Y-%m-%d') AS effective_date,
           strftime(expiration_date, '%Y-%m-%d') AS expiration_date,
           fulfillment_instore, fulfillment_delivery, fulfillment_curbside,
           fulfillment_shiptohome, stock_level
    FROM stg_prices
    """,
)
def m03_stg_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3-P6: derived discount columns, TRY_CAST dates, positive-price
    gate (``models/staging/stg_prices.sql``)."""
    return _model(spark, "stg_prices")


@register(
    "m04_dim_locations",
    oracle=_PRELUDE + "SELECT * FROM dim_locations",
)
def m04_dim_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: column-drop projection (``models/marts/dim_locations.sql``)."""
    return _model(spark, "dim_locations")


@register(
    "m05_dim_products",
    oracle=_PRELUDE + "SELECT * FROM dim_products",
)
def m05_dim_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/P9: DISTINCT + rename (``models/marts/dim_products.sql``)."""
    return _model(spark, "dim_products")


@register(
    "m06_fact_prices",
    oracle=_PRELUDE
    + """
    SELECT product_id, location_id, item_id, description, brand, category,
           city, state, latitude, longitude,
           CAST(regular_price AS DOUBLE) AS regular_price,
           CAST(promo_price AS DOUBLE) AS promo_price,
           CAST(discount_amount AS DOUBLE) AS discount_amount,
           discount_pct,
           strftime(effective_date, '%Y-%m-%d') AS effective_date,
           fulfillment_instore, fulfillment_delivery, fulfillment_curbside,
           fulfillment_shiptohome, stock_level
    FROM fact_prices
    """,
)
def m06_fact_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: stg_prices ⟕ dim_products ⟕ dim_locations, broadcast dims
    (``models/marts/fact_prices.sql``)."""
    return _model(spark, "fact_prices")


@register(
    "m07_mart_category_distribution",
    oracle=_PRELUDE + "SELECT * FROM mart_category_distribution",
)
def m07_mart_category_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-category COUNT DISTINCT + rounded AVGs
    (``models/marts/mart_category_distribution.sql``)."""
    return _model(spark, "mart_category_distribution")


@register(
    "m08_mart_location_sales",
    oracle=_PRELUDE + "SELECT * FROM mart_location_sales",
)
def m08_mart_location_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/J2: conditional distinct counts joined back to the dim
    (``models/marts/mart_location_sales.sql``)."""
    return _model(spark, "mart_location_sales")


@register(
    "m09_mart_price_by_category",
    oracle=_PRELUDE
    + """
    SELECT category, strftime(effective_date, '%Y-%m-%d') AS effective_date,
           avg_regular_price, avg_promo_price, avg_discount_pct,
           product_count,
           CAST(min_price AS DOUBLE) AS min_price,
           CAST(max_price AS DOUBLE) AS max_price,
           CAST(q1_price AS DOUBLE) AS q1_price,
           CAST(median_price AS DOUBLE) AS median_price,
           CAST(q3_price AS DOUBLE) AS q3_price
    FROM mart_price_by_category
    """,
)
def m09_mart_price_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: five-number summary with exact DuckDB-typed percentiles
    (``models/marts/mart_price_by_category.sql``; SURVEY §2.9)."""
    return _model(spark, "mart_price_by_category")


# --- dashboard queries ------------------------------------------------------


@register(
    "d01_price_distribution_q1",
    oracle=_PRELUDE
    + """
    SELECT category, CAST(regular_price AS DOUBLE) AS regular_price
    FROM fact_prices
    WHERE regular_price > 0 AND category IS NOT NULL
      AND effective_date BETWEEN DATE '2026-01-01' AND DATE '2026-03-31'
    """,
)
def d01_price_distribution_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: Q1-2026 date-window box-plot feed (``app.py:84-102``)."""
    return _frame(spark, "price_distribution_q1")


@register(
    "d02_effective_date_range",
    oracle=_PRELUDE
    + """
    SELECT strftime(MIN(effective_date), '%Y-%m-%d') AS min_date,
           strftime(MAX(effective_date), '%Y-%m-%d') AS max_date
    FROM fact_prices
    """,
)
def d02_effective_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: global MIN/MAX effective_date (``app.py:103-106``)."""
    return _frame(spark, "effective_date_range")


@register(
    "d03_category_median_price_order",
    oracle=_PRELUDE
    + """
    SELECT category,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (
             ORDER BY CAST(regular_price AS DOUBLE)), 3) AS median_price
    FROM fact_prices
    WHERE regular_price > 0 AND category IS NOT NULL
    GROUP BY category
    """,
)
def d03_category_median_price_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: per-category exact median ordering (``app.py:119-124``).

    Medians of 2-decimal prices carry ≤3 decimals; both sides round
    there so interpolation ulp noise can't flip the comparison.
    """
    df = _frame(spark, "category_median_price_order")
    return df.select("category", duck_round("median_price", 3).alias("median_price"))


@register(
    "d04_state_price_summary",
    oracle=_PRELUDE
    + """
    SELECT state,
           ROUND(CAST(SUM(CAST(avg_price AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(avg_price), 2) AS state_avg_price,
           CAST(SUM(total_products) AS BIGINT) AS state_total_products
    FROM mart_location_sales
    WHERE state IS NOT NULL
    GROUP BY state
    """,
)
def d04_state_price_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: mart re-aggregation — avg of per-location avgs
    (``app.py:149-156``)."""
    return _frame(spark, "state_price_summary")


@register(
    "d05_location_map",
    oracle=_PRELUDE
    + """
    SELECT m.location_id, m.name, m.city, m.state,
           COALESCE(dl.zip_code, 'N/A') AS zip_code,
           m.latitude, m.longitude,
           m.physical_count, m.online_count, m.total_products, m.avg_price
    FROM mart_location_sales m
    LEFT JOIN dim_locations dl ON m.location_id = dl.location_id
    WHERE m.latitude IS NOT NULL AND m.longitude IS NOT NULL
    """,
)
def d05_location_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: zip recovery join + null-coalesce (``app.py:159-178``)."""
    return _frame(spark, "location_map")


@register(
    "d06_stock_status_mix",
    oracle=_PRELUDE
    + """
    SELECT category, stock_level, n,
           CASE stock_level WHEN 'HIGH' THEN 'In stock (high)'
                            WHEN 'LOW' THEN 'Low stock'
                            WHEN 'TEMPORARILY_OUT_OF_STOCK' THEN 'Out of stock'
                            ELSE stock_level END AS status,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY category) AS DOUBLE) * 100 AS pct
    FROM (
      SELECT category, stock_level, COUNT(*) AS n
      FROM fact_prices
      WHERE stock_level IS NOT NULL AND category IS NOT NULL
      GROUP BY category, stock_level
    )
    """,
)
def d06_stock_status_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A11: frequency count + share-of-category window
    (``app.py:265-285``)."""
    return _frame(spark, "stock_status_mix")


@register(
    "d07_discount_depth",
    oracle=_PRELUDE
    + """
    SELECT category,
           ROUND(CAST(SUM(CAST(discount_pct AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(discount_pct), 1) AS avg_discount_pct,
           ROUND(CAST(SUM(regular_price) AS DOUBLE)
                 / COUNT(regular_price), 2) AS avg_regular_price,
           COUNT(*) AS promo_items
    FROM fact_prices
    WHERE discount_pct > 0 AND category IS NOT NULL
    GROUP BY category
    HAVING COUNT(*) >= 5
    """,
)
def d07_discount_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: GROUP BY + HAVING COUNT(*) >= 5 (``app.py:335-345``)."""
    return _frame(spark, "discount_depth")


@register(
    "d08_category_value_map",
    oracle=_PRELUDE
    + """
    SELECT category,
           ROUND(CAST(SUM(regular_price) AS DOUBLE)
                 / COUNT(regular_price), 2) AS avg_regular_price,
           ROUND(CAST(SUM(CASE WHEN discount_pct > 0
                               THEN CAST(discount_pct AS DECIMAL(18,2))
                          END) AS DOUBLE)
                 / COUNT(CASE WHEN discount_pct > 0 THEN 1 END), 1)
             AS avg_discount_pct,
           COUNT(DISTINCT product_id) AS product_count,
           COUNT(CASE WHEN promo_price IS NOT NULL
                       AND promo_price < regular_price THEN 1 END)
             AS promo_items
    FROM fact_prices
    WHERE category IS NOT NULL AND regular_price > 0
    GROUP BY category
    HAVING COUNT(*) >= 5
    """,
)
def d08_category_value_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6: CASE→NULL filtered average + conditional counts
    (``app.py:383-396``)."""
    return _frame(spark, "category_value_map")


@register(
    "d09_value_map_medians",
    oracle=_PRELUDE
    + """
    SELECT ROUND(median(avg_discount_pct), 3) AS median_discount_pct,
           ROUND(median(avg_regular_price), 3) AS median_regular_price
    FROM (
      SELECT category,
             ROUND(CAST(SUM(regular_price) AS DOUBLE)
                   / COUNT(regular_price), 2) AS avg_regular_price,
             ROUND(CAST(SUM(CASE WHEN discount_pct > 0
                                 THEN CAST(discount_pct AS DECIMAL(18,2))
                            END) AS DOUBLE)
                   / COUNT(CASE WHEN discount_pct > 0 THEN 1 END), 1)
               AS avg_discount_pct
      FROM fact_prices
      WHERE category IS NOT NULL AND regular_price > 0
      GROUP BY category
      HAVING COUNT(*) >= 5
    )
    """,
)
def d09_value_map_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: global medians over the value map (``app.py:432-435``)."""
    df = _frame(spark, "value_map_medians")
    return df.select(
        duck_round("median_discount_pct", 3).alias("median_discount_pct"),
        duck_round("median_regular_price", 3).alias("median_regular_price"),
    )
