"""Dashboard analytic queries (reference serving layer).

The reference dashboard (``/root/reference/portfolio_app/app.py:81-439``)
runs seven SQL queries against the marts and post-processes some of them
in pandas (share-of-group, medians, label mapping). Here every step —
SQL and pandas alike — is a Spark expression, so the whole computation
stays distributed until the final collect at the plotting boundary
(``serving.py``; never inside these functions).

Each function takes the mart/fact DataFrames it reads and returns a
DataFrame; sorting is applied where the reference sorts, though the
driver's comparisons are order-insensitive. Which models feed which of
the nine dashboard frames is decided in one place,
:data:`.runner.DASHBOARD`; :func:`price_box` is chart 1's per-category
summary over those rows (:func:`.runner.price_chart`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import duck_round
from .marts import avg_dec

# chart 1's five-number summary: column name -> percentile
_BOX = {"min": 0.0, "q1": 0.25, "median": 0.5, "q3": 0.75, "max": 1.0}


def price_distribution(fact_prices: DataFrame, q1_2026_only: bool = True) -> DataFrame:
    """Chart 1 (box plot) input: (category, regular_price) rows.

    Reference: ``app.py:84-102`` (P10) — Q1-2026 date window + positive
    price + non-null category; the ``q1_2026_only=False`` form is the
    reference's empty-result fallback (``app.py:94-102``). Both filters
    push to the parquet scan.
    """
    df = fact_prices.filter(
        (F.col("regular_price") > 0) & F.col("category").isNotNull()
    )
    if q1_2026_only:
        df = df.filter(
            F.col("effective_date").between(
                F.lit("2026-01-01").cast("date"), F.lit("2026-03-31").cast("date")
            )
        )
    return df.select("category", "regular_price")


def price_box(price_rows: DataFrame) -> DataFrame:
    """Chart 1 (box plot): per-category five-number summary of
    :func:`price_distribution` rows, highest median first.

    Reference: ``app.py:107-124`` (plotly box over the raw rows) — here
    one exact ``percentile`` per category, so only the summary leaves
    Spark.
    """
    p = F.percentile(
        F.col("regular_price").cast("double"), F.lit(list(_BOX.values()))
    )
    return (
        price_rows.groupBy("category")
        .agg(p.alias("p"))
        .select("category", *[F.col("p")[i].alias(n) for i, n in enumerate(_BOX)])
        .orderBy(F.desc("median"))
    )


def effective_date_range(fact_prices: DataFrame) -> DataFrame:
    """Chart 1 fallback title range: global MIN/MAX effective_date (A8).

    Reference: ``app.py:103-106``.
    """
    return fact_prices.agg(
        F.min("effective_date").alias("min_date"),
        F.max("effective_date").alias("max_date"),
    )


def category_median_price_order(price_rows: DataFrame) -> DataFrame:
    """Chart 1 category ordering: median regular price per category (A12).

    Reference: ``app.py:119-124`` (pandas ``groupby().median()``) —
    expressed as an exact distributed median, descending.
    """
    return (
        price_rows.groupBy("category")
        .agg(
            F.percentile(F.col("regular_price").cast("double"), F.lit(0.5)).alias(
                "median_price"
            )
        )
        .orderBy(F.desc("median_price"))
    )


def state_price_summary(mart_location_sales: DataFrame) -> DataFrame:
    """Map chart choropleth: per-state avg price + product volume (A9).

    Reference: ``app.py:149-156`` — a re-aggregation of an already
    aggregated mart (avg of per-location avgs, not a weighted avg).
    """
    return (
        mart_location_sales.filter(F.col("state").isNotNull())
        .groupBy("state")
        .agg(
            duck_round(avg_dec(F.col("avg_price").cast("decimal(18,2)")), 2).alias(
                "state_avg_price"
            ),
            F.sum("total_products").alias("state_total_products"),
        )
    )


def location_map(
    mart_location_sales: DataFrame, dim_locations: DataFrame
) -> DataFrame:
    """Map chart scatter overlay: store locations with zip recovery (J3).

    Reference: ``app.py:159-169`` LEFT joins dim_locations to recover
    ``zip_code``, then pandas-fills nulls with ``"N/A"``
    (``app.py:177-178``) — here a single ``coalesce``. The dim is
    broadcast; the mart side never shuffles.
    """
    m = mart_location_sales.alias("m")
    dl = F.broadcast(dim_locations.alias("dl"))
    return (
        m.join(dl, F.col("m.location_id") == F.col("dl.location_id"), "left")
        .filter(F.col("m.latitude").isNotNull() & F.col("m.longitude").isNotNull())
        .select(
            F.col("m.location_id").alias("location_id"),
            F.col("m.name").alias("name"),
            F.col("m.city").alias("city"),
            F.col("m.state").alias("state"),
            F.coalesce(F.col("dl.zip_code"), F.lit("N/A")).alias("zip_code"),
            F.col("m.latitude").alias("latitude"),
            F.col("m.longitude").alias("longitude"),
            F.col("m.physical_count").alias("physical_count"),
            F.col("m.online_count").alias("online_count"),
            F.col("m.total_products").alias("total_products"),
            F.col("m.avg_price").alias("avg_price"),
        )
    )


_STOCK_LABELS = {
    "HIGH": "In stock (high)",
    "LOW": "Low stock",
    "TEMPORARILY_OUT_OF_STOCK": "Out of stock",
}


def stock_status_mix(fact_prices: DataFrame) -> DataFrame:
    """Chart 3: stock-status share per category (A7 + A11).

    Reference: ``app.py:265-285`` — SQL two-key frequency count, then
    pandas label mapping and share-of-category
    (``n / groupby(category).transform(sum) * 100``). The transform is
    a window sum partitioned by category — no second aggregation pass.
    """
    counts = (
        fact_prices.filter(
            F.col("stock_level").isNotNull() & F.col("category").isNotNull()
        )
        .groupBy("category", "stock_level")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    label = F.coalesce(
        *[
            F.when(F.col("stock_level") == k, F.lit(v))
            for k, v in _STOCK_LABELS.items()
        ],
        F.col("stock_level"),
    )
    w = Window.partitionBy("category")
    return counts.select(
        "category",
        "stock_level",
        "n",
        label.alias("status"),
        (F.col("n") / F.sum("n").over(w) * 100).alias("pct"),
    )


def discount_depth(fact_prices: DataFrame) -> DataFrame:
    """Chart 4: average promo discount per category, ≥5 promo items (A4).

    Reference: ``app.py:335-345`` — GROUP BY + HAVING COUNT(*) >= 5,
    ordered by discount depth. The HAVING is a post-aggregation filter
    on the same pass (no extra job).
    """
    return (
        fact_prices.filter(
            (F.col("discount_pct") > 0) & F.col("category").isNotNull()
        )
        .groupBy("category")
        .agg(
            duck_round(
                avg_dec(F.col("discount_pct").cast("decimal(18,2)")), 1
            ).alias("avg_discount_pct"),
            duck_round(avg_dec("regular_price"), 2).alias("avg_regular_price"),
            F.count(F.lit(1)).alias("promo_items"),
        )
        .filter(F.col("promo_items") >= 5)
        .orderBy(F.desc("avg_discount_pct"))
    )


def category_value_map(fact_prices: DataFrame) -> DataFrame:
    """Chart 5: category value map — base price vs discount depth (A5/A6).

    Reference: ``app.py:383-396`` — filtered average via CASE→NULL
    (``AVG`` ignores the NULL else-branch), conditional promo-item
    count, HAVING COUNT(*) >= 5.
    """
    dpct_if_promo = F.when(
        F.col("discount_pct") > 0, F.col("discount_pct")
    ).cast("decimal(18,2)")
    return (
        fact_prices.filter(
            F.col("category").isNotNull() & (F.col("regular_price") > 0)
        )
        .groupBy("category")
        .agg(
            duck_round(avg_dec("regular_price"), 2).alias("avg_regular_price"),
            duck_round(avg_dec(dpct_if_promo), 1).alias("avg_discount_pct"),
            F.countDistinct("product_id").alias("product_count"),
            F.count(
                F.when(
                    F.col("promo_price").isNotNull()
                    & (F.col("promo_price") < F.col("regular_price")),
                    F.lit(1),
                )
            ).alias("promo_items"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .filter(F.col("n_rows") >= 5)
        .drop("n_rows")
        .orderBy(F.desc("avg_regular_price"))
    )


def value_map_medians(category_value_map_df: DataFrame) -> DataFrame:
    """Chart 5 quadrant reference lines: global medians (A13).

    Reference: ``app.py:432-435`` (pandas ``.median()`` ×2).
    """
    return category_value_map_df.agg(
        F.median("avg_discount_pct").alias("median_discount_pct"),
        F.median("avg_regular_price").alias("median_regular_price"),
    )
