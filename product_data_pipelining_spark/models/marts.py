"""Dim / fact / mart models (reference marts layer).

Spark expressions of the six dbt mart models
(``/root/reference/dbt_pipeline_demo/models/marts/*.sql``). All are pure
``DataFrame -> DataFrame`` functions; the runner materializes them as
parquet tables, mirroring dbt's ``+materialized: table``
(``dbt_project.yml:38-40``).

Scale notes (100 TB design):

- ``fact_prices`` is fact ⟕ dim ⟕ dim on single string keys. Dims are
  O(products)/O(locations) — orders of magnitude smaller than the price
  fact — so both joins are explicit ``broadcast()``: zero shuffle of the
  fact side at any scale.
- The marts are partial aggregations (map-side combine) on
  low-cardinality keys (category, location), written so that Spark
  never applies its distinct-aggregate rewrite. That rewrite keys the
  shuffle on (group, product) and, for more than one distinct count,
  copies every row once per count through an ``Expand``; beside an
  exact percentile it builds one percentile buffer per (group,
  product) instead of one per group. ``mart_category_distribution`` and
  ``mart_price_by_category`` count their products as the size of a
  per-group ``collect_set``, so all their buffers live at the output
  grain behind one exchange;
  ``mart_location_sales`` aggregates twice, first per (location,
  product), then per location, so each distinct count is a plain count.
- Averages accumulate in DECIMAL (exact, order-independent) and convert
  to double only at the end: reruns at any parallelism are
  bit-identical, and the result matches DuckDB's DOUBLE ``AVG``
  (SURVEY.md §2.9).

Parity notes: DuckDB's ``PERCENTILE_CONT`` over DECIMAL(10,2)
interpolates on the *scaled integer* representation and truncates back
to scale 2 (verified empirically); :func:`duck_percentiles_dec` followed
by :func:`unscale_dec` reproduces that bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import duck_round


def avg_dec(col: Column | str) -> Column:
    """DuckDB-parity AVG over a DECIMAL column → DOUBLE.

    Sums exactly in decimal (order-independent across partitions), then
    divides as double. All-null groups divide by count 0 → NULL, same
    as SQL AVG.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).cast("double") / F.count(c)


def duck_percentiles_dec(
    col: Column | str, qs: tuple[float, ...], scale: int = 2
) -> Column:
    """Exact interpolated percentiles of a DECIMAL column, DuckDB-typed.

    DuckDB's ``PERCENTILE_CONT(q) WITHIN GROUP (ORDER BY dec)`` keeps
    DECIMAL output: it interpolates ``lo + frac * (hi - lo)`` on the
    scaled-integer representation and truncates toward zero back to the
    input scale. Values are scaled in decimal arithmetic (exact) and
    interpolated by Spark's exact ``percentile`` (for quartile fractions
    the double math is exact on scaled integers). One
    ``percentile(col, array(qs))`` buffers and sorts each group's values
    once for all fractions, where N separate aggregates would each hold
    their own copy. Returns the interpolated array (still scaled
    doubles); unscale each element with :func:`unscale_dec` after the
    aggregate, which floors and divides in decimal so no double rounding
    creeps in.
    """
    c = F.col(col) if isinstance(col, str) else col
    scaled = (c * F.lit(10**scale)).cast("double")
    return F.percentile(scaled, F.array(*[F.lit(q) for q in qs]))


def unscale_dec(interp: Column, scale: int = 2) -> Column:
    """DuckDB DECIMAL typing for one element of `duck_percentiles_dec`."""
    s = 10**scale
    return (F.floor(interp).cast("decimal(28,0)") / F.lit(s)).cast(
        f"decimal({10 + scale},{scale})"
    ).cast("decimal(10,2)")


def dim_locations(stg_locations: DataFrame) -> DataFrame:
    """Location dimension: drop ``address_line1``/``fetched_at`` (P9).

    Reference: ``models/marts/dim_locations.sql:1-10``.
    """
    return stg_locations.select(
        "location_id",
        "name",
        "chain",
        "city",
        "state",
        "zip_code",
        "latitude",
        "longitude",
    )


def dim_products(stg_products: DataFrame) -> DataFrame:
    """Product dimension: DISTINCT + ``primary_category AS category``.

    Reference: ``models/marts/dim_products.sql:1-7`` (A10/P9). DISTINCT
    over the full row — a hash aggregation on all five columns, exactly
    ``SELECT DISTINCT``'s semantics (not ``dropDuplicates`` on the key,
    which would pick an arbitrary winner).
    """
    return stg_products.select(
        "product_id",
        "description",
        "brand",
        F.col("primary_category").alias("category"),
        "categories",
    ).distinct()


def fact_prices(
    stg_prices: DataFrame, dim_products: DataFrame, dim_locations: DataFrame
) -> DataFrame:
    """Price fact: stg_prices ⟕ dim_products ⟕ dim_locations (J1).

    Reference: ``models/marts/fact_prices.sql:1-24``. LEFT joins — price
    rows with missing dims survive with null attributes
    (``models/docs/overview.md:96-100``). Dims are broadcast: the fact
    side streams through both joins without shuffling.
    """
    sp = stg_prices.alias("sp")
    dp = F.broadcast(dim_products.alias("dp"))
    dl = F.broadcast(dim_locations.alias("dl"))
    return (
        sp.join(dp, F.col("sp.product_id") == F.col("dp.product_id"), "left")
        .join(dl, F.col("sp.location_id") == F.col("dl.location_id"), "left")
        .select(
            F.col("sp.product_id").alias("product_id"),
            F.col("sp.location_id").alias("location_id"),
            F.col("sp.item_id").alias("item_id"),
            F.col("dp.description").alias("description"),
            F.col("dp.brand").alias("brand"),
            F.col("dp.category").alias("category"),
            F.col("dl.city").alias("city"),
            F.col("dl.state").alias("state"),
            F.col("dl.latitude").alias("latitude"),
            F.col("dl.longitude").alias("longitude"),
            F.col("sp.regular_price").alias("regular_price"),
            F.col("sp.promo_price").alias("promo_price"),
            F.col("sp.discount_amount").alias("discount_amount"),
            F.col("sp.discount_pct").alias("discount_pct"),
            F.col("sp.effective_date").alias("effective_date"),
            F.col("sp.fulfillment_instore").alias("fulfillment_instore"),
            F.col("sp.fulfillment_delivery").alias("fulfillment_delivery"),
            F.col("sp.fulfillment_curbside").alias("fulfillment_curbside"),
            F.col("sp.fulfillment_shiptohome").alias("fulfillment_shiptohome"),
            F.col("sp.stock_level").alias("stock_level"),
        )
    )


def mart_category_distribution(fact_prices: DataFrame) -> DataFrame:
    """Per-category product counts and average prices (A1).

    Reference: ``models/marts/mart_category_distribution.sql:1-9``.
    The ``ORDER BY product_count DESC`` in the reference is
    presentational (materialized-table order is not preserved by
    parquet, SURVEY §2.9/O1) — queries re-sort at read time.
    ``product_count`` is the size of the category's ``collect_set``
    (NULLs skipped, as ``COUNT(DISTINCT)`` does), as in
    :func:`mart_price_by_category`: ``countDistinct`` would add a
    (category, product) aggregate level behind a second exchange. The
    set is bounded by the distinct products per category, which grows
    with the catalog, not with the price rows.
    """
    return (
        fact_prices.filter(F.col("category").isNotNull())
        .groupBy("category")
        .agg(
            F.size(F.collect_set("product_id")).cast("long").alias(
                "product_count"
            ),
            duck_round(avg_dec("regular_price"), 2).alias("avg_regular_price"),
            duck_round(avg_dec("promo_price"), 2).alias("avg_promo_price"),
        )
    )


def mart_location_sales(
    fact_prices: DataFrame, dim_locations: DataFrame
) -> DataFrame:
    """Per-location physical/online product counts + avg price (A2/J2).

    Reference: ``models/marts/mart_location_sales.sql:1-24``, whose
    ``COUNT(DISTINCT CASE WHEN cond THEN product_id END)`` counts the
    products with at least one row where ``cond`` is TRUE. Two hash
    aggregates give the same counts with no ``Expand``: per (location,
    product), ``max`` of each condition (TRUE if any row's is TRUE;
    NULLs are ignored, and an all-NULL group stays NULL, i.e. not
    counted) and the ``sum``/``count`` of ``regular_price``; then per
    location, ``count(when(flag, product_id))`` and ``count(product_id)``
    (a NULL product is its own first-level group, which neither counts)
    and the exact decimal average ``sum(sum) / sum(count)``. The agg
    output is one row per location (small) → broadcast it into the
    INNER join with the dim.
    """
    per_product = fact_prices.groupBy("location_id", "product_id").agg(
        F.max(
            F.col("fulfillment_instore") | F.col("fulfillment_curbside")
        ).alias("physical"),
        F.max(
            F.col("fulfillment_delivery") | F.col("fulfillment_shiptohome")
        ).alias("online"),
        F.sum("regular_price").alias("price_sum"),
        F.count("regular_price").alias("price_n"),
    )
    lf = per_product.groupBy("location_id").agg(
        F.count(F.when(F.col("physical"), F.col("product_id"))).alias(
            "physical_count"
        ),
        F.count(F.when(F.col("online"), F.col("product_id"))).alias(
            "online_count"
        ),
        F.count("product_id").alias("total_products"),
        duck_round(
            F.sum("price_sum").cast("double") / F.sum("price_n"), 2
        ).alias("avg_price"),
    )
    dl = dim_locations.alias("dl")
    return dl.join(F.broadcast(lf.alias("lf")), "location_id", "inner").select(
        "location_id",
        F.col("dl.name").alias("name"),
        F.col("dl.city").alias("city"),
        F.col("dl.state").alias("state"),
        F.col("dl.zip_code").alias("zip_code"),
        F.col("dl.latitude").alias("latitude"),
        F.col("dl.longitude").alias("longitude"),
        F.col("lf.physical_count").alias("physical_count"),
        F.col("lf.online_count").alias("online_count"),
        F.col("lf.total_products").alias("total_products"),
        F.col("lf.avg_price").alias("avg_price"),
    )


def mart_price_by_category(fact_prices: DataFrame) -> DataFrame:
    """(category, effective_date) grain five-number price summary (A3).

    Reference: ``models/marts/mart_price_by_category.sql:1-16`` — the
    hardest parity point (SURVEY §2.9): exact interpolated percentiles
    with DuckDB's DECIMAL output typing, never ``percentile_approx``.
    NULL ``effective_date`` forms its own group, as in SQL GROUP BY.
    ``product_count`` is the size of the group's ``collect_set`` (which
    skips NULLs, as ``COUNT(DISTINCT)`` does), not ``countDistinct``:
    that would make Spark pre-aggregate every buffer, the percentile's
    included, per (category, effective_date, product) and sort the
    whole fact. As written, one aggregate per output group runs behind
    one exchange, as DuckDB's does.
    """
    agged = (
        fact_prices.filter(
            F.col("category").isNotNull() & (F.col("regular_price") > 0)
        )
        .groupBy("category", "effective_date")
        .agg(
            duck_round(avg_dec("regular_price"), 2).alias("avg_regular_price"),
            duck_round(
                avg_dec(F.coalesce("promo_price", "regular_price")), 2
            ).alias("avg_promo_price"),
            # discount_pct is a double holding a 2-decimal value; the
            # decimal(18,2) cast recovers it exactly, so the sum is
            # order-independent across partitions (unlike double AVG)
            duck_round(
                avg_dec(F.col("discount_pct").cast("decimal(18,2)")), 2
            ).alias("avg_discount_pct"),
            F.size(F.collect_set("product_id")).cast("long").alias(
                "product_count"
            ),
            F.min("regular_price").alias("min_price"),
            F.max("regular_price").alias("max_price"),
            # one shared buffer + sort for all three quartiles
            duck_percentiles_dec("regular_price", (0.25, 0.50, 0.75)).alias(
                "_pcts"
            ),
        )
    )
    return agged.select(
        *[c for c in agged.columns if c != "_pcts"],
        unscale_dec(F.col("_pcts")[0]).alias("q1_price"),
        unscale_dec(F.col("_pcts")[1]).alias("median_price"),
        unscale_dec(F.col("_pcts")[2]).alias("q3_price"),
    )
