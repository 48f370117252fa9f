"""Pipeline runner: load → staging → dims → fact → marts (dbt replacement).

The reference sequences its DAG with in-process dbt
(``main_pipeline.py:446-477``): ``stg_* → dim_* → fact_prices → mart_*``
with ``--full-refresh`` (every mart rebuilt from scratch). Here the DAG
is an explicit toposorted call list of pure DataFrame functions — the
models stay lazy logical plans until materialization, so Catalyst
optimizes across layer boundaries (e.g. a mart's category filter reaches
the raw parquet scan through staging and the fact join).

Load semantics (``main_pipeline.py:326-440``): rows are null-gated (S8)
then upserted with ``INSERT OR REPLACE`` per primary key. On Spark the
upsert is deterministic last-writer-wins
(:func:`..operators.upsert.upsert_last_writer_wins`, the engine's one
ranking: newest ``fetched_at``, ties to the greater row) keyed like the
reference DDL (``main_pipeline.py:283,297,320``). The incremental
runner's snapshots are replaced by the stage-and-swap every table
replacement uses (:func:`..io.write_swapped`) and heal after a crash
mid-swap.

Materialization mirrors dbt's config (``dbt_project.yml:33-40``):
staging = never persisted (views); dims/fact/marts = parquet tables,
``mode("overwrite")`` = full refresh. Both runners load through
:func:`_load` and materialize through :func:`build_models`, which writes
each table and re-reads it before its dependents are built, so the fact
join is done once and the three marts scan its parquet output. Every
re-read of a table the runner just wrote takes the written frame's
schema (:func:`..io.read_written`), so it starts no schema-inference job.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import heal_stage, read_written, write_swapped
from ..operators.upsert import merge_upsert, upsert_last_writer_wins
from . import dashboard, marts, staging

RAW_TABLES = ("raw_locations", "raw_products", "raw_product_prices")

# (upsert primary key, null-gate column) per raw table — reference DDL
# main_pipeline.py:283 (locations PK), :297 (products PK), :320 (prices
# composite PK); null gates main_pipeline.py:379-380,398-402 (S8).
_LOAD_SPEC = {
    "raw_locations": (("location_id",), "location_id"),
    "raw_products": (("product_id",), "product_id"),
    "raw_product_prices": (
        ("product_id", "location_id", "item_id"),
        "regular_price",
    ),
}


MATERIALIZED = (
    "dim_locations",
    "dim_products",
    "fact_prices",
    "mart_category_distribution",
    "mart_location_sales",
    "mart_price_by_category",
)


def _load(
    spark: SparkSession, raw_dir: str, name: str, where: Column | None = None
) -> DataFrame:
    """One raw table under the reference's load rules: null-gate (S8),
    the optional extra predicate, then keyed upsert, last ``fetched_at``
    wins (S5/S6)."""
    df = spark.read.parquet(os.path.join(raw_dir, f"{name}.parquet"))
    keys, gate = _LOAD_SPEC[name]
    keep = F.col(gate).isNotNull()
    if where is not None:
        keep = keep & where
    return upsert_last_writer_wins(df.filter(keep), keys, version_col="fetched_at")


def load_raw(spark: SparkSession, raw_dir: str) -> dict[str, DataFrame]:
    """Every raw table, loaded by :func:`_load`."""
    return {name: _load(spark, raw_dir, name) for name in RAW_TABLES}


def build_models(
    raw: dict[str, DataFrame], out_dir: str | None = None
) -> dict[str, DataFrame]:
    """Toposorted model build over already-loaded raw DataFrames.

    Without ``out_dir`` it is pure and lazy — no jobs run until the
    caller acts on a result. With ``out_dir``, each ``MATERIALIZED``
    model is written to ``out_dir/<name>`` (overwrite) as soon as it is
    built and re-read, with the schema it was written with, before any
    dependent model is built.
    """
    m: dict[str, DataFrame] = {}

    def put(name: str, df: DataFrame) -> None:
        if out_dir is not None and name in MATERIALIZED:
            path = os.path.join(out_dir, name)
            df.write.mode("overwrite").parquet(path)
            df = read_written(df, path)
        m[name] = df

    put("stg_locations", staging.stg_locations(raw["raw_locations"]))
    put("stg_products", staging.stg_products(raw["raw_products"]))
    put("stg_prices", staging.stg_prices(raw["raw_product_prices"]))
    put("dim_locations", marts.dim_locations(m["stg_locations"]))
    put("dim_products", marts.dim_products(m["stg_products"]))
    put(
        "fact_prices",
        marts.fact_prices(m["stg_prices"], m["dim_products"], m["dim_locations"]),
    )
    put(
        "mart_category_distribution",
        marts.mart_category_distribution(m["fact_prices"]),
    )
    put(
        "mart_location_sales",
        marts.mart_location_sales(m["fact_prices"], m["dim_locations"]),
    )
    put("mart_price_by_category", marts.mart_price_by_category(m["fact_prices"]))
    return m


def run_pipeline(
    spark: SparkSession, raw_dir: str, out_dir: str | None = None
) -> dict[str, DataFrame]:
    """Full-refresh pipeline run (dbt ``run --full-refresh`` analog).

    With ``out_dir`` set, dims/fact/marts are materialized by
    :func:`build_models`; without it, returns the lazy DataFrames.
    """
    return build_models(load_raw(spark, raw_dir), out_dir)


# The one map from built models to the nine dashboard frames
# (app.py:81-439); the page, the chart API, the traced frames and the
# d01-d09 registry queries all build from it. Builders, not frames:
# building one frame costs a fraction of building all nine.
DASHBOARD: dict[str, Callable[[dict[str, DataFrame]], DataFrame]] = {
    "price_distribution_q1": lambda m: dashboard.price_distribution(
        m["fact_prices"], q1_2026_only=True
    ),
    "effective_date_range": lambda m: dashboard.effective_date_range(
        m["fact_prices"]
    ),
    "category_median_price_order": lambda m: dashboard.category_median_price_order(
        dashboard.price_distribution(m["fact_prices"], q1_2026_only=False)
    ),
    "state_price_summary": lambda m: dashboard.state_price_summary(
        m["mart_location_sales"]
    ),
    "location_map": lambda m: dashboard.location_map(
        m["mart_location_sales"], m["dim_locations"]
    ),
    "stock_status_mix": lambda m: dashboard.stock_status_mix(m["fact_prices"]),
    "discount_depth": lambda m: dashboard.discount_depth(m["fact_prices"]),
    "category_value_map": lambda m: dashboard.category_value_map(m["fact_prices"]),
    "value_map_medians": lambda m: dashboard.value_map_medians(
        DASHBOARD["category_value_map"](m)
    ),
}


def dashboard_queries(m: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """All nine :data:`DASHBOARD` frames over built models."""
    return {name: build(m) for name, build in DASHBOARD.items()}


def price_chart(m: dict[str, DataFrame]) -> tuple[str, DataFrame]:
    """Chart 1 as the page draws it (app.py:84-124): its title's date
    range and the per-category box over the Q1-2026 rows, or over all
    dates when that window is empty (the reference's fallback)."""
    rows = DASHBOARD["price_distribution_q1"](m)
    if not rows.isEmpty():
        return "Q1 2026", dashboard.price_box(rows)
    rng = DASHBOARD["effective_date_range"](m).collect()[0]
    rows = dashboard.price_distribution(m["fact_prices"], q1_2026_only=False)
    return f"{rng['min_date']} – {rng['max_date']}", dashboard.price_box(rows)


def run_incremental(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    since: str,
) -> dict[str, DataFrame]:
    """Incremental refresh: merge new raw rows, rebuild downstream marts.

    The reference only does full refresh (dbt ``--full-refresh``,
    SURVEY.md §2.9); this is the incremental materialization a
    continuously-ingesting deployment needs. Raw rows with
    ``fetched_at > since`` are loaded by :func:`_load` and upserted into
    the existing raw snapshots (MERGE semantics —
    :func:`..operators.upsert.merge_upsert`). Staging/dims/fact/marts
    then rebuild from the merged snapshots through the same
    :func:`build_models` materialization as :func:`run_pipeline`: the
    fact join runs once and the marts read the written fact. Dims and
    marts are aggregates of the full key space, so they rebuild rather
    than merge — the rebuild reads the merged parquet, not the original
    feed, keeping incremental cost proportional to snapshot size, never
    to history length.

    Requires prior ``out_dir/snap_raw_*`` snapshots (:func:`seed_snapshots`
    or an earlier ``run_incremental``); writes updated snapshots back
    before rebuilding, each through :func:`..io.write_swapped` (stage to
    ``snap_<table>__new``, then delete and rename). A snapshot whose
    swap died between the delete and the rename is first promoted from
    its stage (:func:`..io.heal_stage`), so the next run picks up where
    the dead one stopped. Each written snapshot, like each model, is
    re-read with the schema it was written with
    (:func:`..io.read_written`); only the snapshots' first read infers
    one.
    """
    raw: dict[str, DataFrame] = {}
    for name in RAW_TABLES:
        snap = os.path.join(out_dir, f"snap_{name}")
        heal_stage(spark, snap)
        fresh = _load(spark, raw_dir, name, F.col("fetched_at") > F.lit(since))
        merged = merge_upsert(spark.read.parquet(snap), fresh, _LOAD_SPEC[name][0])
        write_swapped(merged, snap)
        raw[name] = read_written(merged, snap)
    return build_models(raw, out_dir)


def seed_snapshots(
    spark: SparkSession, raw_dir: str, out_dir: str, until: str | None = None
) -> None:
    """Write the initial raw snapshots ``run_incremental`` merges into.

    ``until`` bounds the seed load (``fetched_at <= until``) so tests
    can replay history as seed + incremental batches.
    """
    where = None if until is None else F.col("fetched_at") <= F.lit(until)
    for name in RAW_TABLES:
        _load(spark, raw_dir, name, where).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"snap_{name}")
        )
