"""Query registry: every engine operator exposed as a named query.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an equivalent ANSI/DuckDB oracle SQL string
over the same parquet tables. The driver's correctness gate runs both and
hash-compares (row-count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- floating aggregates are rounded identically on both sides (summation
  order differs between engines; rounding makes the comparison stable);
- output row order is irrelevant (driver sorts before hashing).

Operator IDs in query names refer to SURVEY.md §2's inventory of the
reference repo's operators.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable SQL; None → rows-only check
    doc: str
    # Optional DuckDB-RESOURCE-shaped twin of ``oracle`` for the scale
    # probe's out-of-process staging ONLY: a list of statements executed
    # in order, the LAST being the SELECT whose result is staged. Same
    # semantics and values as ``oracle`` (pinned equal by pytest on the
    # gate fixtures); exists because a handful of oracles need work
    # SEQUENCED to bound DuckDB's memory (e.g. chunked pair
    # aggregation), and DuckDB schedules one statement's independent
    # pipelines concurrently, so the sequencing must live across
    # statements. The driver gate and local sweeps always use
    # ``oracle``.
    oracle_stage: tuple[str, ...] | None = None


_REGISTRY: dict[str, QuerySpec] = {}


# Opt-in prepared-plan cache (SPARK_GRAFT_PLAN_CACHE=1): memoize the
# *unresolved-to-analyzed DataFrame* per (session, sf_dir, query). Spark
# analyzes eagerly on every transformation, so re-declaring a deep plan
# costs 100-400 ms of analyzer + py4j round trips before a single task
# runs — the moral equivalent of re-preparing a statement per execution.
# DataFrames are immutable, so serving the memoized object is
# semantically identical; the reference's dashboard does the same one
# level up (Streamlit result caching). Off by default so tests and the
# driver's correctness gate exercise fresh plan construction.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def register(
    name: str,
    oracle: str | None = None,
    oracle_stage: tuple[str, ...] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""
    import os

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
            if os.environ.get("SPARK_GRAFT_PLAN_CACHE") != "1":
                return fn(spark, sf_dir)
            key = (spark.sparkContext.applicationId, sf_dir, name)
            df = _PLAN_CACHE.get(key)
            if df is None:
                df = fn(spark, sf_dir)
                _PLAN_CACHE[key] = df
            return df

        prepared.__name__ = fn.__name__
        prepared.__doc__ = fn.__doc__
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=prepared,
            oracle=oracle,
            doc=fn.__doc__ or "",
            oracle_stage=oracle_stage,
        )
        return fn

    return deco


# The external correctness gate value-checks the FIRST 50 queries in the
# order all_queries() returns them, and this list is that prefix:
# exactly 50 names, every one oracled (both pinned by
# test_driver_window_is_exactly_fifty_and_oracled). It also holds every
# oracled bench HEADLINE query, and covers every SURVEY.md §2 operator
# by a named row or an in-window proxy (e.g. m06 for J1's LEFT star
# join). To add a headliner, swap out a query that is proxy-covered
# in-window and stays in the local value sweep
# (tests/test_oracle_parity.py, CORRECTNESS_SF0_1.json), and name the
# proxy in the commit. Every registered family has had a gate row at
# least once; the per-round rotation history is in `git log -p` of
# this file.
_DRIVER_PRIORITY = [
    "s05_upsert_last_writer_wins",
    "s06_merge_upsert",
    "s02_s09_flatten_locations",
    "s07a_flatten_products",
    "m02_stg_products",
    "m03_stg_prices",
    "m06_fact_prices",
    "m07_mart_category_distribution",
    "m08_mart_location_sales",
    "m09_mart_price_by_category",
    "a14_rollup_flag_status",
    "a15_pivot_status_counts",
    "chk05_distribution_drift",
    "w02_distribution_frames",
    "a16_grouping_sets",
    "tp01_scd2_history",
    "cg01_cogroup_reconcile",
    "pipe02_curation_funnel_lsh",
    "sim09_knn_graph",
    "tx16_bigram_logprob",
    "sim11_hard_negatives",
    "a03_percentile_summary",
    "a11_share_of_group_window",
    "w03_range_frames",
    "a17_cube_type_status",
    "chk04_dataset_diff",
    "smp07_shuffle_order",
    "w01_ranking_offset_frames",
    "smp08_weighted_sample",
    "pr05_correlation_matrix",
    "tp03_ohlc_bars",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "ev05_funnel_conversion",
    "sim01_ann_bruteforce_topk",
    "sim02_ann_lsh_bucketed",
    "dd01_exact_dedup",
    "dd04_minhash_lsh_pairs",
    "ev02_sessionize",
    "tx02_quality_score",
    "tx11_corpus_filter_pipeline",
    "dd10_bloom_decontaminate",
    "tp02_resample_gapfill",
    "sim06_pq_adc",
    "sim07_ann_ivfpq",
    "sim08_ann_ivfpq_rerank",
    "dd13_semantic_dedup",
    "dd14_incremental_ingest_dedup",
    "pipe01_curation_funnel",
]


def all_queries() -> dict[str, QuerySpec]:
    """Import all operator modules (populating the registry) and return it.

    Returned dict order = ``_DRIVER_PRIORITY`` first, then the
    remaining queries in module definition order.
    """
    # imports are deferred so importing `registry` alone stays cheap
    from .models import pipeline_queries  # noqa: F401
    from .sources import payload_queries  # noqa: F401
    from .operators import (  # noqa: F401
        cogroup,
        curation,
        dedup,
        multimodal,
        profiling,
        relational,
        sampling,
        scalar_ops,
        similarity,
        sqlapi,
        stats,
        temporal,
        tpch_shapes,
        windows,
        textops,
        upsert,
    )
    from .streaming import sessionize  # noqa: F401

    missing = [n for n in _DRIVER_PRIORITY if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"_DRIVER_PRIORITY names unknown queries: {missing}")
    ordered = {n: _REGISTRY[n] for n in _DRIVER_PRIORITY}
    ordered.update((n, s) for n, s in _REGISTRY.items() if n not in ordered)
    return ordered
