"""A few of the operator headline queries, over a small generated input.

Traced runs only. These queries are the benchmark's one use of
``operators/*`` beyond the upsert, and of the two serving caches that
the refresh and the dashboard bypass: ``io``'s table cache and the
registry's plan cache. The posture is ``bench.py``'s: both caches on,
AQE off. The input is a scale-factor directory that
``sources.generator`` writes into the run's scratch from the seed.
Each query's DuckDB oracle runs once, untimed, as the output check.
"""

from __future__ import annotations

import os
import statistics
from pathlib import Path

import duckdb

from product_data_pipelining_spark import io
from product_data_pipelining_spark.checks.oracle_compare import duck_view_sql, frames_match
from product_data_pipelining_spark.registry import all_queries
from product_data_pipelining_spark.sources import generator

from refresh import noop
from spans import Tracer

# one per operator family of bench.HEADLINE: scan-aggregate, star join,
# upsert, sessionize (window), dedup; few enough that a traced run stays
# well inside its time limit. (ANN is left out: on this generated input
# sim01's rows did not match its oracle's.)
QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "s05_upsert_last_writer_wins",
    "ev02_sessionize",
    "dd01_exact_dedup",
)
SF = 0.001
REPEATS = 3
OP = "operators"


def generate(spark, dest: Path, seed: int) -> None:
    # one split per table: the largest (lineitem) is ~6,000 rows
    generator.generate_scale(spark, str(dest), SF, seed=seed, num_partitions=1)


def run(spark, tr: Tracer, sf_dir: Path) -> list[str]:
    """Build the table cache, plan each query once and run it
    ``REPEATS`` times under spans; return the mismatches against the
    oracles."""
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    os.environ["SPARK_GRAFT_PLAN_CACHE"] = "1"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sf = str(sf_dir)
    specs = all_queries()
    with tr.span("io.cache_build", OP):
        for t in io.TPCH_TABLES:
            noop(io.load_table(spark, sf, t))
    for q in QUERIES:
        with tr.span(f"registry.plan.{q}", OP):
            specs[q].fn(spark, sf)
        for _ in range(REPEATS):
            with tr.span(f"headline.{q}", OP):
                noop(specs[q].fn(spark, sf))

    problems = []
    con = duckdb.connect()
    try:
        for t in io.TPCH_TABLES:
            con.execute(duck_view_sql(sf, t))
        for q in QUERIES:
            ok, why = frames_match(specs[q].fn(spark, sf).toPandas(),
                                   con.execute(specs[q].oracle).df())
            if not ok:
                problems.append(f"{q}: {why}")
    finally:
        con.close()
    return problems


def metrics(tr: Tracer) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the spans :func:`run` recorded, once the
    tracer has resolved their Spark counts."""
    L: dict[str, tuple[float, str]] = {}
    (cache,) = tr.select(OP, "io.cache_build")
    L["io.cache_build_s"] = (cache.seconds, "s")
    L["registry.plan_s"] = (sum(s.seconds for s in tr.select(OP, "registry.plan.")), "s")
    total = 0.0
    for q in QUERIES:
        runs = [s for s in tr.spans if s.name == f"headline.{q}"]
        med = statistics.median(s.seconds for s in runs)
        total += med
        L[f"headline.{q}.s"] = (med, "s")
        L[f"headline.{q}.jobs"] = (runs[-1].jobs, "count")
        L[f"headline.{q}.stages"] = (runs[-1].stages, "count")
    L["headline.total_s"] = (total, "s")
    return L
