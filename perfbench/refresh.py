"""The batch job (one refresh op) and the checks of its outputs.

The op calls the engine as a deployment does: ``runner.run_pipeline``
(full refresh) or ``runner.run_incremental`` (incremental refresh). The
traced op makes the same call with spans around the tables it writes
(see :func:`refresh_op_traced`).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from unittest import mock

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.readwriter import DataFrameWriter

from product_data_pipelining_spark.checks.oracle_compare import frames_match
from product_data_pipelining_spark.models import pipeline_queries, runner, staging
from product_data_pipelining_spark.registry import all_queries
from product_data_pipelining_spark.sources import ingest

from spans import Tracer

FULL, INCREMENTAL = "full", "incremental"
STAGING = ("stg_locations", "stg_products", "stg_prices")
MARTS = runner.MATERIALIZED
# registry queries over the models: m04-m09 read the six tables the op
# writes, d01-d09 the dashboard frames computed from them
TABLE_CHECKS = ("m04", "m05", "m06", "m07", "m08", "m09")
DASHBOARD_CHECKS = tuple(f"d0{i}" for i in range(1, 10))


def noop(df: DataFrame) -> None:
    """Compute every column of every row and discard them."""
    df.write.format("noop").mode("overwrite").save()


def flatten(spark: SparkSession, payloads: dict[str, str], dest: Path) -> None:
    """Land the JSONL payloads as the three flat raw tables (parquet)."""
    products = ingest.read_product_payloads(spark, payloads["products_payload"])
    locations = ingest.read_location_payloads(spark, payloads["locations_payload"])
    ingest.flatten_locations(locations).write.mode("overwrite").parquet(str(dest / "locations"))
    ingest.flatten_products(products).write.mode("overwrite").parquet(str(dest / "products"))
    ingest.flatten_prices(products).write.mode("overwrite").parquet(str(dest / "prices"))


def seed_snapshots(inputs, out_dir: Path) -> None:
    """The state an incremental refresh merges into: per raw table, the
    null-gated last-writer-wins rows fetched up to the cut.

    Written by DuckDB with the reference's load semantics (the
    ``_PRELUDE`` upsert CTEs), so that preparing the input runs no Spark
    job and the op is the first Spark work in its JVM on both workloads.
    The output checks hold the merged result to the full-history oracle.
    """
    con = duckdb.connect()
    try:
        for name in runner.RAW_TABLES:
            keys, gate = runner._LOAD_SPEC[name]
            snap = out_dir / f"snap_{name}"
            snap.mkdir(parents=True)
            con.execute(f"""
                COPY (SELECT * EXCLUDE (__rn) FROM (
                        SELECT *, row_number() OVER (
                          PARTITION BY {", ".join(keys)} ORDER BY fetched_at DESC) AS __rn
                        FROM '{inputs.raw_dir / f"{name}.parquet"}'
                        WHERE {gate} IS NOT NULL
                          AND fetched_at <= TIMESTAMP '{inputs.since}')
                      WHERE __rn = 1)
                TO '{snap / "part-0.parquet"}' (FORMAT PARQUET)""")
    finally:
        con.close()


def refresh_op(spark, kind: str, inputs, out_dir: Path) -> dict[str, DataFrame]:
    if kind == FULL:
        return runner.run_pipeline(spark, str(inputs.raw_dir), str(out_dir))
    return runner.run_incremental(spark, str(inputs.raw_dir), str(out_dir), inputs.since)


def layer_of(table: str) -> str:
    """Span name of a parquet write, from the table it writes."""
    table = table.removeprefix("snap_").removesuffix("__new")
    if table in runner.RAW_TABLES:
        return f"upsert.{table}"
    if table in STAGING:
        return f"staging.{table}"
    if table in MARTS:
        return f"marts.{table}"
    return f"other.{table}"


def refresh_op_traced(spark, tr: Tracer, kind: str, inputs, out_dir: Path) -> dict[str, DataFrame]:
    """:func:`refresh_op` with a span around each table it writes.

    Spark is lazy, so a span around ``run_pipeline`` could not say which
    layer spent the time. Every parquet write runs under a span named
    after its table (:func:`layer_of`): the snapshot merge of
    ``run_incremental``, and the dims, fact and marts of both runners.
    The load upsert (``runner.load_raw``) and the staging models, which
    the runners leave as lazy plans inside those writes, are wrapped so
    that each of their outputs is written to ``inputs.stage_dir`` under
    its own span and read back before the next layer reads it. The rest
    is the runners' own code: on ``run_incremental`` each mart still
    re-derives the dims and the fact join from the staged tables.
    """
    write_parquet = DataFrameWriter.parquet

    def traced_write(writer, path, *args, **kwargs):
        with tr.span(layer_of(Path(path).name), kind):
            write_parquet(writer, path, *args, **kwargs)

    def staged(name: str, df: DataFrame) -> DataFrame:
        df.write.mode("overwrite").parquet(str(inputs.stage_dir / name))
        return spark.read.parquet(str(inputs.stage_dir / name))

    load_raw = runner.load_raw

    def staged_load_raw(spark, raw_dir):
        return {name: staged(name, df) for name, df in load_raw(spark, raw_dir).items()}

    def staged_model(name: str):
        build = getattr(staging, name)
        return lambda raw: staged(name, build(raw))

    with tr.span("refresh", kind), \
            mock.patch.object(DataFrameWriter, "parquet", traced_write), \
            mock.patch.object(runner, "load_raw", staged_load_raw), \
            mock.patch.multiple(staging, **{n: staged_model(n) for n in STAGING}):
        return refresh_op(spark, kind, inputs, out_dir)


# --- output checks (untimed) -------------------------------------------------


def check_models(spark, m: dict[str, DataFrame], raw_dir: Path,
                 checks: tuple[str, ...]) -> list[str]:
    """Compare registry queries over the refreshed models ``m`` with the
    DuckDB replay of the reference dataflow over ``raw_dir``; return the
    mismatches. The registry's m0x/d0x queries supply both sides: their
    Spark side reads the models, their oracle reads the fixture
    directory, swapped here for ``raw_dir``."""
    specs = [next(s for n, s in all_queries().items() if n.startswith(prefix))
             for prefix in checks]

    def oracles() -> list:
        con = duckdb.connect()
        try:
            return [con.execute(spec.oracle.replace(
                pipeline_queries._FIXTURE_DIR, str(raw_dir))).df() for spec in specs]
        finally:
            con.close()

    # the oracles run in DuckDB beside the Spark collects, and the small
    # Spark jobs overlap each other
    with ThreadPoolExecutor(4) as pool:
        want = pool.submit(oracles)
        with mock.patch.object(pipeline_queries, "_models", lambda _spark: m):
            got = list(pool.map(lambda spec: spec.fn(spark, str(raw_dir)).toPandas(), specs))
        want = want.result()
    problems = []
    for spec, g, w in zip(specs, got, want):
        ok, why = frames_match(g, w)
        if not ok:
            problems.append(f"{spec.name}: {why}")
    return problems
