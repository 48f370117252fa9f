"""Driver-style oracle parity: every registered query vs its DuckDB SQL.

Mimics the driver's correctness gate: run the Spark query and the oracle
SQL on the same parquet tables, sort columns by name, sort rows, compare
values. Floats must match to high precision (both sides round inside the
query, so residual differences indicate a real semantics gap).

The sweep runs at BOTH sf0.001 (fast loop) and sf0.01 (the driver's
correctness-gate scale), so the queries outside the driver's 50-row
window are verified at the driver's own scale factor, not just the
small one. Setting TEST_SF_DIR collapses the matrix to that single SF.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

from product_data_pipelining_spark.checks.oracle_compare import (
    dtype_kinds,
    duck_view_sql,
    frames_match,
    normalize,
)
from product_data_pipelining_spark.io import TPCH_TABLES
from product_data_pipelining_spark.registry import all_queries

QUERIES = all_queries()
ROOT = Path(__file__).resolve().parents[1]
ORACLE_CASES = [name for name, spec in QUERIES.items() if spec.oracle is not None]
ROWS_ONLY_CASES = [name for name, spec in QUERIES.items() if spec.oracle is None]

if "TEST_SF_DIR" in os.environ:
    SF_DIRS = [os.environ["TEST_SF_DIR"]]
else:
    SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    SF_DIRS = [d for d in SF_DIRS if os.path.isdir(d)] or [
        "/root/testdata/sf0.001"
    ]


@pytest.fixture(scope="module", params=SF_DIRS, ids=[d.rsplit("/", 1)[-1] for d in SF_DIRS])
def par_sf_dir(request):
    return request.param


@pytest.fixture(scope="module")
def par_ddb(par_sf_dir):
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(duck_view_sql(par_sf_dir, t))
    yield con
    con.close()


# normalize / _canon / _kinds now live in checks.oracle_compare so the
# scale probe's at-scale value checks share the exact same contract
_kinds = dtype_kinds


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_oracle_parity(name, spark, par_ddb, par_sf_dir):
    assert_parity(name, spark, par_ddb, par_sf_dir)


def assert_parity(name, spark, con, sf_dir):
    """The registered query ``name`` at ``sf_dir`` against its oracle on
    ``con``: same columns, dtype kinds, row count and values."""
    spec = QUERIES[name]
    got_raw = spec.fn(spark, sf_dir).toPandas()
    want_raw = con.execute(spec.oracle).df()
    got_raw_kinds, want_raw_kinds = _kinds(got_raw), _kinds(want_raw)
    got = normalize(got_raw)
    want = normalize(want_raw)
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns differ: {list(got.columns)} vs {list(want.columns)}"
    )
    kinds_got = [df_kind for df_kind in got_raw_kinds]
    kinds_want = [df_kind for df_kind in want_raw_kinds]
    assert kinds_got == kinds_want, (
        f"{name}: dtype kinds differ (spark vs duck): "
        f"{list(zip(sorted(got.columns), kinds_got, kinds_want))}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    mism = (got != want).any(axis=1)
    if mism.any():
        idx = mism[mism].index[:5]
        detail = "\n".join(
            f"  spark={got.loc[i].to_dict()}\n  duck ={want.loc[i].to_dict()}"
            for i in idx
        )
        raise AssertionError(
            f"{name}: {int(mism.sum())}/{len(got)} rows mismatch:\n{detail}"
        )


@pytest.fixture(scope="module")
def tiny_corpus_ddb(spark, tmp_path_factory):
    """A generated sf0.001 directory with 20 embeddings, fewer than the
    PQ codebook's PQ_K (64) seed rows: only 3 rows seed it."""
    from product_data_pipelining_spark.sources import generator

    out = str(tmp_path_factory.mktemp("sf0.001-seed42"))
    generator.generate_scale(spark, out, sf=0.001, seed=42, num_partitions=1)
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(duck_view_sql(out, t))
    yield out, con
    con.close()


@pytest.mark.parametrize(
    "name", ["sim06_pq_adc", "sim07_ann_ivfpq", "sim08_ann_ivfpq_rerank"])
def test_pq_encode_on_a_corpus_smaller_than_the_codebook(name, spark, tiny_corpus_ddb):
    """The PQ encode kernel sizes its distance grid by the codebook it
    got, not by PQ_K: on this corpus it crashed with "operands could not
    be broadcast together with shapes (20,64) (20,3)"."""
    out, con = tiny_corpus_ddb
    assert con.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0] == 20
    assert_parity(name, spark, con, out)


# The ANN family on the first 8 of the suite SF's embeddings: one seed
# centroid (vec_id 7), one query (vec_id 0), and cells and scan
# partitions that hold fewer than TOP_K rows, so every kernel's
# self-drop decides whether a query comes back as its own neighbour.
ANN_ORACLED = [
    "sim01_ann_bruteforce_topk", "sim04_ann_ivf", "sim06_pq_adc",
    "sim07_ann_ivfpq", "sim08_ann_ivfpq_rerank", "sim09_knn_graph",
    "sim11_hard_negatives", "dd13_semantic_dedup",
]
ANN_ROWS_ONLY = [
    "sim02x_ann_lsh_bucketed_np", "sim05_kmeans_assign",
    "sim10_mmr_diverse_topk",
]


@pytest.fixture(scope="module")
def eight_row_corpus_ddb(sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("first8")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if t == "embeddings":
            con.execute(duck_view_sql(sf_dir, t))
            con.execute(
                f"COPY (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8) "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
            con.execute("DROP VIEW embeddings")
        elif os.path.isdir(src):
            shutil.copytree(src, out / f"{t}.parquet")
        else:
            shutil.copy(src, out)
        con.execute(duck_view_sql(str(out), t))
    assert con.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0] == 8
    yield str(out), con
    con.close()


@pytest.mark.parametrize("name", ANN_ORACLED)
def test_ann_oracle_parity_on_an_eight_row_corpus(name, spark, eight_row_corpus_ddb):
    """sim01 returned the query as its own rank-1 neighbour here: a scan
    partition with <= TOP_K rows kept the self row's sentinel key, and
    its cosine 1.0 won the global window (Spark 8 rows, DuckDB 7)."""
    out, con = eight_row_corpus_ddb
    assert_parity(name, spark, con, out)


@pytest.mark.parametrize("name", ANN_ROWS_ONLY)
def test_ann_rows_only_on_an_eight_row_corpus(name, spark, eight_row_corpus_ddb):
    out, _ = eight_row_corpus_ddb
    got = QUERIES[name].fn(spark, out).toPandas()
    if "neighbor_id" in got:
        assert not (got["query_id"] == got["neighbor_id"]).any()


# A driver outside the repo: the child's script puts the repo on its own
# sys.path only, so its workers can import nothing from the package.
FOREIGN_CWD_QUERIES = [
    "sim01_ann_bruteforce_topk", "sim09_knn_graph", "dd13_semantic_dedup",
]
_FOREIGN_CWD_CHILD = f"""
import json, sys
sys.path.insert(0, {str(ROOT)!r})
from product_data_pipelining_spark.checks.oracle_compare import (
    duck_connect, frames_match)
from product_data_pipelining_spark.registry import all_queries
from product_data_pipelining_spark.session import get_spark
sf_dir = sys.argv[1]
spark = get_spark(app_name="pdp-foreign-cwd", cpus=2)
con = duck_connect(sf_dir)
specs = all_queries()
print(json.dumps({{
    n: frames_match(specs[n].fn(spark, sf_dir).toPandas(),
                    con.execute(specs[n].oracle).df())
    for n in {FOREIGN_CWD_QUERIES!r}
}}))
spark.stop()
"""


def test_ann_kernels_reach_workers_from_a_foreign_cwd(sf_dir, tmp_path):
    """The kernels' module is registered to pickle by value, so a worker
    that cannot import the package still runs them."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != ROOT
    )
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_CHILD, sf_dir], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    verdicts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert verdicts == {n: [True, ""] for n in FOREIGN_CWD_QUERIES}


def test_a03_null_price_parity(spark, tmp_path_factory):
    """a03's rank-based percentiles must IGNORE NULL ``l_extendedprice``
    (parity with ``F.percentile`` / DuckDB ``quantile_cont``).

    The fixture tables carry no NULL prices, so the standard sweep
    can't see the round-8-ADVICE divergence (NULLs sorting first in an
    ascending row_number window would shift every rank); this test
    injects NULLs into a copy of lineitem and compares both engines on
    it — including one all-NULL group (flag 'R' late dates pattern not
    guaranteed, so the per-row modulus gives mixed + non-trivial
    groups).
    """
    src = SF_DIRS[0]
    tmp = str(tmp_path_factory.mktemp("a03nulls"))
    con = duckdb.connect()
    con.execute(duck_view_sql(src, "lineitem"))
    con.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN l_orderkey % 5 = 0 THEN NULL
                 ELSE l_extendedprice END AS l_extendedprice)
          FROM lineitem
        ) TO '{tmp}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"CREATE OR REPLACE VIEW lineitem AS "
        f"SELECT * FROM '{tmp}/lineitem.parquet'"
    )
    n_null = con.execute(
        "SELECT COUNT(*) FROM lineitem WHERE l_extendedprice IS NULL"
    ).fetchone()[0]
    assert n_null > 0, "injection produced no NULL prices — test is inert"
    spec = QUERIES["a03_percentile_summary"]
    got = normalize(spec.fn(spark, tmp).toPandas())
    want = normalize(con.execute(spec.oracle).df())
    con.close()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    mism = (got != want).any(axis=1)
    assert not mism.any(), (
        f"a03 NULL parity: {int(mism.sum())}/{len(got)} rows mismatch:\n"
        + "\n".join(
            f"  spark={got.loc[i].to_dict()}\n  duck ={want.loc[i].to_dict()}"
            for i in mism[mism].index[:5]
        )
    )


@pytest.fixture(scope="module")
def null_edge_fixtures(tmp_path_factory) -> str:
    """The pipeline fixtures with NULL edges injected per (product,
    location) pair, so the row that survives the upsert carries them:
    NULL ``promo_price``; NULL fulfillment flags (all four, or one NULL
    beside a TRUE or FALSE partner); an unparseable and a NULL
    ``effective_date`` (both land in the NULL-date group); and products
    whose categories JSON is ``[]``, which gives a NULL category."""
    from product_data_pipelining_spark.models.pipeline_queries import (
        _FIXTURE_DIR,
        _PRELUDE,
        ensure_fixtures,
    )

    src = ensure_fixtures()
    out = str(tmp_path_factory.mktemp("null-edges"))
    pair = "(TRY_CAST(product_id AS BIGINT) + TRY_CAST(location_id AS BIGINT)) % 11"
    con = duckdb.connect()
    try:
        con.execute(f"""
            COPY (SELECT * FROM '{src}/raw_locations.parquet')
            TO '{out}/raw_locations.parquet' (FORMAT PARQUET)""")
        con.execute(f"""
            COPY (SELECT * REPLACE (
                    CASE WHEN TRY_CAST(product_id AS BIGINT) % 13 = 0 THEN '[]'
                         ELSE categories END AS categories)
                  FROM '{src}/raw_products.parquet')
            TO '{out}/raw_products.parquet' (FORMAT PARQUET)""")
        con.execute(f"""
            COPY (SELECT * REPLACE (
                    CASE WHEN {pair} = 0 THEN NULL ELSE promo_price END
                      AS promo_price,
                    CASE WHEN {pair} IN (1, 2, 3) THEN NULL
                         ELSE fulfillment_instore END AS fulfillment_instore,
                    CASE WHEN {pair} = 1 THEN NULL WHEN {pair} = 2 THEN FALSE
                         WHEN {pair} = 3 THEN TRUE
                         ELSE fulfillment_curbside END AS fulfillment_curbside,
                    CASE WHEN {pair} IN (1, 2, 3) THEN NULL
                         ELSE fulfillment_delivery END AS fulfillment_delivery,
                    CASE WHEN {pair} = 1 THEN NULL WHEN {pair} = 2 THEN TRUE
                         WHEN {pair} = 3 THEN FALSE
                         ELSE fulfillment_shiptohome END AS fulfillment_shiptohome,
                    CASE WHEN {pair} = 4 THEN 'not-a-date' WHEN {pair} = 5 THEN NULL
                         ELSE effective_date END AS effective_date)
                  FROM '{src}/raw_product_prices.parquet')
            TO '{out}/raw_product_prices.parquet' (FORMAT PARQUET)""")
        seen = con.execute(_PRELUDE.replace(_FIXTURE_DIR, out) + f"""
            SELECT COUNT(*) FILTER (WHERE {pair} = 0 AND promo_price IS NULL),
                   COUNT(*) FILTER (WHERE {pair} = 1 AND fulfillment_instore IS NULL
                                    AND fulfillment_shiptohome IS NULL),
                   COUNT(*) FILTER (WHERE {pair} = 2 AND fulfillment_curbside = FALSE),
                   COUNT(*) FILTER (WHERE {pair} = 3 AND fulfillment_curbside),
                   COUNT(*) FILTER (WHERE {pair} = 4 AND effective_date IS NULL),
                   COUNT(*) FILTER (WHERE {pair} = 5 AND effective_date IS NULL),
                   COUNT(*) FILTER (WHERE TRY_CAST(product_id AS BIGINT) % 13 = 0
                                    AND category IS NULL)
            FROM fact_prices""").fetchone()
    finally:
        con.close()
    assert all(seen), f"an injected edge reaches no fact row: {seen}"
    return out


@pytest.mark.parametrize(
    "name",
    ["m07_mart_category_distribution", "m08_mart_location_sales",
     "m09_mart_price_by_category"],
)
def test_marts_null_edge_parity(name, spark, null_edge_fixtures, monkeypatch):
    """The marts' NULL rules (``max`` of a NULL flag, ``count(when(...))``,
    ``collect_set`` skipping NULL products, the NULL category and date
    groups) against the DuckDB replay of the reference SQL."""
    from product_data_pipelining_spark.models import pipeline_queries
    from product_data_pipelining_spark.models.runner import build_models, load_raw

    raw_dir = null_edge_fixtures
    monkeypatch.setattr(pipeline_queries, "_models",
                        lambda s: build_models(load_raw(s, raw_dir)))
    spec = QUERIES[name]
    got = spec.fn(spark, raw_dir).toPandas()
    con = duckdb.connect()
    try:
        want = con.execute(
            spec.oracle.replace(pipeline_queries._FIXTURE_DIR, raw_dir)).df()
    finally:
        con.close()
    ok, why = frames_match(got, want)
    assert ok, f"{name}: {why}"


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_queries_run(name, spark, par_sf_dir):
    spec = QUERIES[name]
    df = spec.fn(spark, par_sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
