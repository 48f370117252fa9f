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

import os

import duckdb
import pytest

from product_data_pipelining_spark.checks.oracle_compare import (
    dtype_kinds,
    duck_view_sql,
    normalize,
)
from product_data_pipelining_spark.io import TPCH_TABLES
from product_data_pipelining_spark.registry import all_queries

QUERIES = all_queries()
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


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_queries_run(name, spark, par_sf_dir):
    spec = QUERIES[name]
    df = spec.fn(spark, par_sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
