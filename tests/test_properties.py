"""Property-based tests (hypothesis) for the cross-engine determinism layer.

The oracle-parity suite checks fixed datasets; these tests check the
*invariants* the whole comparison methodology rests on, over generated
inputs:

1. ``duck_round`` == DuckDB ``ROUND`` on arbitrary doubles (including
   the representability boundaries where naive rounding diverges).
2. ``det_sum`` is partition-layout-independent AND equals its DuckDB
   twin ``sql_det_sum`` — the property that makes distributed floating
   aggregation reproducible at any cluster size.
3. Last-writer-wins upsert keeps exactly the max-version row per key,
   ties going to the greater row, regardless of input order.

Examples are kept small (each one round-trips through a Spark job);
hypothesis explores the value space, not the volume space.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from product_data_pipelining_spark.functions.rounding import (
    det_sum,
    duck_round,
    sql_det_sum,
)

# money-ish doubles: the engine's envelope (|x| < 9.2e12, 1e-6 grid —
# rounding.py) plus adversarial near-boundary values like 2.675
_MONEY = st.one_of(
    st.floats(
        min_value=-1e9,
        max_value=1e9,
        allow_nan=False,
        allow_infinity=False,
        width=64,
    ),
    st.decimals(
        min_value=-1000, max_value=1000, places=3
    ).map(float),  # x.xx5 boundary cases
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(vals=st.lists(_MONEY, min_size=1, max_size=8))
@_SETTINGS
def test_duck_round_matches_duckdb_round(spark, vals):
    got = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .select(duck_round("v", 2).alias("r"))
        .collect()
    ]
    with duckdb.connect() as con:
        want = [
            con.execute("SELECT ROUND(CAST(? AS DOUBLE), 2)", [v]).fetchone()[0]
            for v in vals
        ]
    assert got == pytest.approx(want, abs=0.0), (vals, got, want)


# The scales the oracled queries actually round at: 2 (money), 4
# (ratios: chk02 mean, ev05 conv_rate, ev06 retention), 6 (pr02
# moments, tx10 tf-idf). Strategy centers on x.…5 half-way points —
# exactly where Spark's BigDecimal(double) HALF_UP and DuckDB's
# scaled-double round diverge (rounding.py's 52298.925 class).
@pytest.mark.parametrize("scale", [2, 4, 6])
@given(
    vals=st.lists(
        st.one_of(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False, width=64,
            ),
            # one-past-the-scale decimals: maximal density of halfway
            # representability boundaries at each tested scale
            st.decimals(min_value=-100, max_value=100, places=7).map(float),
        ),
        min_size=1,
        max_size=8,
    )
)
@_SETTINGS
def test_duck_round_boundary_scales(spark, scale, vals):
    # seed the class of values that flipped F.round vs DuckDB ROUND
    vals = vals + [52298.925, 2.675, -2.675, 0.00000105, 0.12345649999]
    got = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .select(duck_round("v", scale).alias("r"))
        .collect()
    ]
    with duckdb.connect() as con:
        want = [
            con.execute(
                f"SELECT ROUND(CAST(? AS DOUBLE), {scale})", [v]
            ).fetchone()[0]
            for v in vals
        ]
    assert got == pytest.approx(want, abs=0.0), (vals, got, want)


@given(
    vals=st.lists(_MONEY, min_size=1, max_size=12),
    parts=st.integers(min_value=1, max_value=5),
)
@_SETTINGS
def test_det_sum_is_partition_independent_and_matches_duckdb(
    spark, vals, parts
):
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    one = df.coalesce(1).agg(det_sum("v").alias("s")).collect()[0]["s"]
    many = (
        df.repartition(parts).agg(det_sum("v").alias("s")).collect()[0]["s"]
    )
    assert one == many, (vals, parts, one, many)
    placeholders = ", ".join(f"({v!r})" for v in vals)
    with duckdb.connect() as con:
        want = con.execute(
            f"SELECT {sql_det_sum('v')} AS s FROM (VALUES {placeholders}) t(v)"
        ).fetchone()[0]
    assert one == want, (vals, one, want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key
            st.integers(min_value=0, max_value=3),  # version: ties are common
            st.integers(min_value=0, max_value=2),  # payload
        ),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_last_writer_wins_keeps_max_version_per_key(spark, rows):
    from product_data_pipelining_spark.operators.upsert import (
        upsert_last_writer_wins,
    )

    def kept(rs, n_parts):
        df = spark.createDataFrame(rs, "k int, ver int, payload int")
        out = upsert_last_writer_wins(df.repartition(n_parts), ["k"], "ver")
        return sorted(tuple(r) for r in out.collect())

    got = kept(rows, 1)
    want = {}
    for k, ver, payload in rows:
        want[k] = max(want.get(k, (-1, -1)), (ver, payload))
    # max version per key; a tie goes to the greater payload
    assert got == sorted((k, *vp) for k, vp in want.items()), (rows, got)
    assert kept(rows[::-1], 3) == got, rows


def test_vectorized_normalize_matches_per_cell():
    """_canon_series fast paths must be cell-for-cell identical to the
    reference canon_cell mapping on every dtype the oracles produce:
    ints (incl. nullable), floats (int-valued, fractional, NaN),
    strings with nulls, dates, and timestamps with/without sub-second
    parts."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from product_data_pipelining_spark.checks.oracle_compare import (
        _canon_series,
        canon_cell,
    )

    cols = {
        "i": pd.Series([1, -7, 0, 2**53], dtype="int64"),
        "i_na": pd.Series([1, None, 3, None], dtype="Int64"),
        "f_int": pd.Series([1.0, -2.0, 0.0, 1e14]),
        "f_mix": pd.Series([1.5, np.nan, -0.125, 3.0]),
        "s": pd.Series(["a", None, "b", ""]),
        "d": pd.Series(
            [dt.date(2024, 1, 2), dt.date(1999, 12, 31), None, dt.date(2000, 2, 29)]
        ),
        "ts": pd.Series(
            pd.to_datetime(
                ["2024-01-02 03:04:05", "1999-12-31 23:59:59", None, "2000-02-29 12:00:00"]
            )
        ),
        "ts_us": pd.Series(
            pd.to_datetime(
                ["2024-01-02 03:04:05.000123", "1999-12-31 23:59:59", None, "2000-02-29 12:00:00.5"],
                format="mixed",
            )
        ),
        "b": pd.Series([True, False, True, None], dtype=object),
    }
    for name, s in cols.items():
        got = _canon_series(s).tolist()
        want = s.map(canon_cell).tolist()
        assert got == want, (name, got, want)
