"""Cogrouped applyInPandas: per-key custom logic over two aligned inputs.

The escape hatch for operators that genuinely need imperative per-key
logic over *two* tables at once (sequence alignment, per-entity
reconciliation, custom merge rules). Spark shuffles both sides on the
key, feeds each key's rows to the Python worker as a pair of Arrow
batches, and the UDF emits an arbitrary result frame — no driver
involvement, fully partition-parallel.

The demo operator reconciles order headers against their line items —
a shape that IS relational (see the oracle) and would normally be the
join+agg twin; it is registered through the pandas path precisely so
the correctness gate proves the cogroup plumbing computes the exact
same answer, down to the deterministic scaled-integer summation the
relational tier uses (functions/rounding.py).

Everything the UDF touches is defined inside the closure: the driver
may run from any cwd, so worker processes cannot import this module —
cloudpickle must carry the function by value (see
.claude/skills/verify round-1 gotchas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import sql_det_sum
from ..io import load_table
from ..registry import register

_OUT_SCHEMA = (
    "o_orderkey bigint, n_lines bigint, line_total double, "
    "header_total double, delta double"
)


# order-key buckets per partition of the cogroup: each pandas call
# reconciles one bucket's orders at once, so a partition pays a handful
# of Python invocations instead of one per order key
_BUCKETS_PER_PARTITION = 4


def cogroup_reconcile(
    orders: DataFrame, lineitem: DataFrame, parallelism: int | None = None
) -> DataFrame:
    """Per-order header-vs-lines reconciliation via cogrouped pandas.

    Both sides are cogrouped on a BUCKET of the order key
    (``_BUCKETS_PER_PARTITION`` buckets per partition), and each call
    reconciles its bucket's orders with one vectorised group-by. A
    Python-UDF stage's cost is per-call overhead, not bytes: grouping on
    the order key itself made one pandas call per order (150k calls at
    sf0.1, minutes on 4 cores). The general rule this encodes: size
    Python stages by keys-per-task, never by shuffle bytes.

    Both sides are repartitioned on the bucket with an EXPLICIT
    partition count before the cogroup. Without it, AQE sees a few tens
    of MB of shuffle data and coalesces the exchange to one partition —
    correct economics for a JVM stage, but it leaves a single Python
    worker busy while the other cores idle. An explicit count is
    user-specified repartitioning, which AQE leaves alone.
    """

    def reconcile(left, right):  # noqa: ANN001 — pandas-in, pandas-out
        import numpy as np
        import pandas as pd

        def round2(x):
            s = x * 100.0
            r = np.where(x >= 0, np.floor(s + 0.5), np.ceil(s - 0.5))
            return r / 100.0

        # per-line value on the 1e-6 integer grid, summed exactly per
        # order (the relational tier's det_sum rule); lines with no
        # header in this bucket are not this operator's output
        value = right["l_extendedprice"].to_numpy() * (
            1.0 - right["l_discount"].to_numpy()
        )
        s = value * 1e6
        q = np.where(value >= 0, np.floor(s + 0.5), np.ceil(s - 0.5))
        lines = (
            pd.DataFrame({"k": right["l_orderkey"].to_numpy(),
                          "q": q.astype(np.int64)})
            .groupby("k")["q"]
            .agg(["size", "sum"])
            .reindex(left["o_orderkey"].to_numpy(), fill_value=0)
        )
        line_total = round2(lines["sum"].to_numpy(np.int64) / 1e6)
        header_total = round2(left["o_totalprice"].to_numpy(np.float64))
        return pd.DataFrame(
            {
                "o_orderkey": left["o_orderkey"].to_numpy(np.int64),
                "n_lines": lines["size"].to_numpy(np.int64),
                "line_total": line_total,
                "header_total": header_total,
                "delta": round2(header_total - line_total),
            }
        )

    n = parallelism or orders.sparkSession.sparkContext.defaultParallelism
    buckets = n * _BUCKETS_PER_PARTITION

    def bucketed(df: DataFrame, key: str) -> DataFrame:
        b = F.pmod(F.xxhash64(F.col(key).cast("long")), F.lit(buckets))
        return df.withColumn("bucket", b).repartition(n, "bucket")

    return (
        bucketed(orders.select("o_orderkey", "o_totalprice"), "o_orderkey")
        .groupBy("bucket")
        .cogroup(
            bucketed(
                lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
                "l_orderkey",
            ).groupBy("bucket")
        )
        .applyInPandas(reconcile, schema=_OUT_SCHEMA)
    )


@register(
    "cg01_cogroup_reconcile",
    oracle=f"""
    SELECT o.o_orderkey,
           COUNT(l.l_orderkey) AS n_lines,
           COALESCE({sql_det_sum("l.l_extendedprice * (1 - l.l_discount)")},
                    0.0) AS line_total,
           ROUND(o.o_totalprice, 2) AS header_total,
           ROUND(ROUND(o.o_totalprice, 2)
                 - COALESCE({sql_det_sum("l.l_extendedprice * (1 - l.l_discount)")},
                            0.0), 2) AS delta
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def cg01_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-header vs line-sum reconciliation through the cogroup path.

    Plan shape: one hash exchange per side on an order-key bucket, then
    a FlatMapCoGroupsInPandas — the same two-shuffle profile as a
    shuffle join, with Arrow moving each bucket's rows to Python and
    back in columnar batches. Per-call state is one bucket (1/(4n) of
    each input at n partitions), so executor memory grows with input
    size over the partition count. For THIS relational shape the
    join+agg twin (the oracle) is the plan to ship — built-ins stay in
    whole-stage codegen; the cogroup tier exists for logic SQL cannot
    express, and this query pins its correctness against the
    relational answer.
    """
    return cogroup_reconcile(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
