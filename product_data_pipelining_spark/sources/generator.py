"""Distributed deterministic data generation (dbgen/dsdgen-style).

The fixture generator (``synthetic.py``) builds the small oracle
fixtures driver-side; THIS module generates arbitrarily large
reference-shaped tables *on the cluster*: every column is a pure
function of the row id via 64-bit hashing, evaluated inside
whole-stage codegen from ``spark.range`` splits.

Properties the tests pin:

- **Deterministic**: same (n_rows, seed) → the same multiset of rows,
  regardless of partition count, cluster size, or engine version —
  no ``rand()``, whose draw order is partition-dependent.
- **Shuffle-free**: the plan is Range → Project (→ per-order explode
  for line items); generating 100 TB is embarrassingly parallel and
  writes directly to partitioned parquet, no exchange anywhere.
- **Scale-free skew**: value distributions come from modular hashing,
  so relative frequencies hold at any size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_STATUSES = ("O", "F", "P")
_FLAGS = ("N", "R", "A")
_VOCAB = (
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "stream",
    "filter", "group", "column", "join", "query", "data", "order", "small",
    "big", "customer", "vector", "the", "a",
)


def _h(seed: int, *cols: Column) -> Column:
    """64-bit deterministic hash of (seed, cols...)."""
    return F.xxhash64(F.lit(seed), *cols)


def _pick(options: tuple[str, ...], seed: int, *cols: Column) -> Column:
    """Deterministic choice from a literal list."""
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.pmod(_h(seed, *cols), F.lit(len(options))) + 1).cast("int"))


def _unit(seed: int, *cols: Column) -> Column:
    """Deterministic uniform [0, 1) double."""
    return F.pmod(_h(seed, *cols), F.lit(1_000_000)) / F.lit(1_000_000.0)


def generate_orders(
    spark: SparkSession,
    n_rows: int,
    seed: int = 7,
    num_partitions: int | None = None,
    n_customers: int | None = None,
) -> DataFrame:
    """Orders matching the testdata shape: timestamps at midnight over
    1995-01-01..2001-08-01, custkeys dense in [0, n_customers)."""
    parts = num_partitions or spark.sparkContext.defaultParallelism
    oid = F.col("id")
    n_cust = n_customers or max(n_rows // 10, 1)
    return spark.range(0, n_rows, 1, parts).select(
        oid.alias("o_orderkey"),
        F.pmod(_h(seed + 1, oid), F.lit(n_cust)).alias("o_custkey"),
        _pick(_STATUSES, seed + 2, oid).alias("o_orderstatus"),
        F.round(_unit(seed + 3, oid) * 400_000 + 1_000, 2).alias("o_totalprice"),
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            F.pmod(_h(seed + 4, oid), F.lit(2405)).cast("int"),
        ).cast("timestamp_ntz").alias("o_orderdate"),
        _pick(_PRIORITIES, seed + 5, oid).alias("o_orderpriority"),
    )


def generate_lineitem(
    spark: SparkSession,
    n_orders: int,
    seed: int = 7,
    max_lines: int = 7,
    num_partitions: int | None = None,
    n_parts: int | None = None,
    n_suppliers: int | None = None,
) -> DataFrame:
    """1..max_lines line items per order, exploded map-side; part/supp
    keys dense in their dim ranges, shipdates over 1995-01-02..2001-11."""
    parts = num_partitions or spark.sparkContext.defaultParallelism
    oid = F.col("id")
    np_, ns = n_parts or max(n_orders // 5, 1), n_suppliers or max(n_orders // 100, 1)
    n_lines = (F.pmod(_h(seed + 10, oid), F.lit(max_lines)) + 1).cast("int")
    base = spark.range(0, n_orders, 1, parts).select(
        oid.alias("l_orderkey"),
        F.explode(F.sequence(F.lit(1), n_lines)).alias("l_linenumber"),
    )
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    return base.select(
        ok,
        F.pmod(_h(seed + 11, ok, ln), F.lit(np_)).alias("l_partkey"),
        F.pmod(_h(seed + 12, ok, ln), F.lit(ns)).alias("l_suppkey"),
        ln,
        (F.pmod(_h(seed + 13, ok, ln), F.lit(50)) + 1).cast("double").alias("l_quantity"),
        F.round(_unit(seed + 14, ok, ln) * 90_000 + 1_000, 2).alias("l_extendedprice"),
        F.round(_unit(seed + 15, ok, ln) * 0.1, 2).alias("l_discount"),
        F.round(_unit(seed + 16, ok, ln) * 0.08, 2).alias("l_tax"),
        _pick(_FLAGS, seed + 17, ok, ln).alias("l_returnflag"),
        _pick(_STATUSES[:2], seed + 18, ok, ln).alias("l_linestatus"),
        F.date_add(
            F.lit("1995-01-02").cast("date"),
            F.pmod(_h(seed + 19, ok, ln), F.lit(2499)).cast("int"),
        ).cast("timestamp_ntz").alias("l_shipdate"),
    )


def generate_region(spark: SparkSession) -> DataFrame:
    names = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    return spark.createDataFrame(
        list(enumerate(names)), "r_regionkey int, r_name string"
    )


def generate_nation(spark: SparkSession) -> DataFrame:
    return spark.range(0, 25, 1, 1).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
        F.pmod(F.col("id"), F.lit(5)).cast("int").alias("n_regionkey"),
    )


_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def generate_customer(
    spark: SparkSession, n_rows: int, seed: int = 7, num_partitions: int | None = None
) -> DataFrame:
    parts = num_partitions or spark.sparkContext.defaultParallelism
    cid = F.col("id")
    return spark.range(0, n_rows, 1, parts).select(
        cid.alias("c_custkey"),
        F.format_string("Customer#%09d", cid).alias("c_name"),
        F.pmod(_h(seed + 30, cid), F.lit(25)).cast("int").alias("c_nationkey"),
        F.round(_unit(seed + 31, cid) * 11_000 - 1_000, 2).alias("c_acctbal"),
        _pick(_SEGMENTS, seed + 32, cid).alias("c_mktsegment"),
    )


def generate_supplier(
    spark: SparkSession, n_rows: int, seed: int = 7, num_partitions: int | None = None
) -> DataFrame:
    parts = num_partitions or spark.sparkContext.defaultParallelism
    sid = F.col("id")
    return spark.range(0, n_rows, 1, parts).select(
        sid.alias("s_suppkey"),
        F.format_string("Supplier#%09d", sid).alias("s_name"),
        F.pmod(_h(seed + 35, sid), F.lit(25)).cast("int").alias("s_nationkey"),
        F.round(_unit(seed + 36, sid) * 11_000 - 1_000, 2).alias("s_acctbal"),
    )


_P_ADJ = ("large", "hot", "blue", "green", "small", "dim", "red", "cold")
_P_NOUN = ("ring", "bolt", "cap", "disk", "gear", "plate", "rod", "tube")
_P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def generate_part(
    spark: SparkSession, n_rows: int, seed: int = 7, num_partitions: int | None = None
) -> DataFrame:
    parts = num_partitions or spark.sparkContext.defaultParallelism
    pid = F.col("id")
    return spark.range(0, n_rows, 1, parts).select(
        pid.alias("p_partkey"),
        F.concat(
            _pick(_P_ADJ, seed + 40, pid), F.lit(" "), _pick(_P_NOUN, seed + 41, pid)
        ).alias("p_name"),
        F.concat(
            F.lit("Brand#"), (F.pmod(_h(seed + 42, pid), F.lit(25)) + 1)
        ).alias("p_brand"),
        _pick(_P_TYPES, seed + 43, pid).alias("p_type"),
        (F.pmod(_h(seed + 44, pid), F.lit(50)) + 1).cast("int").alias("p_size"),
        F.round(_unit(seed + 45, pid) * 2_000 + 100, 2).alias("p_retailprice"),
    )


_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def generate_events(
    spark: SparkSession,
    n_rows: int,
    n_users: int,
    seed: int = 7,
    num_partitions: int | None = None,
) -> DataFrame:
    """Event stream rows over a 30-day window (micro-precision NTZ
    timestamps; ``io.load_events`` handles both this and the driver
    fixtures' TIMESTAMP(NANOS))."""
    parts = num_partitions or spark.sparkContext.defaultParallelism
    eid = F.col("id")
    base_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros
    span_us = 30 * 86_400 * 1_000_000  # 30 days
    ts_us = base_us + F.pmod(_h(seed + 50, eid), F.lit(span_us))
    return spark.range(0, n_rows, 1, parts).select(
        eid.alias("event_id"),
        F.convert_timezone(
            None, F.lit("UTC"), F.timestamp_micros(ts_us)
        ).alias("ts"),
        F.pmod(_h(seed + 51, eid), F.lit(n_users)).alias("user_id"),
        _pick(_EVENT_TYPES, seed + 52, eid).alias("event_type"),
        F.round(_unit(seed + 53, eid) * 560, 2).alias("value"),
        F.concat(
            F.lit('{"k": '), F.pmod(_h(seed + 54, eid), F.lit(100)), F.lit("}")
        ).alias("props"),
    )


EMBEDDING_DIM = 64


def generate_embeddings(
    spark: SparkSession, n_rows: int, seed: int = 7, num_partitions: int | None = None
) -> DataFrame:
    """float32[64] vectors with components uniform in [-0.5, 0.5)."""
    parts = num_partitions or spark.sparkContext.defaultParallelism
    vid = F.col("id")
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(EMBEDDING_DIM)),
        lambda i: (
            F.pmod(F.xxhash64(F.lit(seed + 60), vid, i), F.lit(1_000_000))
            / F.lit(1_000_000.0)
            - 0.5
        ).cast("float"),
    )
    return spark.range(0, n_rows, 1, parts).select(
        vid.alias("vec_id"),
        emb.alias("embedding"),
        F.pmod(_h(seed + 61, vid), F.lit(10)).cast("int").alias("label"),
    )


def generate_documents(
    spark: SparkSession,
    n_rows: int,
    seed: int = 7,
    min_words: int = 20,
    max_words: int = 60,
    num_partitions: int | None = None,
) -> DataFrame:
    """Word-soup documents: text is a pure function of (doc_id, position).

    ~5% of docs are near-duplicates of their predecessor (same word
    stream truncated by one word), so shingle-based dedup (MinHash/LSH,
    SimHash, n-gram Jaccard) has real work at every scale — random word
    soup alone has no similar pairs and would let the LSH verify stage
    run empty."""
    parts = num_partitions or spark.sparkContext.defaultParallelism
    did = F.col("id")
    is_dup = (F.pmod(_h(seed + 24, did), F.lit(20)) == 0) & (did > 0)
    base = F.when(is_dup, did - 1).otherwise(did)
    n_words = (
        F.pmod(_h(seed + 20, base), F.lit(max_words - min_words + 1)) + min_words
        - F.when(is_dup, 1).otherwise(0)
    ).cast("int")
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab,
            (F.pmod(F.xxhash64(F.lit(seed + 21), base, i), F.lit(len(_VOCAB))) + 1).cast(
                "int"
            ),
        ),
    )
    text = F.array_join(words, " ")
    return spark.range(0, n_rows, 1, parts).select(
        did.alias("doc_id"),
        text.alias("text"),
        _pick(("en", "de", "fr", "es"), seed + 22, did).alias("lang"),
        _pick(("web", "books", "code", "wiki"), seed + 23, did).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


# --- full scale-factor directory (the sf1+ probe path) -----------------------

# rows per unit scale factor, anchored to the driver's testdata
# (sf0.1 counts x 10); region/nation are fixed-size dims
SF_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,  # lineitem = 1..7 lines/order => ~4x orders
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
SF_USERS = 15_000  # distinct event users per unit sf


def generate_scale(
    spark: SparkSession,
    out_dir: str,
    sf: float,
    seed: int = 7,
    num_partitions: int | None = None,
) -> dict[str, int]:
    """Write a complete testdata-shaped directory at scale factor ``sf``.

    Each table lands as a parquet *directory* named ``<table>.parquet``
    (the layout a cluster writes naturally — many splits, parallel read);
    ``io.load_table`` and ``bench.py`` accept both files and directories.
    Generation is shuffle-free (Range -> Project per table), so wall
    time scales with rows/cores and nothing collects on the driver.
    Returns {table: rows written}.
    """
    n = {t: max(int(r * sf), 1) for t, r in SF_ROWS.items()}
    frames = {
        "region": generate_region(spark),
        "nation": generate_nation(spark),
        "customer": generate_customer(spark, n["customer"], seed, num_partitions),
        "supplier": generate_supplier(spark, n["supplier"], seed, num_partitions),
        "part": generate_part(spark, n["part"], seed, num_partitions),
        "orders": generate_orders(
            spark, n["orders"], seed, num_partitions, n_customers=n["customer"]
        ),
        "lineitem": generate_lineitem(
            spark, n["orders"], seed,
            num_partitions=num_partitions,
            n_parts=n["part"], n_suppliers=n["supplier"],
        ),
        "events": generate_events(
            spark, n["events"], max(int(SF_USERS * sf), 1), seed, num_partitions
        ),
        "documents": generate_documents(
            spark, n["documents"], seed, num_partitions=num_partitions
        ),
        "embeddings": generate_embeddings(
            spark, n["embeddings"], seed, num_partitions
        ),
    }
    import os

    counts = {}
    for t, df in frames.items():
        path = os.path.join(out_dir, f"{t}.parquet")
        df.write.mode("overwrite").parquet(path)
        counts[t] = spark.read.parquet(path).count()
    return counts


if __name__ == "__main__":  # pragma: no cover — CLI for the scale probe
    import argparse
    import json as _json
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[2]))
    from product_data_pipelining_spark.session import TIERED_JIT, get_spark

    ap = argparse.ArgumentParser(description="generate a sf directory")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int,
                    help="cores (default: session.DEFAULT_CPUS)")
    args = ap.parse_args()
    # per-row work (6M lineitem rows at sf1): C2 pays back here
    s = get_spark(app_name="pdp-generate", cpus=args.cpus, extra_conf=TIERED_JIT)
    print(_json.dumps(generate_scale(s, args.out, args.sf)))
    s.stop()
