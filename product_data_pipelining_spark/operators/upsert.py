"""Upsert / keyed-dedup operators (SURVEY.md §2.1 S5/S6/S9).

The reference enforces primary keys with DuckDB ``INSERT OR REPLACE``
(``portfolio_app/scripts/main_pipeline.py:326-352,420-435``). Spark's
immutable storage has no PK enforcement, so the engine provides
last-writer-wins semantics as one deterministic ranking window,
:func:`upsert_last_writer_wins`:

    row_number() OVER (PARTITION BY pk
                       ORDER BY version DESC, <every other column> DESC) = 1

Every keyed upsert uses it: the pipeline load, the parquet upsert
targets (over stored rows tagged below incoming ones) and the Delta
target's source dedup. The targets replace files with the stage-and-swap
in :mod:`..io` (:func:`..io.write_swapped`, :func:`..io.heal_stage`).
At 100 TB the window shuffles once on the PK hash — the same shuffle a
MERGE would do — and AQE splits skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import (
    STAGE_SUFFIX,
    hadoop_fs,
    heal_stage,
    load_table,
    swap_stage,
    write_swapped,
)
from ..functions.rounding import duck_round
from ..registry import register

_SRC = "__pdp_src__"
_RN = "__pdp_rn__"


def _contains_map(dt) -> bool:
    """True if ``dt`` holds a MapType at any nesting depth.

    Spark refuses to sort map-typed expressions, and that includes maps
    buried inside arrays or structs (``array<map<..>>`` raises the same
    AnalysisException as a top-level map) — so the tiebreak ordering must
    exclude them wherever they hide.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def upsert_last_writer_wins(
    df: DataFrame, keys: Sequence[str], version_col: str
) -> DataFrame:
    """Keep exactly one row per key: highest ``version_col`` wins.

    Deterministic replacement for ``INSERT OR REPLACE`` — equivalent to
    replaying inserts in ``version_col`` order (``main_pipeline.py:347``,
    where later fetches replace earlier rows). On a version tie the row
    that is greater on every other orderable column, taken in column
    order, wins, so the kept row is a function of the data, not of task
    scheduling (SURVEY §2.9: dropDuplicates is arbitrary-winner, so we
    never use it for upserts). Columns holding a map at any depth cannot
    be sorted and are left out of the tie order.
    """
    rest = [
        F.col(f.name).desc()
        for f in df.schema.fields
        if f.name not in (*keys, version_col) and not _contains_map(f.dataType)
    ]
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc(), *rest)
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def merge_upsert(existing: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Batch MERGE emulation: updates replace matching keys, others kept.

    Plain-Parquet equivalent of Delta ``MERGE`` for full-snapshot rebuilds
    (the reference's dbt ``--full-refresh`` world, SURVEY §2.9).
    """
    existing_only = existing.join(updates.select(*keys).distinct(), list(keys), "left_anti")
    return existing_only.unionByName(updates)


def _reject_reserved(updates: DataFrame, *names: str) -> None:
    for c in (_SRC, _RN, *names):
        if c in updates.columns:
            raise ValueError(f"upsert: input must not contain reserved column {c!r}")


def _merged(
    existing: "DataFrame | None",
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str,
) -> DataFrame:
    """:func:`upsert_last_writer_wins` over the stored and incoming rows.
    A source flag leads the tie columns, so an update beats a stored row
    of the same version (a replayed batch re-applies idempotently)."""
    rows = updates.select(F.lit(1).alias(_SRC), "*")
    if existing is not None:
        rows = existing.select(F.lit(0).alias(_SRC), "*").unionByName(rows)
    return upsert_last_writer_wins(rows, keys, version_col).drop(_SRC)


class UpsertTarget:
    """Storage seam for keyed upserts (reference ``INSERT OR REPLACE``,
    ``main_pipeline.py:326-352,420-435``).

    ``merge(updates, keys, version_col)`` applies last-writer-wins into
    the target: the row with the highest ``version_col`` per key
    survives; on version ties the incoming update beats the stored row
    (so a replayed batch re-applies idempotently). Implementations:

    - :class:`ParquetUpsertTarget` — plain-Parquet stand-in: read the
      target, rank with :func:`upsert_last_writer_wins`, stage-and-swap
      rewrite. Correct anywhere, but every merge rewrites the full
      target; fine for marts and tests, wrong for a 100 TB fact table.
    - :class:`DeltaUpsertTarget` — the 100 TB path: a transactional
      ``MERGE INTO`` that rewrites only the files containing matched
      keys. Requires the ``delta-spark`` package + Delta-enabled
      session (not installed in this container; the class import-gates
      and raises a clear error).

    The streaming sink (``streaming.stateful.foreach_batch_upsert``)
    drives whichever target it is given, so switching a pipeline from
    parquet to Delta is a one-line target swap, not a rewrite.
    """

    def read(self) -> "DataFrame | None":
        """Current target contents, or None if the target doesn't exist."""
        raise NotImplementedError

    def merge(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        version_col: str,
    ) -> None:
        raise NotImplementedError


class ParquetUpsertTarget(UpsertTarget):
    """Plain-Parquet upsert with a crash-safe full rewrite.

    Every merge writes the merged table through :func:`..io.write_swapped`
    (the target is never a write destination, so a mid-write death leaves
    it intact), and :meth:`read` first promotes a stage orphaned by a
    death between the swap's delete and rename (:func:`..io.heal_stage`).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> "DataFrame | None":
        if not heal_stage(self.spark, self.path):
            return None
        return self.spark.read.parquet(self.path)

    def merge(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        version_col: str,
    ) -> None:
        _reject_reserved(updates)
        write_swapped(_merged(self.read(), updates, keys, version_col), self.path)


class DeltaUpsertTarget(UpsertTarget):
    """Transactional ``MERGE INTO`` upsert on a Delta Lake table.

    The production implementation of the seam: Delta's MERGE rewrites
    only the files containing matched keys (plus a transaction-log
    commit), so merge cost scales with the update batch, not the
    target — the property the parquet stand-in lacks at 100 TB.
    Requires ``delta-spark`` and a Delta-enabled SparkSession
    (``spark.sql.extensions`` + catalog config); neither ships in this
    container, so construction raises ``ImportError`` with the recipe.
    """

    def __init__(self, spark: SparkSession, path: str):
        self._delta_table()  # fail fast with the install recipe
        self.spark = spark
        self.path = path

    def _delta_table(self):
        """IO seam: the DeltaTable entry point.

        Overridable so the merge-builder logic below (predicate
        assembly, source dedup, builder-chain order) is executable
        against a contract fake where delta-spark cannot be installed
        (see tests/test_pipeline.py::test_delta_merge_builder_contract).
        """
        try:
            from delta.tables import DeltaTable
        except ImportError as exc:
            raise ImportError(
                "DeltaUpsertTarget requires the delta-spark package and a "
                "session built with spark.sql.extensions="
                "io.delta.sql.DeltaSparkSessionExtension and "
                "spark.sql.catalog.spark_catalog="
                "org.apache.spark.sql.delta.catalog.DeltaCatalog"
            ) from exc
        return DeltaTable

    def _write_initial(self, df: DataFrame) -> None:  # pragma: no cover
        df.write.format("delta").save(self.path)

    def _load(self) -> DataFrame:  # pragma: no cover — needs delta
        return self.spark.read.format("delta").load(self.path)

    def read(self) -> "DataFrame | None":
        if not self._delta_table().isDeltaTable(self.spark, self.path):
            return None
        return self._load()

    def merge(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        version_col: str,
    ) -> None:
        dt = self._delta_table()
        if not dt.isDeltaTable(self.spark, self.path):
            # first write creates the table; dedup the batch itself
            self._write_initial(
                upsert_last_writer_wins(updates, keys, version_col)
            )
            return
        # newest-version-per-key view of the incoming batch, so the
        # MERGE source has at most one row per key (MERGE requirement)
        src = upsert_last_writer_wins(updates, keys, version_col)
        cond = " AND ".join(f"t.{k} = u.{k}" for k in keys)
        (
            dt.forPath(self.spark, self.path)
            .alias("t")
            .merge(src.alias("u"), cond)
            .whenMatchedUpdateAll(f"u.{version_col} >= t.{version_col}")
            .whenNotMatchedInsertAll()
            .execute()
        )


class BucketedParquetUpsertTarget(UpsertTarget):
    """Partition-pruned parquet MERGE: rewrite only the buckets that
    contain matched keys — merge cost scales with the UPDATE BATCH's
    key spread, not with the target size.

    This is the no-extra-dependency answer to Delta's file-pruning
    MERGE (VERDICT round-5 "missing" #2): the target is laid out as
    ``path/__pdp_bucket__=K/`` directory partitions keyed on
    ``pmod(xxhash64(keys), n_buckets)``, so

    - an incoming batch names its affected buckets exactly (a distinct
      over a derived column, collected — bounded by ``n_buckets``,
      never by data);
    - the existing side of the merge reads ONLY those directories
      (partition pruning — ``PartitionFilters`` in the scan, untouched
      buckets are never opened);
    - the rewrite stages ONLY those buckets and swaps them one
      directory at a time (:func:`..io.swap_stage`).

    Crash protocol (documented tradeoff vs a transaction log: the swap
    loop is per-bucket atomic, not all-or-nothing): a stage dir is
    complete iff Spark's ``_SUCCESS`` marker exists. Every merge/read
    first heals: if a complete stage exists, re-run its bucket swaps
    and remove the stage; an incomplete stage is discarded (the target
    was never touched). A merge's own swaps are that same heal, run
    right after the stage is written. A crash mid-swap leaves some
    buckets new and some old — the heal path restores consistency;
    readers in the window see a torn-but-valid parquet table, which is
    exactly the guarantee plain parquet can offer without a log.

    At 100 TB with n_buckets sized so a bucket ~= a few GB, a 1%-spread
    batch rewrites ~1% of the table; the same layout co-locates
    merge-key joins (the write IS the bucketing pass).
    """

    _BUCKET = "__pdp_bucket__"

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 64):
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_buckets = n_buckets
        self._stage = self.path + STAGE_SUFFIX

    def _exists(self, path: str) -> bool:
        fs, hpath = hadoop_fs(self.spark, path)
        return fs.exists(hpath)

    def _bucket_col(self, keys: Sequence[str]) -> F.Column:
        parts = [F.col(k).cast("string") for k in keys]
        return F.pmod(
            F.xxhash64(F.concat_ws("\x1f", *parts)), F.lit(self.n_buckets)
        ).cast("int")

    def _heal(self) -> None:
        """Finish (swap every bucket in) or discard the stage directory."""
        fs, hstage = hadoop_fs(self.spark, self._stage)
        if not fs.exists(hstage):
            return
        if self._exists(self._stage + "/_SUCCESS"):
            fs.mkdirs(hadoop_fs(self.spark, self.path)[1])
            for st in fs.listStatus(hstage):
                name = st.getPath().getName()
                if name.startswith(self._BUCKET + "="):
                    swap_stage(
                        self.spark, f"{self._stage}/{name}", f"{self.path}/{name}"
                    )
        fs.delete(hstage, True)  # done, or incomplete (target untouched)

    # -- UpsertTarget --------------------------------------------------
    def read(self) -> "DataFrame | None":
        self._heal()
        fs, hpath = hadoop_fs(self.spark, self.path)
        if not fs.exists(hpath):
            return None
        names = [st.getPath().getName() for st in fs.listStatus(hpath)]
        if not any(n.startswith(self._BUCKET + "=") for n in names):
            return None  # dir exists but holds no bucket partitions yet
        return self.spark.read.parquet(self.path).drop(self._BUCKET)

    def _read_buckets(self, buckets: Sequence[int]) -> "DataFrame | None":
        paths = [f"{self.path}/{self._BUCKET}={b}" for b in buckets]
        existing = [p for p in paths if self._exists(p)]
        if not existing:
            return None
        # basePath keeps the partition column in scope while the path
        # list prunes to exactly the affected directories — no other
        # bucket's files are even listed
        return (
            self.spark.read.option("basePath", self.path)
            .parquet(*existing)
            .drop(self._BUCKET)
        )

    def merge(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        version_col: str,
    ) -> None:
        _reject_reserved(updates, self._BUCKET)
        self._heal()
        updates = updates.withColumn(self._BUCKET, self._bucket_col(keys))
        # bounded by n_buckets (a layout constant), never by batch size
        affected = sorted(
            r[0]
            for r in updates.select(self._BUCKET).distinct().collect()
        )
        if not affected:
            return
        merged = _merged(
            self._read_buckets(affected),
            updates.drop(self._BUCKET),
            keys,
            version_col,
        ).withColumn(self._BUCKET, self._bucket_col(keys))
        (
            merged.write.mode("overwrite")
            .partitionBy(self._BUCKET)
            .parquet(self._stage)
        )
        self._heal()  # swaps each written bucket into the target


@register(
    "s05_upsert_last_writer_wins",
    oracle="""
    SELECT user_id, event_type, event_id AS latest_event_id,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS latest_ts,
           ROUND(value, 2) AS latest_value
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def s05_upsert_last_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6: upsert as last-writer-wins on a composite key.

    Treats the events stream as an upsert feed keyed on
    (user_id, event_type): the newest row (by ts, event_id tiebreak)
    replaces all earlier ones — exactly what replaying the reference's
    ``INSERT OR REPLACE`` (``main_pipeline.py:420-435``) would leave.
    """
    ev = load_table(spark, sf_dir, "events")
    # ts ties are possible in the synthetic feed — event_id desc as tiebreak
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    latest = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return latest.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("latest_event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("latest_ts"),
        duck_round("value", 2).alias("latest_value"),
    )


@register(
    "s09_first_seen_dedup",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber ASC, l_partkey ASC, l_suppkey ASC,
                        l_quantity ASC) AS rn
      FROM lineitem
    )
    WHERE rn = 1
    """,
)
def s09_first_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: deterministic first-seen-wins dedup.

    Reference: ``main_pipeline.py:184,206-209`` — a Python set keeps the
    first location seen per id across zip queries. The Spark analog uses
    an explicit stable ordering (lowest l_linenumber per order), never
    ``dropDuplicates`` whose winner is partition-order-dependent.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # the feed contains duplicate (orderkey, linenumber) rows — the extra
    # keys make the ordering total, so the winner is reproducible
    w = Window.partitionBy("l_orderkey").orderBy(
        F.asc("l_linenumber"), F.asc("l_partkey"), F.asc("l_suppkey"),
        F.asc("l_quantity"),
    )
    return (
        li.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    )


@register(
    "s06_merge_upsert",
    oracle="""
    WITH existing AS (
      SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
      FROM events WHERE event_id % 3 != 0
    ),
    updates AS (
      SELECT event_id, user_id, event_type, ROUND(value * 2, 2) AS value
      FROM events WHERE event_id % 5 = 0
    )
    SELECT e.* FROM existing e
    LEFT JOIN (SELECT DISTINCT event_id FROM updates) u
      ON e.event_id = u.event_id
    WHERE u.event_id IS NULL
    UNION ALL
    SELECT * FROM updates
    """,
)
def s06_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: batch MERGE emulation — updates replace matches, others kept.

    The plain-Parquet equivalent of Delta ``MERGE WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT`` (reference ``INSERT OR REPLACE``,
    ``main_pipeline.py:420-435``): an anti-join drops the matched
    existing rows, then the update set unions in. One shuffle on the
    key; at scale the anti-join broadcasts whenever the update batch is
    small — the common case for incremental loads.
    """
    ev = load_table(spark, sf_dir, "events")
    existing = ev.filter(F.col("event_id") % 3 != 0).select(
        "event_id", "user_id", "event_type", duck_round("value", 2).alias("value")
    )
    updates = ev.filter(F.col("event_id") % 5 == 0).select(
        "event_id",
        "user_id",
        "event_type",
        duck_round(F.col("value") * 2, 2).alias("value"),
    )
    return merge_upsert(existing, updates, ["event_id"])
