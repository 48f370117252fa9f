"""Table IO: scans over the driver-provided parquet star schema.

Mirrors the reference's scan layer (DuckDB table scans,
``/root/reference/portfolio_app/app.py:63-70``) with Spark parquet scans.
Loads are lazy; Catalyst pushes filters/projections into the scan
(``PushedFilters`` / ``ReadSchema`` in ``.explain``), which is the Spark
analog of DuckDB's zone-map + projection pushdown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# below this input size a repartition buys nothing for scan-light queries —
# compute-heavy operators pass force=True instead
_MIN_HEAL_BYTES = 1024 * 1024

# per-task hash-build budget for the shuffle_hash hint: SHJ builds are
# unspillable, so past ~256 MiB/partition the spillable SortMergeJoin is
# the safer default (see broadcast_or_shuffle_hash)
SHJ_TASK_BUDGET_BYTES = 256 * 1024 * 1024
# Skew margin on the uniform-keys per-task estimate (r7 ADVICE): a 4x
# hot key still fits the unspillable SHJ build; hotter than that and
# the hint is withheld in favor of spillable SMJ.
SHJ_SKEW_HEADROOM = 4


def parallelize_scan(df: DataFrame, force: bool = False) -> DataFrame:
    """Heal degenerate scan parallelism.

    Parquet splits at row-group boundaries; a file written as one big row
    group (or a directory of a few small files) scans as 1-3 partitions
    no matter how many cores exist, serializing all downstream compute.
    When the scan has fewer partitions than the cluster's parallelism,
    add a round-robin repartition. Filters and column pruning still reach
    the scan (Catalyst pushes them through Repartition — verified via
    ``PushedFilters`` in the physical plan).

    At production scale this is a no-op: a 100 TB table scans as
    thousands of splits, which already exceeds ``defaultParallelism``.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if not force:
        try:
            size = sum(
                os.path.getsize(f.removeprefix("file:"))
                for f in df.inputFiles()
            )
        except OSError:  # non-local storage — let the caller force if needed
            return df
        if size < _MIN_HEAL_BYTES:
            return df
    return df.repartition(target)


# Hot-table serving mode (SPARK_GRAFT_CACHE_TABLES=1): keep each base
# table as an in-memory columnar cache, repartitioned once at
# materialization so a single-row-group file stops serializing every
# downstream consumer onto one core. This is the standard Spark serving
# posture for a repeatedly-queried warehouse; it is opt-in so tests
# exercise the cold plans (predicate pushdown, scan parallelism) the
# 100 TB path relies on.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


# only spread a cached table across the cluster when it is big enough
# that single-partition compute would dominate; smaller tables stay one
# cached partition so trivial consumers don't pay 32-task scheduling
_CACHE_SPREAD_BYTES = 2 * 1024 * 1024

# Serving layout: hash-cluster each hot fact table on its natural key —
# the in-memory analog of a bucketed table. Windows, groupBys, and
# joins whose keys start with the cluster key inherit the partitioning
# (HashPartitioning(k) satisfies ClusteredDistribution(k, ...)), so
# sessionization / upsert / per-order rollups run exchange-free. The
# keys are high-cardinality and uniform, so load balance matches
# round-robin.
_SERVING_CLUSTER_KEYS: dict[str, tuple[str, ...]] = {
    "events": ("user_id",),
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "documents": ("doc_id",),
}


def _table_bytes(path: str) -> int:
    """On-disk bytes of a parquet table that may be a single file OR a
    directory of part files (generated SFs) — ``os.path.getsize`` on a
    directory returns the inode size (~4 KiB), which silently disabled
    the serving-cache cluster repartition for every multi-file table."""
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(path)
                for f in files
                if not f.startswith((".", "_"))
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def _cached(spark: SparkSession, sf_dir: str, name: str, df: DataFrame) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _TABLE_CACHE.get(key)
    if hit is not None:
        return hit
    sc = spark.sparkContext
    size = _table_bytes(os.path.join(sf_dir, f"{name}.parquet"))
    cluster = _SERVING_CLUSTER_KEYS.get(name)
    # cluster at the session's shuffle-partition count, not core count:
    # a groupBy/join over the cached table shuffles to shuffle.partitions,
    # and a count mismatch (e.g. bench's data-sized 28 vs 32 cores) makes
    # EnsureRequirements re-exchange an already-clustered side just to
    # align partition counts.
    try:
        n_parts = int(str(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        n_parts = sc.defaultParallelism
    # Key-clustering is NOT size-gated: its payoff is removing the
    # per-query Exchange every key-partitioned consumer (windows,
    # groupBys, joins on the cluster key) would otherwise pay — a plan-
    # structure win independent of table size. The size floor only
    # gates the keyless round-robin spread, whose sole benefit is
    # parallelism (r12: events.parquet at sf0.1 sat 2.5% under the
    # floor, so every sessionize/upsert window ran its first stage on
    # one core and re-shuffled what the serving cache should have
    # pre-clustered).
    if cluster:
        df = df.repartition(n_parts, *cluster)
    elif size >= _CACHE_SPREAD_BYTES and df.rdd.getNumPartitions() < n_parts:
        df = df.repartition(n_parts)
    df = df.cache()
    _TABLE_CACHE[key] = df
    return df


def broadcast_if_small(df: DataFrame, *base: DataFrame) -> DataFrame:
    """Size-aware broadcast hint for DERIVED relations.

    Catalyst broadcasts base parquet relations from file-level stats
    automatically, but a join/projection OUTPUT gets a multiplied size
    estimate that overshoots the threshold even when the true size is
    tiny — while a hard ``F.broadcast`` hint overrides sizes entirely
    and OOMs/regresses when the data grows (the sf5 probe measured q5's
    hinted 750k-row customer broadcast at ~10x the sf1 wall-time).
    Middle path: hint ``df`` only when the *base* relations it derives
    from (whose stats ARE file-accurate) sum under the session's
    ``autoBroadcastJoinThreshold``; otherwise return it unhinted and
    let the planner (or AQE at runtime) choose from real sizes.
    """
    import re as _re

    from pyspark.sql import functions as F

    spark = df.sparkSession
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    digits = _re.sub(r"[^0-9-]", "", raw) or "10485760"
    threshold = int(digits)
    if threshold < 0:  # broadcast disabled session-wide
        return df
    total = 0
    for rel in base:
        total += int(
            str(rel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    return F.broadcast(df) if total <= threshold else df


def broadcast_or_shuffle_hash(df: DataFrame, *base: DataFrame) -> DataFrame:
    """Size-aware build-side hint: broadcast while small, hash when not.

    Same base-relation size test as :func:`broadcast_if_small`, but past
    the threshold the relation is hinted ``shuffle_hash`` instead of
    left unhinted: the planner's default past-broadcast choice is
    SortMergeJoin, which sorts BOTH sides — for a narrow build side that
    comfortably fits a task's memory (dimension enrichments, pre-
    aggregated fact keys), building a per-partition hash table and
    streaming the probe side unsorted is strictly cheaper.

    ShuffledHashJoin's build side CANNOT SPILL — if the fits-in-a-task
    claim fails (skewed key, underestimated build relation) the task
    OOMs instead of degrading, and AQE skew splitting does not protect
    the in-memory hash build. So past the broadcast threshold a second
    guard runs: the hint is applied only while the estimated
    *per-partition* build size (base bytes / shuffle partitions) stays
    under ``SHJ_TASK_BUDGET_BYTES``; beyond that the relation is
    returned unhinted and the planner's SortMergeJoin — which spills —
    takes over. A broadcast-eligible df never reaches the hint, so
    small-SF plans keep their BroadcastHashJoin shape.
    """
    from pyspark.sql import functions as F

    hinted = broadcast_if_small(df, *base)
    if hinted is not df:  # broadcast hint applied
        return hinted
    spark = df.sparkSession
    try:
        parts = int(str(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    except (TypeError, ValueError):
        # 'auto' (or any non-numeric session value) gives no honest
        # per-task estimate — fall through to spillable SMJ
        return df
    total = 0
    for rel in base:
        total += int(
            str(rel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    # total/parts assumes uniform keys; a skewed build key concentrates
    # more than its share in one task and the SHJ build cannot spill,
    # so budget with headroom: only hint SHJ while even a task holding
    # SHJ_SKEW_HEADROOM x its uniform share stays inside the budget.
    per_task = total / parts if parts > 0 else float("inf")
    if per_task * SHJ_SKEW_HEADROOM > SHJ_TASK_BUDGET_BYTES:
        return df  # build side may not fit a task: let SMJ (spillable) run
    return df.hint("shuffle_hash")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, heal: bool = False
) -> DataFrame:
    """Lazy parquet scan of one testdata table.

    ``heal=True`` (or wrapping with :func:`parallelize_scan`) is for
    compute-bound consumers only: at small SF the round-robin shuffle
    costs more than the parallelism buys for scan-light aggregations.

    ``events.parquet`` carries TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; it is read via :func:`load_events` instead.
    """
    cache = os.environ.get("SPARK_GRAFT_CACHE_TABLES") == "1"
    if name == "events":
        df = load_events(spark, sf_dir)
        return _cached(spark, sf_dir, name, df) if cache else df
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if cache:
        return _cached(spark, sf_dir, name, df)
    return parallelize_scan(df) if heal else df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with nano timestamps normalized to microsecond NTZ.

    Parquet TIMESTAMP(NANOS, isAdjustedToUTC=false) predates Spark's type
    system; the legacy conf reads the raw int64 nanos, which we truncate
    to microseconds (integer division — the values exceed double
    precision) and rebuild as TIMESTAMP_NTZ so semantics match engines
    that read nanos natively (e.g. DuckDB after CAST(ts AS TIMESTAMP)).
    ``ts_us`` (epoch microseconds) is kept for exact interval arithmetic.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts_us", F.expr("ts DIV 1000")).withColumn(
            "ts",
            F.convert_timezone(
                None, F.lit("UTC"), F.timestamp_micros(F.col("ts_us"))
            ),
        )
    else:  # a future driver may rewrite the file at micro precision
        df = df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All testdata tables as lazy DataFrames, keyed by name."""
    return {t: load_table(spark, sf_dir, t) for t in TPCH_TABLES}


def write_table(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet writer — the storage-layout half of scale.

    ``partition_by`` columns become directory partitions, so downstream
    filters on them prune whole directories before any IO
    (``PartitionFilters`` in the scan). ``sort_by`` sorts within each
    output file, tightening parquet min/max zone maps for row-group
    skipping on range predicates. Both are no-ops semantically; they
    exist purely to make the 100 TB read path cheap.
    """
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_written(df: DataFrame, path: str) -> DataFrame:
    """The parquet table ``df`` was just written to at ``path``, read
    back with ``df``'s schema.

    Inferring the schema would run a Spark job to read a file footer;
    the writer's schema is the footer's, and the reader makes every
    column nullable as inference does, so both reads give the same
    frame."""
    return df.sparkSession.read.schema(df.schema).parquet(path)


def write_format(df: DataFrame, path: str, fmt: str, mode: str = "overwrite") -> None:
    """Sink to any lake interchange format (parquet / json / csv / orc).

    The reference's DuckDB profile loads the ``parquet``/``json``/``s3``
    extensions (``.dbt/profiles.yml:6-9``); here every format is a
    one-line writer swap over the same DataFrame plan. CSV keeps a
    header; JSON is JSONL (one object per line), the splittable layout
    streams and bulk loads both read.
    """
    w = df.write.mode(mode)
    if fmt == "csv":
        w = w.option("header", "true")
    w.format(fmt).save(path)


def read_format(spark: SparkSession, path: str, fmt: str, schema) -> DataFrame:
    """Source from json/csv/parquet/orc with an EXPLICIT schema.

    Schema-on-read inference costs a full extra pass and silently
    drifts types between files; production scans always pin the
    StructType (the reference declares DDL for every raw table the same
    way, ``main_pipeline.py:281-322``).
    """
    r = spark.read.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true")
    return r.format(fmt).load(path)


# widenings that lose nothing; anything else must be migrated explicitly
_SAFE_WIDENINGS = {
    ("integer", "long"), ("short", "integer"), ("short", "long"),
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("float", "double"), ("integer", "double"), ("long", "double"),
    ("date", "timestamp"), ("date", "timestamp_ntz"),
}


def read_with_evolution(
    spark: SparkSession,
    path: str,
    target_schema,
    renames: "dict[str, str] | None" = None,
) -> DataFrame:
    """Read parquet written under OLDER schema versions into the current
    contract — the read-side half of schema evolution.

    A 100 TB table accretes years of files; rewriting them on every
    contract change is a full-table IO bill, so evolution happens at
    scan time instead:

    - columns added since a file was written → typed NULLs,
    - columns dropped from the contract → pruned (never scanned),
    - ``renames`` maps old physical names to current ones,
    - type changes are applied ONLY when lossless (int→long,
      float→double, date→timestamp, ...); a narrowing raises here, at
      plan time, instead of silently truncating rows somewhere on an
      executor.

    Files written under different schemas are unioned by Spark's
    parquet reader with ``mergeSchema`` (footer-level reconciliation),
    then projected onto ``target_schema`` column-for-column, so the
    result is indistinguishable from a table written natively under the
    current contract.
    """
    from pyspark.sql import functions as F

    renames = renames or {}
    raw = spark.read.option("mergeSchema", "true").parquet(path)
    have = {f.name: f.dataType for f in raw.schema.fields}
    cols = []
    for field in target_schema.fields:
        src = renames.get(field.name, field.name)
        if src not in have:
            cols.append(
                F.lit(None).cast(field.dataType).alias(field.name)
            )
            continue
        cur = have[src]
        if cur == field.dataType:
            cols.append(F.col(src).alias(field.name))
            continue
        pair = (cur.typeName(), field.dataType.typeName())
        if pair in _SAFE_WIDENINGS:
            cols.append(F.col(src).cast(field.dataType).alias(field.name))
            continue
        raise TypeError(
            f"schema evolution: column {src!r} is {cur.simpleString()} on "
            f"disk but {field.dataType.simpleString()} in the target — "
            "not a lossless widening; migrate the files explicitly"
        )
    return raw.select(*cols)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: tuple[str, ...],
    num_buckets: int,
    sort_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed-table writer — co-located joins without a runtime shuffle.

    Hash-bucketing both sides of a recurring big⋈big join on the join
    key (e.g. lineitem ⋈ orders on orderkey) fixes each key's bucket at
    WRITE time, so every later join or groupBy on that key reads
    bucket-aligned splits and skips the exchange entirely — the on-disk
    analog of the in-memory clustered cache above, and the single
    biggest shuffle eliminator for a 100 TB fact-to-fact join that runs
    daily. ``sort_by`` additionally pre-sorts within buckets, letting
    sort-merge join skip its sort. Bucketed tables must go through the
    session catalog (``saveAsTable``) so readers see the bucket spec.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, *bucket_by
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


# Suffix of the sibling directory a table is staged in before it replaces
# the table. The benchmark's span names strip it (``snap_<table>__new``).
STAGE_SUFFIX = "__new"


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop API, so every
    scheme Spark can read works."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def swap_stage(spark: SparkSession, stage: str, path: str) -> None:
    """Replace ``path`` with ``stage``: delete the target, rename the stage
    into place. A death between the two leaves only the stage, which
    :func:`heal_stage` promotes; a failed rename keeps the stage too."""
    fs, hpath = hadoop_fs(spark, path)
    fs.delete(hpath, True)
    if not fs.rename(hadoop_fs(spark, stage)[1], hpath):
        raise IOError(f"rename {stage} -> {path} failed; the stage is kept")


def heal_stage(spark: SparkSession, path: str) -> bool:
    """Promote the stage a swap orphaned when it died after deleting
    ``path``; a stage without Spark's ``_SUCCESS`` marker is a write that
    died and is deleted instead. Returns whether ``path`` exists
    afterwards."""
    fs, hpath = hadoop_fs(spark, path)
    stage = path + STAGE_SUFFIX
    hstage = hadoop_fs(spark, stage)[1]
    if not fs.exists(hpath) and fs.exists(hstage):
        if fs.exists(hadoop_fs(spark, stage + "/_SUCCESS")[1]):
            swap_stage(spark, stage, path)
        else:
            fs.delete(hstage, True)
    return fs.exists(hpath)


def write_swapped(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
) -> None:
    """Replace the table at ``path`` with ``df``: :func:`write_table` to
    the stage, then :func:`swap_stage`. The target is never a write
    destination, so a death while writing leaves it intact."""
    write_table(df, path + STAGE_SUFFIX, partition_by, sort_by)
    swap_stage(df.sparkSession, path + STAGE_SUFFIX, path)


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """File-level layout stats for a parquet table directory.

    Lists data files recursively through the Hadoop FileSystem API (the
    same listing the scan planner does), skipping commit markers. The
    numbers that matter for a 100 TB table's health: ``n_files`` (driver
    listing + task-scheduling overhead scales with it), ``total_bytes``,
    and ``max_file_bytes``/``min_file_bytes`` spread (skewed splits).
    """
    fs, hpath = hadoop_fs(spark, path)
    root = hpath.toUri().getPath()
    sizes = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        # skip commit markers AND anything under a hidden dir (e.g. the
        # files inside a streaming sink's _spark_metadata log, whose own
        # names carry no underscore)
        rel = st.getPath().toUri().getPath()[len(root):].lstrip("/")
        if any(part.startswith(("_", ".")) for part in rel.split("/")):
            continue
        sizes.append(st.getLen())
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "max_file_bytes": max(sizes) if sizes else 0,
        "min_file_bytes": min(sizes) if sizes else 0,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
) -> dict:
    """Rewrite a fragmented parquet table into target-sized files.

    The maintenance half of the 100 TB story: streaming micro-batches,
    per-task writers, and fine-grained upserts all leave tables as
    thousands of KB-scale files, and from then on every scan pays a
    per-file open/footer-read plus a driver listing proportional to file
    count. This job reads the table once, repartitions to
    ``ceil(total_bytes / target)`` output slices, optionally re-sorts
    within files (restoring min/max zone-map locality that incremental
    appends destroy), and swaps the rewrite into place with
    :func:`write_swapped`, the stage-and-swap every table replacement
    uses. It starts with :func:`heal_stage`, so a table whose previous
    compaction died between the delete and the rename is promoted from
    its stage and then compacted.

    Partitioned tables keep their directory layout: rows shuffle on the
    partition columns (plus a deterministic salt when a single partition
    value exceeds the target size) so each output task writes exactly
    one file into one partition directory — a global round-robin
    repartition would have every task append to every partition and
    re-fragment the table.

    Compacting a structured-streaming sink directory is supported: the
    read honors the sink's ``_spark_metadata`` commit log (so uncommitted
    task files are excluded) and the swap retires that log — after
    compaction the directory is a plain batch table, so stop the writing
    query first.

    Returns {"before": stats, "after": stats, "n_output_slices": n}.
    """
    heal_stage(spark, path)
    before = table_file_stats(spark, path)
    target_bytes = target_file_mb * 1024 * 1024
    n_out = max(1, -(-before["total_bytes"] // target_bytes))

    df = spark.read.parquet(path)
    from pyspark.sql import functions as F

    if partition_by:
        # salt only when an average partition outgrows the target file
        n_parts = df.select(*partition_by).distinct().count()
        per_part = before["total_bytes"] / max(n_parts, 1)
        k = max(1, int(-(-per_part // target_bytes)))
        if k > 1:
            data_cols = [c for c in df.columns if c not in partition_by]
            salt = F.pmod(F.xxhash64(*data_cols), F.lit(k))
            df = df.repartition(n_parts * k, *partition_by, salt)
        else:
            df = df.repartition(*partition_by)
        n_out = n_parts * k
    else:
        df = df.repartition(n_out)

    write_swapped(df, path, partition_by, sort_by)
    return {
        "before": before,
        "after": table_file_stats(spark, path),
        "n_output_slices": n_out,
    }


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works over it.

    Equivalent of the reference's dbt source declarations
    (``dbt_pipeline_demo/models/schema.yml:3-14``).
    """
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
