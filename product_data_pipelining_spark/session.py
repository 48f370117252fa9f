"""SparkSession factory tuned for both local testing and cluster scale.

The reference delegates execution to an in-process DuckDB
(``/root/reference/.dbt/profiles.yml:2-10``); here Catalyst/Tungsten play
that role. Every knob below is chosen for the 100 TB target:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion replace hand-tuned partition counts.
- ``autoBroadcastJoinThreshold`` raised to 32 MB: the 10 MB default
  dates to 1 GB-heap executors; any modern executor holds a 32 MB hash
  relation without pressure, and the extra headroom lets pruned
  single-column dimension key sets (e.g. a filtered custkey list)
  broadcast instead of forcing a fact-side exchange. AQE still demotes
  from RUNTIME sizes when an estimate lied upward.
- Arrow enabled: every pandas boundary (``toPandas``, pandas UDFs,
  ``applyInPandas``/``mapInPandas``) moves columnar batches, not rows.
- Shuffle partitions default to the local core count for tests; on a real
  cluster AQE coalesces from a deliberately high initial number, so we set
  a high ``initialPartitionNum`` and let AQE shrink it.
- Each profile also sets the driver JVM's JIT posture. The batch profile
  (the default) launches it C1-only (``-XX:TieredStopAtLevel=1``, with
  the tiered 240 MiB code cache kept): a one-shot refresh op in a fresh
  JVM spends about half its CPU in C2 compilation that never pays back
  before the process exits. A batch job that runs minutes of query or
  per-row work in one JVM repays C2 and passes ``TIERED_JIT`` to keep
  it. The test suite is such a job but stays C1-only, so the batch
  posture is what it exercises. The serving profile
  (``SPARK_GRAFT_AQE=0``) keeps full tiered compilation, because a
  long-lived session re-runs its hot code and C1-only code runs slower
  there (the warm headline bench 1.67x).
- Every profile starts the driver JVM from a persisted AppCDS class
  archive (``class_archive``), so a fresh JVM skips parsing the ~10k
  Spark classes it loads: perfbench ``full_refresh`` set-up CPU 8.7 ->
  5.6 s (median of 10 pairs, 4 cores). The archive lives at
  ``${XDG_CACHE_HOME:-~/.cache}/product_data_pipelining_spark/cds/``,
  one per JDK + Spark jar set. The first session trains it, which costs
  about 4 s more set-up CPU and a ~12 s dump when the JVM exits (this
  process waits for it at exit); delete that directory to drop it. The
  JVM refuses an archive while a conf dir on its classpath holds files,
  so a ``$SPARK_CONF_DIR`` holding only ``*.template`` files (Spark's
  default ``conf/``) is swapped for an empty engine-owned one, and one
  holding a real config (``spark-defaults.conf``) is kept and the JVM
  starts without an archive.
- Every parquet table the engine writes is zstd-compressed (parquet-mr's
  default level 3), set once here, so every writer inherits it: the
  runners' tables, ``io``'s writers, the upsert targets, the streaming
  sinks and the generator. Spark's default snappy left the six model
  tables 1.08x the bytes of the raw feed they are built from; zstd
  makes it 0.76x with no CPU change that perfbench can resolve (seed
  42, per table, snappy -> zstd: ``fact_prices`` 1,410,536 ->
  1,022,155 bytes, ``dim_products`` 119,392 -> 45,366,
  ``mart_price_by_category`` 131,127 -> 94,148; the other three are
  under 5 KB each). Level 1 gave 0.787x and level 19 0.699x at much
  more CPU. Readers need no setting: the codec is
  recorded per column chunk, so snappy tables written before (or by
  DuckDB, as perfbench seeds its snapshots) and tables that mix both
  codecs read as before.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from product_data_pipelining_spark import class_archive

# the one CPU rule: SPARK_GRAFT_CPUS if set, else every core of the host
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# The batch profile's driver JVM flags (module docstring). C1-only also
# shrinks the code cache to 48 MiB (the non-tiered default); a traced
# refresh op filled that ("Compiler has been disabled"), then failed to
# link a method handle and stopped its SparkContext, so the tiered
# default of 240 MiB is kept.
_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
BATCH_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
# extra_conf that gives a batch-profile job full tiered compilation back.
# The two batch jobs that run minutes of work in one JVM ran slower
# C1-only and pass it (4 cores, wall time, C1-only -> C2): the generator
# CLI at sf1 ~44 -> ~35 s; the correctness sweep (also the scale probe's
# at-scale check, run as its child) over the driver window at sf0.1
# 181/161 -> 161/138 s, though C1-only spent ~20% less CPU there.
# plans/report.py ran in the same wall time on half the CPU C1-only, so
# it keeps the batch posture.
TIERED_JIT = {_JAVA_OPTIONS: ""}


def available_ram_gb() -> int:
    """Host's currently-available RAM in GiB (MemAvailable, which
    counts reclaimable page cache — the honest budget for a new JVM).
    Falls back to total RAM, then to a conservative 16 GiB."""
    try:
        with open("/proc/meminfo") as f:
            info = dict(
                (line.split(":")[0], int(line.split()[1]))  # kB
                for line in f
                if ":" in line and line.split()[1:2]
            )
        kb = info.get("MemAvailable", info.get("MemTotal", 16 * 1024 * 1024))
        return max(1, kb // (1024 * 1024))
    except (OSError, ValueError, IndexError):
        return 16


def _default_heap_gb() -> int:
    """Default driver heap: a quarter of available RAM, clamped to
    [4, 24] GiB. 24g is the tuned ceiling for the 128 GiB probe box
    (32-way SHJ builds beside an sf10 table cache); hosts with less
    RAM scale down instead of inviting the OOM killer — in-process
    DuckDB (``checks.oracle_compare.duck_connect``) budgets its own
    quarter beside this."""
    return min(24, max(4, available_ram_gb() // 4))


def get_spark(
    app_name: str = "product_data_pipelining_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode entry point; on a cluster the same confs apply, minus
    ``master``. Callers in tests pass small ``cpus`` to keep JVM startup
    cheap.
    """
    cpus = cpus or DEFAULT_CPUS
    # Serving profile (SPARK_GRAFT_AQE=0 / SPARK_GRAFT_SHUFFLE_PARTITIONS=n):
    # AQE's per-stage materialization costs one scheduler job + a driver
    # replan round-trip per exchange — at cluster scale that latency is
    # noise against multi-minute stages, but for sub-second interactive
    # queries over cached small tables it IS the runtime (measured 2-6x
    # on the sf0.1 headline set). Dashboards/bench therefore run with
    # static planning and partitions sized to the actual data volume;
    # batch/cluster paths keep the adaptive defaults below.
    # The profile is also the JIT posture (module docstring): serving
    # keeps C2 for its warm re-runs, batch stops at C1 below.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    shuffle_partitions = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)
    )
    # One BLAS thread per Python worker: task-level parallelism is
    # Spark's job. Without this every numpy-kernel task spawns an
    # OpenBLAS pool sized to ALL machine cores — at local[32] that is
    # 32 workers x 32 BLAS threads = 1024 runnable threads, and sim01's
    # sf10 GEMM measured 8.9 s stable on 8 cores but 12-84 s THRASHING
    # on 32. Same rule a cluster deployment applies per executor core.
    # Set in our own env first (local-mode Python workers inherit the
    # driver's env through the JVM) and as executorEnv for cluster mode.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "BLIS_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # cluster-mode twin of the BLAS pinning above (local-mode
        # workers already inherit it via os.environ)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalesce respecting parallelism FIRST (the Spark default), not
        # purely by advisory size: with parallelismFirst=false a 343 MiB
        # 15M-row aggregate exchange at sf10 coalesced to ~6 of 32 cores
        # (64 MiB advisory) and the final agg ran 9.6 s vs 1.2 s — the
        # advisory size caps big-stage parallelism exactly when it
        # matters. Tiny stages still collapse: minPartitionSize (1 MiB)
        # bounds the split, so a 6 KiB result stage remains one task.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        # start high, let AQE coalesce down — on a 1000-executor cluster the
        # initial number should be ~2-3x total cores; locally core count
        # (or the serving profile's explicit count).
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        # 32 MB broadcast threshold (see module docstring): modern-heap
        # sizing so pruned dimension key sets broadcast; AQE can still
        # demote a lying estimate at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # --- pandas/Arrow boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet scan behavior ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- parquet write codec (module docstring): zstd at level 3 ---
        .config("spark.sql.parquet.compression.codec", "zstd")
        # 128 MB split targets keep partitions memory-safe at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # ANSI off: the reference (DuckDB via dbt) uses null-on-overflow /
        # null-on-bad-cast semantics (TRY_CAST), matching non-ANSI Spark.
        .config("spark.sql.ansi.enabled", "false")
        # deterministic timestamp semantics everywhere (streaming event
        # time, window boundaries) regardless of host timezone
        .config("spark.sql.session.timeZone", "UTC")
        # plan-string metadata (PushedFilters/ReadSchema lists) untruncated
        # so plan inspection/reporting sees the whole story
        .config("spark.sql.maxMetadataStringLength", "2000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode runs every executor thread inside the driver JVM, so
        # this is the TOTAL heap for scans + shuffles + the serving-mode
        # table caches. 8g starved 32-way ShuffledHashJoin builds next to
        # an sf10 cache (storageFraction protects cached blocks from
        # eviction); on a real cluster this maps to executor memory and
        # is sized per-node, not per-job. The default is derived from
        # the host's available RAM (bench.py runs a DuckDB baseline in
        # the same process, so the 24g ceiling must not be assumed on
        # smaller hosts — see _default_heap_gb).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", f"{_default_heap_gb()}g"),
        )
    )
    # The driver JVM's flags: the profile's JIT part (batch: C1-only,
    # where local mode runs every task; a caller's TIERED_JIT gives C2
    # back) plus the class archive's, which every profile carries.
    # defaultJavaOptions, not extraJavaOptions: Spark puts them ahead of
    # a caller's extraJavaOptions instead of being overwritten. They
    # apply only when this call launches the JVM. The engine takes this
    # slot over: a value a deployment's spark-defaults.conf puts here
    # (log4j, GC or agent flags) is replaced in batch sessions, so such
    # flags belong in extraJavaOptions there.
    extra = dict(extra_conf or {})
    jit = extra.pop(_JAVA_OPTIONS, BATCH_JAVA_OPTIONS if aqe else None)
    launching = SparkContext._gateway is None
    archive = class_archive.launch_options() if launching else ""
    if jit is not None or archive:
        builder = builder.config(
            _JAVA_OPTIONS, " ".join(o for o in (jit, archive) if o))
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if archive:
        class_archive.promote_at_exit(
            getattr(SparkContext._gateway, "proc", None), archive)
        class_archive.drop_if_refused(spark)
    return spark


def jvm_posture(sc: SparkContext) -> dict[str, str]:
    """A live driver JVM's posture: its JIT flags (``""`` = full tiered
    compilation) and whether it maps a class archive
    (``class_archive.state``)."""
    opts = sc.getConf().get(_JAVA_OPTIONS, "")
    return {
        "driver_java_options": " ".join(
            o for o in opts.split()
            if not o.startswith(class_archive.ARCHIVE_FLAGS)),
        "class_archive": class_archive.state(sc._jvm),
    }
