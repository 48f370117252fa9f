#!/usr/bin/env python3
"""Benchmark harness: runs the engine's headline queries and prints one JSON line.

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default: every core of the host)

Prints {"metric": ..., "value": <spark total sec>, "unit": "sec",
        "queries": {name: sec, ...}, "sf": ...,
        "duckdb_total_sec": ..., "duckdb_queries": {...},
        "spark_oracled_sec": ..., "ratio_vs_duckdb": ...,
        "driver_java_options": <the JIT posture's JVM flags, "" = C2 on>,
        "class_archive": <mapped | training | off, session.py>}.

The DuckDB baseline is measured IN-PROCESS, interleaved per query with the
Spark measurement, so sandbox contention (the dominant noise source on a
shared machine — rounds 2 and 3 recorded 2.7x swings on identical code)
hits both engines equally and the ratio stays meaningful even on a loaded
box. Spark times are the median of REPEATS runs; DuckDB times are the
median of DUCK_REPEATS runs of the same oracle SQL on the same parquet.
A frozen idle-machine snapshot lives in BASELINE_DUCKDB.json for
cross-checking.

Each query is materialized COMPLETELY on both engines, with no
driver/Python result conversion on either: Spark executes a noop-format
write (every column of every row computed — a count() action is NOT
used because Catalyst's join elimination + column pruning can strip
entire stages under count; pipe01's count plan at sf10 had 0 of the
full plan's 6 joins, timing the scan instead of the funnel), and DuckDB
executes CREATE TEMP TABLE AS (engine-side materialization, the
fetchall() Python-tuple tax removed — it dominated big-output oracles).

Known residual asymmetry (declared in the artifact's `methodology`
key): Spark's noop sink computes and DISCARDS rows while DuckDB's CTAS
also ALLOCATES AND STORES the result table — on big-output queries the
baseline pays a storage cost Spark doesn't, a mild pro-Spark bias. It
is accepted deliberately: every discard-style DuckDB alternative
measured something else entirely (an aggregate wrapper lets the
optimizer prune columns/joins — the exact count() bug this methodology
replaced), and the headline set's outputs are small relative to their
compute, so the skew is bounded by the result-write share of each
oracle's runtime.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections.abc import Mapping
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent / "scripts"))

import _posture as posture  # noqa: E402
from _posture import HEADLINE  # noqa: E402
from _provenance import provenance  # noqa: E402

from product_data_pipelining_spark.checks.oracle_compare import duck_connect
from product_data_pipelining_spark.registry import all_queries
from product_data_pipelining_spark.session import DEFAULT_CPUS, get_spark, jvm_posture

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = DEFAULT_CPUS
# Override for REPEATS below: a probe run at a big SF (scale_probe at
# sf5, say) sets it to trade median-of-5 for median-of-3.
_REPEATS_ENV = os.environ.get("SPARK_GRAFT_REPEATS")

posture.apply(SF_DIR, CPUS)

# SPARK_GRAFT_ONLY="q1,q2" restricts the headline set — the unit the
# per-query-isolated wrapper (scripts/isolated_bench.py) runs one fresh
# JVM around, and handy for quick A/Bs of a single plan.
_ONLY = os.environ.get("SPARK_GRAFT_ONLY")
if _ONLY:
    only = [q.strip() for q in _ONLY.split(",") if q.strip()]
    unknown = [q for q in only if q not in HEADLINE]
    if unknown:
        sys.exit(f"SPARK_GRAFT_ONLY names non-headline queries: {unknown}")
    HEADLINE = only

REPEATS = int(_REPEATS_ENV) if _REPEATS_ENV else 5  # spark: median of N full (plan + execute) runs
DUCK_REPEATS = REPEATS  # duckdb: same sample count for the oracle SQL


def mirror_path(env: Mapping[str, str]) -> Path | None:
    """Where a run mirrors its JSON line: ``BENCH_LAST.json`` for the
    headline run (every headline query at the default SF dir), nowhere
    for any other run.

    A caller that keeps only a 2000-char tail of stdout loses a longer
    line (round 11's did); the mirror is written from the SAME string in
    the SAME run, so a truncated tail can always be reconciled from the
    committed file. A ``SPARK_GRAFT_ONLY`` subset or
    a leg at its own ``SPARK_GRAFT_SF_DIR`` (every probe script names
    one) is not the headline run and must not overwrite it.
    """
    if env.get("SPARK_GRAFT_ONLY") or "SPARK_GRAFT_SF_DIR" in env:
        return None
    return Path(__file__).resolve().parent / "BENCH_LAST.json"


def main() -> None:
    specs = all_queries()
    spark = get_spark(app_name="pdp-bench", cpus=CPUS)
    con = duck_connect(SF_DIR)
    # Warm-up: run every headline plan once at the BENCH SF so JVM JIT,
    # whole-stage-codegen compilation, parquet reader setup, Python worker
    # spawn-up, and — critically — the one-time in-memory columnar cache
    # materialization of the base tables (SPARK_GRAFT_CACHE_TABLES) are
    # excluded from the measured steady-state times. (Warming at a smaller
    # SF leaves the bench-SF caches cold: the first timed run then pays a
    # ~10x cache-build penalty that has nothing to do with the plan.)
    # DuckDB gets one warm run per oracle at the bench SF (OS page cache,
    # catalog bind) for the same reason.
    def run_spark(df) -> None:
        # FULL materialization of every output column. Not count():
        # Catalyst's join elimination + column pruning can strip whole
        # stages from a count plan (pipe01's count plan has 0 of the
        # full plan's 6 joins), silently timing a different query.
        # The noop source computes and discards rows executor-side, so
        # no result transfer distorts big-output queries either.
        df.write.format("noop").mode("overwrite").save()

    def run_duck(sql: str) -> None:
        # engine-side materialization: the fetchall() Python-tuple
        # conversion was charging DuckDB a driver tax Spark's noop
        # write doesn't pay (23M-row ev02 spent most of its "query"
        # time building Python objects)
        con.execute(f"CREATE OR REPLACE TEMP TABLE __bench_out AS {sql}")

    for name in HEADLINE:
        try:
            run_spark(specs[name].fn(spark, SF_DIR))
        except Exception as exc:  # never let warm-up kill the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
    for name in HEADLINE:
        if specs[name].oracle is not None:
            try:
                run_duck(specs[name].oracle)
            except Exception as exc:
                print(f"# duck warmup {name} failed: {exc}", file=sys.stderr)

    # Steady-state timing, interleaved per query: spark median-of-N,
    # then duck median-of-N back-to-back, so any machine-wide
    # contention spike lands on both engines and cancels out of the
    # ratio. Between queries the JVM is GC-leveled so each query's
    # samples start from a comparable heap instead of its
    # predecessors' garbage — the round-6 artifact showed a broad
    # +20-60% heap-state "regression" on carryover queries that
    # isolated A/Bs disproved. Per-query relative spread is reported
    # in the artifact so a noisy sample is visible, not silently
    # absorbed; adjudicate any surprising per-query move with
    # scripts/isolated_bench.py (one fresh JVM per query) before
    # believing it. (A fully pass-interleaved loop was tried and
    # rejected: running 27 other queries between two samples of the
    # same query measures CPU-cache/JIT-cold re-entry — q1 3x slower
    # on identical plans — which is not the serving posture this
    # bench models.)
    timings: dict[str, float] = {}
    duck_timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        spec = specs[name]
        samples = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            run_spark(spec.fn(spark, SF_DIR))
            samples.append(time.perf_counter() - t0)
        med = statistics.median(samples)
        timings[name] = round(med, 3)
        spread[name] = round(
            (max(samples) - min(samples)) / med, 2
        ) if med > 0 else 0.0
        print(
            f"# {name}: {timings[name]:.3f}s (spread {spread[name]:.2f})",
            file=sys.stderr,
        )
        if spec.oracle is not None:
            try:
                dsamples = []
                for _ in range(DUCK_REPEATS):
                    t0 = time.perf_counter()
                    run_duck(spec.oracle)
                    dsamples.append(time.perf_counter() - t0)
                duck_timings[name] = round(statistics.median(dsamples), 3)
                print(f"#   duck: {duck_timings[name]:.3f}s", file=sys.stderr)
            except Exception as exc:  # a dead oracle must not kill the
                # bench; the query drops out of BOTH sides of the ratio
                print(f"# duck {name} failed: {exc}", file=sys.stderr)
        # level the heap before the next query's samples
        spark._jvm.System.gc()

    total = round(sum(timings.values()), 3)
    duck_total = round(sum(duck_timings.values()), 3)
    spark_oracled = round(sum(timings[n] for n in duck_timings), 3)
    ratio = round(spark_oracled / duck_total, 3) if duck_total > 0 else None
    line = json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_rel_spread": spread,
                "sf": SF_DIR,
                "cpus": CPUS,
                # the driver JVM's posture this headline ran under
                # (session.py): its JIT flags (the serving profile sets
                # none, so C2 stays on) and its class_archive state
                **jvm_posture(spark.sparkContext),
                "repeats": REPEATS,
                "only": HEADLINE if _ONLY else None,
                "duckdb_total_sec": duck_total,
                "duckdb_queries": duck_timings,
                "spark_oracled_sec": spark_oracled,
                "ratio_vs_duckdb": ratio,
                "methodology": (
                    "spark=noop-format write (compute+discard), "
                    "duckdb=CREATE TEMP TABLE AS (compute+store); "
                    "CTAS charges the baseline a result-storage cost "
                    "the noop sink does not pay on big-output queries"
                ),
                # which tree these numbers were measured on (r11
                # verdict: artifacts mixed timing/adjudication
                # provenances with only prose to reconcile them)
                "provenance": provenance(),
                # run-to-run spread bands for mechanically classifying
                # a per-query delta as jitter vs regression (r11 ask #5)
                "jitter_bands_artifact": "JITTER_SPREAD.json",
            }
    )
    print(line)
    mirror = mirror_path(os.environ)
    if mirror is not None:
        try:
            mirror.write_text(line + "\n")
        except OSError as exc:  # a read-only checkout must not kill the bench
            print(f"# bench mirror write failed: {exc}", file=sys.stderr)
    con.close()
    spark.stop()


if __name__ == "__main__":
    main()
