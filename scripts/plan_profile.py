#!/usr/bin/env python3
"""Plan profiler: per-query plan shape + job/stage/task counts + timed
noop-write medians for the headline set.

For each query it records, in bench posture (cached tables, static
planning, sized shuffle partitions):

- ``plans/<round>/<query>_<tag>.txt`` — ``explain("formatted")`` output;
- jobs / stages / tasks triggered by ONE noop-write execution (via a
  per-query job group + the status tracker) — the fixed-overhead
  multiplier a contended scheduler pays per query;
- Exchange / BroadcastExchange / scan counts parsed from the plan;
- median wall time of N noop writes.

Usage: python scripts/plan_profile.py <round> <tag> [query ...]
Env:   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as bench.py,
       SPARK_GRAFT_REPEATS (default 3).
Writes plans/<round>/profile_<tag>.json and the per-query plan files.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))

import _posture as posture  # noqa: E402
from _provenance import provenance  # noqa: E402

_PLAN_NODE_RE = re.compile(r"^\s*\(\d+\)\s+(\S+)", re.MULTILINE)


# counted plan nodes, by name prefix (a node counts once per kind)
_NODE_KINDS = {
    "exchanges": ("Exchange",),
    "broadcast_exchanges": ("BroadcastExchange",),
    "sorts": ("Sort",),
    "scans": ("Scan", "InMemoryTableScan"),
    "python_eval": ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                    "MapInPandas", "FlatMapGroupsInPandas",
                    "FlatMapCoGroupsInPandas"),
    "aggregates": ("HashAggregate", "SortAggregate", "ObjectHashAggregate"),
    "windows": ("Window",),
}


def plan_counts(plan: str) -> dict:
    nodes = _PLAN_NODE_RE.findall(plan)
    counts = {k: sum(x.startswith(p) for x in nodes) for k, p in _NODE_KINDS.items()}
    return {**counts, "joins": sum("Join" in x for x in nodes), "total_nodes": len(nodes)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("round", help="plans/<round>/ receives the output")
    ap.add_argument("tag", help="suffix of every file written")
    ap.add_argument("queries", nargs="*",
                    help="queries to profile (default: the headline set)")
    args = ap.parse_args()

    from product_data_pipelining_spark.io import DEFAULT_SF_DIR
    from product_data_pipelining_spark.registry import all_queries
    from product_data_pipelining_spark.session import DEFAULT_CPUS, get_spark

    sf_dir = DEFAULT_SF_DIR
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    posture.apply(sf_dir, DEFAULT_CPUS)
    names = args.queries or posture.HEADLINE
    specs = all_queries()
    spark = get_spark(app_name=f"{args.round}-profile-{args.tag}")
    sc = spark.sparkContext
    out_dir = REPO / "plans" / args.round
    out_dir.mkdir(parents=True, exist_ok=True)

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm every requested query once (JIT, codegen, table caches)
    for name in names:
        try:
            run(specs[name].fn(spark, sf_dir))
        except Exception as exc:
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    results: dict[str, dict] = {}
    tracker = sc.statusTracker()
    for name in names:
        spec = specs[name]
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{args.tag}.txt").write_text(plan)

        group = f"{args.round}prof-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        run(df)
        first = time.perf_counter() - t0
        sc.setJobGroup("", "")
        job_ids = tracker.getJobIdsForGroup(group)
        stages = [
            tracker.getStageInfo(sid)
            for jid in job_ids
            for sid in getattr(tracker.getJobInfo(jid), "stageIds", [])
        ]
        stages = [si for si in stages if si is not None]

        samples = [first]
        for _ in range(max(0, repeats - 1)):
            t0 = time.perf_counter()
            run(df)
            samples.append(time.perf_counter() - t0)
        med = statistics.median(samples)
        results[name] = {
            "median_sec": round(med, 3),
            "samples": [round(s, 3) for s in samples],
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": sum(si.numTasks for si in stages),
            **plan_counts(plan),
        }
        print(
            f"# {name}: {med:.3f}s jobs={len(job_ids)} stages={len(stages)} "
            f"exch={results[name]['exchanges']} "
            f"bcast={results[name]['broadcast_exchanges']}",
            file=sys.stderr,
        )
        spark._jvm.System.gc()

    payload = {
        "metric": f"{args.round}_profile",
        "tag": args.tag,
        "sf": sf_dir,
        "cpus": DEFAULT_CPUS,
        "repeats": repeats,
        "queries": results,
        "provenance": provenance(),
    }
    out = out_dir / f"profile_{args.tag}.json"
    out.write_text(json.dumps(payload, indent=1))
    print(json.dumps({"written": str(out), "n": len(results)}))
    spark.stop()


if __name__ == "__main__":
    main()
