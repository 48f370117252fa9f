#!/usr/bin/env python3
"""Same-process A/B of registered queries under two env arms.

Each arm's env overrides (``ENV=VAL[,ENV=VAL]``) apply only while that
arm's DataFrames are built, so both arms' plans live in one session, in
bench posture with the plan cache off (it memoizes per query, so the
second arm would reuse the first arm's plan). Before timing, it fails
if a query's arms plan identically (expression ids stripped; an env
read only at session build, such as ``SPARK_GRAFT_AQE``, changes
nothing here) or if their outputs differ under
``checks/oracle_compare.frames_match``. It then warms every plan and
times ``--reps`` noop writes per arm, alternating which arm leads, and
prints one JSON line with medians, raw samples and ``provenance()``.
``--out`` must name a file that does not exist yet.

Usage: python scripts/ab.py --queries q[,q...] --a ENV=VAL[,...]
           --b ENV=VAL[,...] [--dir SF_DIR] [--reps 7]
           [--out AB.json]
Env:   SPARK_GRAFT_CPUS / SPARK_GRAFT_SF_DIR (the --dir default) as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time
from collections.abc import Mapping
from pathlib import Path
from unittest import mock

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))

import _posture as posture  # noqa: E402
from _provenance import provenance  # noqa: E402

from product_data_pipelining_spark.checks.oracle_compare import frames_match  # noqa: E402
from product_data_pipelining_spark.io import DEFAULT_SF_DIR  # noqa: E402
from product_data_pipelining_spark.registry import all_queries  # noqa: E402

ARMS = ("a", "b")
# expression ids (#123, #45L), exchange plan ids and lambda variable
# names (x_1, x_3) differ between two builds of the same query; nothing
# else in an executed plan should
_PLAN_IDS = re.compile(r"#\d+L?|plan_id=\d+|(?<=lambda )\w+_\d+")


def parse_arm(spec: str) -> dict[str, str]:
    """``"A=1,B=x"`` -> ``{"A": "1", "B": "x"}``."""
    pairs = [kv.strip().split("=", 1) for kv in spec.split(",") if kv.strip()]
    if any(len(p) != 2 or not p[0] for p in pairs):
        raise ValueError(f"arm {spec!r} is not ENV=VAL[,ENV=VAL]")
    return dict(pairs)


def executed_plan(df) -> str:
    """The executed plan's text with build-specific ids stripped."""
    return _PLAN_IDS.sub("#", df._jdf.queryExecution().executedPlan().toString())


def run_ab(
    spark,
    sf_dir: str,
    queries: list[str],
    arms: Mapping[str, Mapping[str, str]],
    reps: int = 7,
    out: str | None = None,
) -> dict:
    """Build, check and time ``queries`` under ``arms["a"]`` and
    ``arms["b"]``; FileExistsError if ``out`` exists, ValueError if an
    arm pair plans identically or disagrees. Writes ``out`` if given."""
    if out is not None and Path(out).exists():
        raise FileExistsError(f"--out {out} exists; A/B results are never overwritten")
    specs = all_queries()
    dfs, plans = {}, {}
    for name in queries:
        for arm in ARMS:
            with mock.patch.dict(os.environ, {"SPARK_GRAFT_PLAN_CACHE": "0", **arms[arm]}):
                dfs[name, arm] = specs[name].fn(spark, sf_dir)
                plans[name, arm] = executed_plan(dfs[name, arm])
    same = [n for n in queries if plans[n, "a"] == plans[n, "b"]]
    if same:
        raise ValueError(f"arms plan identically for {same}: the A/B would time one plan twice")
    rows = {}
    for name in queries:
        got_a, got_b = (dfs[name, arm].toPandas() for arm in ARMS)
        ok, why = frames_match(got_a, got_b)
        if not ok:
            raise ValueError(f"{name}: arms' outputs differ: {why}")
        rows[name] = len(got_a)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for df in dfs.values():  # warm: JIT, codegen, caches, Python workers
        noop(df)
    samples: dict[tuple[str, str], list[float]] = {k: [] for k in dfs}
    keys = list(dfs)
    for rep in range(reps):
        for key in keys if rep % 2 == 0 else keys[::-1]:
            spark.sparkContext.setJobDescription(f"ab:{key[0]}:{key[1]}")
            t0 = time.perf_counter()
            noop(dfs[key])
            samples[key].append(round(time.perf_counter() - t0, 3))
        spark._jvm.System.gc()
    spark.sparkContext.setJobDescription(None)

    med = {k: round(statistics.median(v), 3) for k, v in samples.items()}
    result = {
        "metric": "ab", "dir": sf_dir, "reps": reps,
        "cpus": spark.sparkContext.defaultParallelism,
        "arms": {arm: dict(arms[arm]) for arm in ARMS},
        "posture": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
        "queries": {name: {
            "rows": rows[name], "plans_differ": True, "outputs_equal": True,
            "a_median_sec": med[name, "a"], "b_median_sec": med[name, "b"],
            "b_over_a": round(med[name, "b"] / med[name, "a"], 3) if med[name, "a"] else None,
            "a_samples": samples[name, "a"], "b_samples": samples[name, "b"],
        } for name in queries},
    }
    result["provenance"] = provenance()
    if out is not None:
        with open(out, "x") as f:
            f.write(json.dumps(result, indent=1) + "\n")
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--a", required=True, help="arm a: ENV=VAL[,ENV=VAL]")
    ap.add_argument("--b", required=True, help="arm b: ENV=VAL[,ENV=VAL]")
    ap.add_argument("--dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--out", default=None, help="new file for the JSON result")
    args = ap.parse_args()
    queries = [q.strip() for q in args.queries.split(",") if q.strip()]
    arms = {"a": parse_arm(args.a), "b": parse_arm(args.b)}

    from product_data_pipelining_spark.session import DEFAULT_CPUS, get_spark

    posture.apply(args.dir, DEFAULT_CPUS, plan_cache=False)
    spark = get_spark(app_name="ab")
    try:
        result = run_ab(spark, args.dir, queries, arms, args.reps, args.out)
    except (FileExistsError, ValueError) as exc:
        sys.exit(f"ab: {exc}")
    finally:
        spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
