#!/usr/bin/env python3
"""CPU strong-scaling probe: same data, growing core count.

The data-scaling probes (``scale_probe.py``) answer "does each plan stay
linear as the DATA grows"; this one answers the other half of the 100 TB
argument — "does each plan actually USE more executors when given them".
It runs ``bench.py`` on one fixed dataset (default the generated sf1) at
several ``local[N]`` core counts and records, per query, the speedup
from the smallest to the largest N and the parallel efficiency
(speedup / core-ratio). A plan bottlenecked on a single-threaded stage
(global window, driver loop, one-partition exchange) flattens out here
no matter how clean its data-scaling looks.

Usage:  python scripts/cpu_scaling_probe.py [--sf-dir /tmp/sf1]
                                            [--cores 4,8,16,32]
Writes: BENCH_CPUSCALE.json at the repo root.

Reading the artifact: queries under ``floor_sec`` at the smallest core
count are dominated by per-query fixed overhead (plan + scheduling, ~the
same at any N) and are reported but excluded from the headline
efficiency aggregate — a 0.05 s query cannot and need not speed up 8x.
The DuckDB baseline is skipped (SPARK_GRAFT_SKIP_DUCKDB=1): core-count
scaling of the Spark side is the only question here.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(Path(__file__).resolve().parent))
from _provenance import provenance  # noqa: E402

# below this Spark time at the SMALLEST core count a query is fixed-
# overhead-bound (scheduler + plan cost dominates compute) and its
# "speedup" is noise; it is recorded but kept out of the aggregate
FLOOR_SEC = 0.5


def run_bench(
    sf_dir: str, cpus: int, repeats: int, queries: str | None = None
) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SKIP_DUCKDB="1",
        SPARK_GRAFT_REPEATS=str(repeats),
    )
    if queries:
        env["SPARK_GRAFT_ONLY"] = queries
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sf1",
                    help="dataset to hold fixed (generate with "
                         "scale_probe.py --sf 1 first)")
    ap.add_argument("--cores", default="4,8,16,32",
                    help="comma-separated local[N] core counts, ascending")
    ap.add_argument("--repeats", type=int, default=5,
                    help="bench repeats per query (median taken); big-SF "
                         "multi-leg runs use 3 to fit one session")
    ap.add_argument("--queries", default=None,
                    help="comma-separated headline subset (default: all) "
                         "— for supplementary legs at a bigger SF where "
                         "specific queries outgrow the fixed floor")
    ap.add_argument("--out", default="BENCH_CPUSCALE.json",
                    help="artifact filename at the repo root")
    args = ap.parse_args()

    cores = [int(c) for c in args.cores.split(",")]
    assert cores == sorted(cores) and len(cores) >= 2
    if not os.path.isdir(args.sf_dir):
        raise SystemExit(
            f"{args.sf_dir} missing — run scale_probe.py --sf 1 first"
        )

    runs: dict[str, dict] = {}
    for n in cores:
        runs[str(n)] = run_bench(args.sf_dir, n, args.repeats, args.queries)
        print(f"# cores={n}: total {runs[str(n)]['value']}s",
              file=sys.stderr)

    lo, hi = str(cores[0]), str(cores[-1])
    core_ratio = cores[-1] / cores[0]
    speedup: dict[str, float] = {}
    efficiency: dict[str, float] = {}
    overhead_bound: list[str] = []
    for q, t_lo in runs[lo]["queries"].items():
        t_hi = runs[hi]["queries"].get(q)
        if not t_hi:
            continue
        s = round(t_lo / t_hi, 2)
        if t_lo < FLOOR_SEC:
            overhead_bound.append(q)
        else:
            speedup[q] = s
            efficiency[q] = round(s / core_ratio, 2)

    scalable_lo = sum(runs[lo]["queries"][q] for q in speedup)
    scalable_hi = sum(runs[hi]["queries"][q] for q in speedup)
    agg_speedup = round(scalable_lo / scalable_hi, 2) if scalable_hi else None

    artifact = {
        "metric": "cpu_strong_scaling_probe",
        "sf_dir": args.sf_dir,
        "cores": cores,
        "core_ratio": core_ratio,
        "per_core_runs": {
            n: {"total_sec": r["value"], "queries": r["queries"]}
            for n, r in runs.items()
        },
        "speedup_lo_to_hi": speedup,
        "parallel_efficiency": efficiency,
        "aggregate_speedup": agg_speedup,
        "aggregate_efficiency": (
            round(agg_speedup / core_ratio, 2) if agg_speedup else None
        ),
        "overhead_bound_excluded": sorted(overhead_bound),
        "floor_sec": FLOOR_SEC,
        "notes": (
            "Strong scaling on fixed data: speedup = t_smallN / t_largeN "
            "per query, efficiency = speedup / core-ratio (1.0 = perfect). "
            f"Queries under {FLOOR_SEC}s at {cores[0]} cores are fixed-"
            "overhead-bound (scheduler + plan cost, core-count-invariant) "
            "and excluded from the aggregate. Runs are back-to-back on "
            "one machine; judge relative speedups, not absolute seconds."
        ),
    }
    out_path = REPO / args.out
    artifact["provenance"] = provenance()
    out_path.write_text(json.dumps(artifact, indent=2) + "\n")
    print(json.dumps({
        "artifact": out_path.name,
        "aggregate_speedup": agg_speedup,
        "aggregate_efficiency": artifact["aggregate_efficiency"],
        "n_scalable": len(speedup),
        "n_overhead_bound": len(overhead_bound),
    }))


if __name__ == "__main__":
    main()
