#!/usr/bin/env python3
"""Weak-scaling probe: data grows WITH the core count.

The 100 TB claim is a weak-scaling claim — a 1000-executor cluster does
not hold the data fixed while cores grow (strong scaling,
``cpu_scaling_probe.py``) but grows the data with the cluster. This
probe holds data-per-core constant (sf/cores = 0.3125 on the default
legs: local[4]@sf1.25, local[8]@sf2.5, local[16]@sf5, local[32]@sf10)
and reports per-query wall-time across the legs. Ideal weak scaling is
a FLAT line: each core keeps processing the same bytes, so wall-time is
constant; a query whose time grows with the leg index is paying a
super-linear term (a serial stage, an all-to-all that grows with total
data, an n log n sort) that a 100x scale-up would amplify.

Usage:  python scripts/weakscale_probe.py [--legs 4:1.25,8:2.5,16:5,32:10]
Writes: BENCH_WEAKSCALE.json at the repo root.

Reading the artifact: ``flatness`` per query = t_leg / t_first_leg
(ideal 1.0 at every leg); ``worst_flatness`` = max over legs. Bounded-
output queries (fixed query blocks / codebooks — sim02x, dd13, sim11
class) carry the same ~0.8-1.3 s Amdahl serial term already fitted in
``BENCH_CPUSCALE_SF10.json``: their small-leg times are floor-dominated
so their curves DROP below 1.0 as real work grows around the fixed
floor — that is the serial term, not super-linearity. n log n sorts
(a03's exact percentile) legitimately drift up at log(n) rate.
The DuckDB baseline is skipped: a single-threaded engine has no
weak-scaling story, and the question here is Spark's shape alone.
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

# below this Spark time on the FIRST leg a query's curve is fixed-per-
# job floor, not work (same rationale as cpu_scaling_probe.FLOOR_SEC);
# reported but excluded from the aggregate flatness
FLOOR_SEC = 0.5


def run_bench(sf_dir: str, cpus: int, repeats: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SKIP_DUCKDB="1",
        SPARK_GRAFT_REPEATS=str(repeats),
    )
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def ensure_data(sf: float) -> str:
    label = f"{sf:g}".replace(".", "_")
    path = f"/tmp/sf{label}"
    if not os.path.isdir(path):
        subprocess.run(
            [sys.executable, "-m",
             "product_data_pipelining_spark.sources.generator",
             "--sf", f"{sf:g}", "--out", path],
            cwd=REPO, check=True,
        )
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--legs", default="4:1.25,8:2.5,16:5,32:10",
                    help="comma-separated cores:sf pairs, ascending, "
                         "with constant sf/cores")
    ap.add_argument("--repeats", type=int, default=3,
                    help="bench repeats per query (median taken)")
    ap.add_argument("--out", default="BENCH_WEAKSCALE.json")
    args = ap.parse_args()

    legs = []
    for part in args.legs.split(","):
        c, sf = part.split(":")
        legs.append((int(c), float(sf)))
    assert legs == sorted(legs)
    per_core = {round(sf / c, 6) for c, sf in legs}
    assert len(per_core) == 1, f"sf/cores must be constant: {per_core}"

    runs: dict[str, dict] = {}
    for cores, sf in legs:
        sf_dir = ensure_data(sf)
        key = f"{cores}c_sf{sf:g}"
        runs[key] = run_bench(sf_dir, cores, args.repeats)
        print(f"# {key}: total {runs[key]['value']}s", file=sys.stderr)

    keys = list(runs)
    first = runs[keys[0]]["queries"]
    flatness: dict[str, dict[str, float]] = {}
    floor_bound: list[str] = []
    for q, t0 in first.items():
        if t0 < FLOOR_SEC:
            floor_bound.append(q)
            continue
        flatness[q] = {
            k: round(runs[k]["queries"][q] / t0, 2)
            for k in keys if runs[k]["queries"].get(q)
        }
    worst = {q: max(v.values()) for q, v in flatness.items()}
    # aggregate over the non-floor rows: total time per leg / first leg
    agg = {
        k: round(
            sum(runs[k]["queries"][q] for q in flatness
                if runs[k]["queries"].get(q))
            / sum(first[q] for q in flatness), 2
        )
        for k in keys
    }

    artifact = {
        "metric": "weak_scaling_probe",
        "legs": [{"cores": c, "sf": sf} for c, sf in legs],
        "sf_per_core": legs[0][1] / legs[0][0],
        "per_leg_runs": {
            k: {"total_sec": r["value"], "queries": r["queries"],
                "queries_rel_spread": r.get("queries_rel_spread")}
            for k, r in runs.items()
        },
        "flatness_vs_first_leg": flatness,
        "worst_flatness": worst,
        "aggregate_flatness_per_leg": agg,
        "floor_bound_excluded": sorted(floor_bound),
        "floor_sec": FLOOR_SEC,
        "notes": (
            "Weak scaling: data-per-core held constant across legs, so "
            "ideal wall-time is FLAT (flatness 1.0 at every leg). "
            "Curves below 1.0 on later legs = the first leg was "
            "dominated by the fixed per-job floor (the ~0.8-1.3 s "
            "serial term fitted in BENCH_CPUSCALE_SF10.json) and real "
            "work amortizes it; drift above 1.0 = a term growing with "
            "TOTAL data (n log n sort, growing broadcast, serial "
            "stage) — the number to explain. Queries under "
            f"{FLOOR_SEC}s on the first leg are excluded from the "
            "aggregate as floor-bound. Single-process local[N] legs "
            "share one box; judge shapes, not absolute seconds."
        ),
    }
    artifact["provenance"] = provenance()
    out_path = REPO / args.out
    out_path.write_text(json.dumps(artifact, indent=2) + "\n")
    print(json.dumps({
        "artifact": out_path.name,
        "aggregate_flatness_per_leg": agg,
        "n_flat_tracked": len(flatness),
        "n_floor_bound": len(floor_bound),
        "worst_3": dict(sorted(worst.items(), key=lambda kv: -kv[1])[:3]),
    }))


if __name__ == "__main__":
    main()
