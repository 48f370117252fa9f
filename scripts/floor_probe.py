#!/usr/bin/env python3
"""Fixed-overhead (floor) probe for the perennial sub-second queries.

Round-7/8 verdicts flagged a11 / ev05 / tp02 (and a tail of other
sub-second rows) as >2x DuckDB at every SF on absolute times under a
second, with the standing explanation "fixed JVM floor, not a plan
defect" — but no measured evidence. This probe produces the evidence:

For each query it measures the median noop-write wall time in ONE
fresh JVM per (query, SF) leg across SFs spanning 1000x data
(sf0.001 -> sf1), with the interleaved DuckDB CTAS baseline beside
each leg. If Spark's absolute time is ~flat while data grows 1000x
(and DuckDB's grows), the time is dominated by fixed per-job overhead
(JVM scheduling, stage launch, shuffle-partition bookkeeping) rather
than per-row compute — the distributed-engine tax at interactive
sizes, which disappears into noise at cluster-scale stage durations.

Writes FLOOR_PROBE.json at the repo root:
  {query: {sf_label: {"spark_median": s, "duck_median": s,
                      "spark_all": [...], "duck_all": [...]}},
   "flatness": {query: max_leg_median / min_leg_median}, ...}

Usage: python scripts/floor_probe.py [--queries a11_...,ev05_...]
       [--repeats 5]
Run it ALONE (no concurrent Spark/DuckDB work) — contention poisons
sub-second absolutes. Each leg is its own subprocess/JVM, so heap
carryover cannot contaminate (isolated_bench's lesson).
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

DEFAULT_QUERIES = [
    "a11_share_of_group_window",
    "ev05_funnel_conversion",
    "tp02_resample_gapfill",
]

SF_DIRS = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": "/tmp/sf1",
}

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_AQE", "0")
from product_data_pipelining_spark.session import get_spark
from product_data_pipelining_spark.registry import all_queries
from product_data_pipelining_spark.checks.oracle_compare import duck_connect

name, sf_dir, repeats = {name!r}, {sf_dir!r}, {repeats}
spec = all_queries()[name]
spark = get_spark(app_name=f"floor-{{name}}")
df = spec.fn(spark, sf_dir)
df.write.format("noop").mode("overwrite").save()  # warmup
con = duck_connect(sf_dir)
con.execute(f"CREATE TEMP TABLE _w AS ({{spec.oracle}})")
con.execute("DROP TABLE _w")
st, dt = [], []
for i in range(repeats):
    s = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    st.append(time.perf_counter() - s)
    s = time.perf_counter()
    con.execute(f"CREATE TEMP TABLE _t AS ({{spec.oracle}})")
    dt.append(time.perf_counter() - s)
    con.execute("DROP TABLE _t")
st.sort(); dt.sort()
print(json.dumps({{
    "spark_median": round(st[len(st)//2], 3),
    "duck_median": round(dt[len(dt)//2], 4),
    "spark_all": [round(x, 3) for x in st],
    "duck_all": [round(x, 4) for x in dt],
}}))
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--out", default=str(REPO / "FLOOR_PROBE.json"))
    args = ap.parse_args()

    result: dict = {
        "metric": "fixed_overhead_floor_probe",
        "method": (
            "one fresh JVM per (query, SF) leg; warmup + median of "
            f"{args.repeats} noop-format writes; interleaved DuckDB "
            "CTAS baseline per leg; data spans 1000x (sf0.001->sf1)"
        ),
        "legs": {},
        "flatness_spark": {},
        "flatness_duckdb": {},
    }
    for name in [q.strip() for q in args.queries.split(",") if q.strip()]:
        result["legs"][name] = {}
        for label, sf_dir in SF_DIRS.items():
            if not os.path.isdir(sf_dir):
                result["legs"][name][label] = {"error": "sf_dir_missing"}
                continue
            code = _CHILD.format(
                repo=str(REPO), name=name, sf_dir=sf_dir,
                repeats=args.repeats,
            )
            proc = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True, text=True, timeout=900,
            )
            try:
                leg = json.loads(proc.stdout.strip().splitlines()[-1])
            except Exception:
                leg = {"error": f"rc={proc.returncode}",
                       "stderr_tail": proc.stderr[-400:]}
            result["legs"][name][label] = leg
            print(f"# {name} {label}: {leg}", file=sys.stderr)
        meds = [
            leg["spark_median"]
            for leg in result["legs"][name].values()
            if "spark_median" in leg
        ]
        dmeds = [
            leg["duck_median"]
            for leg in result["legs"][name].values()
            if "duck_median" in leg
        ]
        if meds:
            result["flatness_spark"][name] = round(max(meds) / min(meds), 2)
        if dmeds:
            result["flatness_duckdb"][name] = round(
                max(dmeds) / min(dmeds), 2
            )
    result["provenance"] = provenance()
    with open(args.out, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(json.dumps({
        "artifact": os.path.basename(args.out),
        "flatness_spark": result["flatness_spark"],
        "flatness_duckdb": result["flatness_duckdb"],
    }))


if __name__ == "__main__":
    main()
