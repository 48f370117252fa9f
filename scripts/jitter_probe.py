#!/usr/bin/env python3
"""Run-to-run jitter bands for the headline set at the driver's SF.

The driver bench (BENCH_r*.json) is ONE bench.py invocation per round;
per-query deltas between rounds (r10→r11: sim09 0.18→0.53 s, sim06
1.40→1.83 s, ev02 2.24→2.66 s — all with zero plan change) have so far
been adjudicated in verdict prose. This probe commits the rebuttal as
an artifact: it runs the FULL driver posture (fresh process, bench.py,
interleaved DuckDB baseline, same SF) ``--attempts`` times and records,
per query, the band of per-attempt medians. A future round's
driver-tail delta is then mechanically classifiable: inside
[min, max] (plus the band's own resolution) = jitter; outside = a real
move worth an isolated_bench adjudication.

Usage:  python scripts/jitter_probe.py [--attempts 5] [--sf-dir ...]
Writes: JITTER_SPREAD.json at the repo root (referenced by bench.py's
``jitter_bands_artifact`` key, so every BENCH_r*.json points here).

Methodology notes: each attempt is a fresh process/JVM — the same
carryover regime as the driver's bench — so the bands capture
JIT/heap/cache variance BETWEEN invocations, which is exactly the noise
that separates two rounds' artifacts; within-attempt spread is already
reported per-run as queries_rel_spread. DuckDB bands are recorded too:
the baseline moves between rounds (r10 10.08 s → r11 9.47 s total) and
a ratio delta can come from either side.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(Path(__file__).resolve().parent))
from _provenance import provenance  # noqa: E402


def run_bench(sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def bands(samples_by_q: dict[str, list[float]]) -> dict[str, dict]:
    out = {}
    for q, xs in samples_by_q.items():
        if not xs:
            continue
        med = statistics.median(xs)
        out[q] = {
            "attempts": xs,
            "min": min(xs),
            "median": round(med, 3),
            "max": max(xs),
            "rel_band": round((max(xs) - min(xs)) / med, 2) if med else 0.0,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--attempts", type=int, default=5,
                    help="independent fresh-process bench.py runs")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--out", default="JITTER_SPREAD.json")
    args = ap.parse_args()

    spark_samples: dict[str, list[float]] = {}
    duck_samples: dict[str, list[float]] = {}
    totals, ratios = [], []
    for i in range(args.attempts):
        r = run_bench(args.sf_dir)
        totals.append(r["value"])
        if r.get("ratio_vs_duckdb"):
            ratios.append(r["ratio_vs_duckdb"])
        for q, t in r["queries"].items():
            spark_samples.setdefault(q, []).append(t)
        for q, t in (r.get("duckdb_queries") or {}).items():
            duck_samples.setdefault(q, []).append(t)
        print(f"# attempt {i + 1}/{args.attempts}: total {r['value']}s "
              f"ratio {r.get('ratio_vs_duckdb')}", file=sys.stderr)

    artifact = {
        "metric": "driver_bench_jitter_bands",
        "sf_dir": args.sf_dir,
        "attempts": args.attempts,
        "total_sec_band": {"attempts": totals, "min": min(totals),
                           "max": max(totals)},
        "ratio_vs_duckdb_band": {"attempts": ratios,
                                 "min": min(ratios) if ratios else None,
                                 "max": max(ratios) if ratios else None},
        "spark_bands": bands(spark_samples),
        "duckdb_bands": bands(duck_samples),
        "how_to_classify": (
            "Each attempt reproduces the driver's BENCH_r* posture "
            "(fresh process, full headline set, interleaved DuckDB). A "
            "future driver-tail value inside a query's [min, max] band "
            "is run-to-run jitter; outside it, re-measure with "
            "scripts/isolated_bench.py before reading it as a "
            "regression/improvement. Bands are attempt MEDIANS (each "
            "attempt is already median-of-REPEATS internally), so they "
            "bound between-invocation variance — JIT, heap carryover, "
            "page cache — not single-sample noise."
        ),
    }
    artifact["provenance"] = provenance()
    out_path = REPO / args.out
    out_path.write_text(json.dumps(artifact, indent=2) + "\n")
    wide = {q: b["rel_band"] for q, b in artifact["spark_bands"].items()}
    print(json.dumps({
        "artifact": out_path.name,
        "attempts": args.attempts,
        "total_band": [min(totals), max(totals)],
        "ratio_band": artifact["ratio_vs_duckdb_band"]["attempts"],
        "widest_5": dict(sorted(wide.items(), key=lambda kv: -kv[1])[:5]),
    }))


if __name__ == "__main__":
    main()
