#!/usr/bin/env python3
"""Per-query-isolated bench: one fresh JVM per headline query.

The full bench runs ~27 queries x 5 repeats in ONE JVM; heap state
accumulated by earlier queries (caches, JIT deopt, GC pressure) can
shift later queries' times by tens of percent on identical code — the
round-6 artifact showed broad carryover "regressions" that isolated
A/Bs disproved. This wrapper runs ``bench.py`` once per query in its
own subprocess (fresh JVM, fresh DuckDB, own warm-up), so every number
is free of cross-query contamination, and merges the per-query JSON
lines into one artifact of the same shape.

Cost: ~30-60s of JVM+cache setup per query — use for adjudicating
regressions, not for the quick loop.

Usage:  python scripts/isolated_bench.py [--out ISOLATED.json]
Env:    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_REPEATS
        pass through to each child bench.
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
from _posture import HEADLINE  # noqa: E402
from _provenance import provenance  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None,
                    help="write the merged artifact here (default: stdout)")
    ap.add_argument("--queries", default=None,
                    help="comma-separated registered queries "
                         "(default: all headliners)")
    args = ap.parse_args()

    names = (
        [q.strip() for q in args.queries.split(",") if q.strip()]
        if args.queries else list(HEADLINE)
    )
    merged: dict = {
        "metric": "headline_queries_total_sec_isolated",
        "unit": "sec",
        "queries": {},
        "queries_rel_spread": {},
        "duckdb_queries": {},
        "sf": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "isolation": "one fresh JVM + DuckDB per query",
    }
    for name in names:
        env = dict(os.environ, SPARK_GRAFT_ONLY=name)
        proc = subprocess.run(
            [sys.executable, str(REPO / "bench.py")],
            env=env, capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(f"# {name}: child bench failed\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            merged["queries"][name] = None
            continue
        one = json.loads(proc.stdout.strip().splitlines()[-1])
        merged["queries"][name] = one["queries"].get(name)
        merged["queries_rel_spread"][name] = one.get(
            "queries_rel_spread", {}
        ).get(name)
        if name in one.get("duckdb_queries", {}):
            merged["duckdb_queries"][name] = one["duckdb_queries"][name]
        print(f"# isolated {name}: {merged['queries'][name]}s "
              f"(duck {merged['duckdb_queries'].get(name)})",
              file=sys.stderr)
    timed = {k: v for k, v in merged["queries"].items() if v is not None}
    merged["value"] = round(sum(timed.values()), 3)
    duck_total = round(sum(merged["duckdb_queries"].values()), 3)
    spark_oracled = round(
        sum(timed[n] for n in merged["duckdb_queries"] if n in timed), 3
    )
    merged["duckdb_total_sec"] = duck_total
    merged["spark_oracled_sec"] = spark_oracled
    merged["ratio_vs_duckdb"] = (
        round(spark_oracled / duck_total, 3) if duck_total > 0 else None
    )
    merged["provenance"] = provenance()
    line = json.dumps(merged)
    if args.out:
        Path(args.out).write_text(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
