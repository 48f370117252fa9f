#!/usr/bin/env python3
"""Full-registry correctness sweep at an arbitrary scale factor.

The driver's gate value-checks 50 queries at sf0.01; the pytest sweep
covers all 134 oracled queries at sf0.001 + sf0.01. This script runs
the SAME contract (``checks/oracle_compare.py``) over the ENTIRE
registry at a bigger SF — driver testdata or generator output — and
writes ``CORRECTNESS_SF{label}.json`` so the "still correct at scale"
claim covers every query, not just the headline set. ``--queries``
checks only the named queries (e.g. every consumer of a changed
operator) and writes an artifact only when ``--out`` is given. Exits
non-zero on any mismatch or error.

Usage:  python scripts/correctness_sweep.py [--sf-dir /root/testdata/sf0.1]
            [--queries q,...] [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))
from _provenance import provenance  # noqa: E402

# results larger than this skip the pandas value compare (driver-memory
# bound) and record a distributed row-count check instead
MAX_COMPARE_ROWS = 2_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset (default: every query)")
    args = ap.parse_args()

    import duckdb

    from product_data_pipelining_spark.checks.oracle_compare import (
        duck_view_sql,
        frames_match,
    )
    from product_data_pipelining_spark.io import TPCH_TABLES
    from product_data_pipelining_spark.registry import all_queries
    from product_data_pipelining_spark.session import TIERED_JIT, get_spark

    specs = all_queries()
    if args.queries:
        names = [q.strip() for q in args.queries.split(",") if q.strip()]
        unknown = [q for q in names if q not in specs]
        if unknown:
            sys.exit(f"unknown queries: {unknown}")
        specs = {q: specs[q] for q in names}
    # minutes of query work in one JVM: C2 pays back (session.TIERED_JIT)
    spark = get_spark(app_name="pdp-correctness-sweep", extra_conf=TIERED_JIT)
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(duck_view_sql(args.sf_dir, t))

    results: dict[str, str] = {}
    t_start = time.time()
    for name, spec in specs.items():
        t0 = time.time()
        try:
            df = spec.fn(spark, args.sf_dir)
            if spec.oracle is None:
                results[name] = f"rows_only:{df.count()}"
                continue
            n = df.count()
            want_n = con.execute(
                f"SELECT COUNT(*) FROM ({spec.oracle})"
            ).fetchone()[0]
            if n != want_n:
                results[name] = f"ROWCOUNT_MISMATCH:{n}!={want_n}"
                continue
            if n > MAX_COMPARE_ROWS:
                results[name] = f"rowcount_only:{n}"
                continue
            ok, reason = frames_match(
                df.toPandas(), con.execute(spec.oracle).df()
            )
            results[name] = "match" if ok else f"MISMATCH:{reason}"
        except Exception as e:  # keep sweeping; the artifact records it
            results[name] = f"ERROR:{type(e).__name__}:{e}"[:300]
        finally:
            dt = time.time() - t0
            print(f"# {name}: {results.get(name, '?')[:60]} ({dt:.1f}s)",
                  flush=True)
    con.close()

    vals = list(results.values())
    summary = {
        "sf_dir": args.sf_dir,
        "total": len(vals),
        "match": sum(v == "match" for v in vals),
        "rows_only": sum(v.startswith("rows_only") for v in vals),
        "rowcount_only": sum(v.startswith("rowcount_only") for v in vals),
        "mismatch": sum("MISMATCH" in v for v in vals),
        "error": sum(v.startswith("ERROR") for v in vals),
        "wall_sec": round(time.time() - t_start, 1),
        "results": results,
    }
    summary["provenance"] = provenance()
    label = args.sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    out = Path(args.out) if args.out else (
        None if args.queries else REPO / f"CORRECTNESS_{label.upper()}.json"
    )
    if out is not None:
        out.write_text(json.dumps(summary, indent=1) + "\n")
    print(json.dumps({k: v for k, v in summary.items() if k != "results"}))
    spark.stop()
    if summary["mismatch"] or summary["error"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
